"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark, the matching
``oracle_sql()`` on DuckDB (tables pre-registered as views), and
compares row count, column names (sorted), and values (sorted rows,
exact for non-floats, 1e-9 for floats). Prints a per-query verdict.
"""

from __future__ import annotations

import math
import os
import sys
import time
from pathlib import Path

import duckdb

# the checkout this script lives in, so a second checkout (the other
# side of an A/B) checks its own engine; Python workers import it from
# PYTHONPATH, which the session's JVM passes on
ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import __spark_entry__ as entrymod
from pagerank_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    # raw values, no rounding: the exactness report below must reflect
    # what a strict value-hash over the rows would see
    return v


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    return sorted(out, key=lambda t: tuple((x is None, str(type(x)), x) for x in t))


def values_match(a, b):
    """Returns (ok, why, exact) — exact=True means EVERY value compared
    bit-identical (a strict value-hash over the rows would match too)."""
    if len(a) != len(b):
        return False, "row count", False
    exact = True
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False, "width", False
        for va, vb in zip(ra, rb):
            if isinstance(va, float) or isinstance(vb, float):
                if va is None or vb is None:
                    if va is not vb:
                        return False, f"{va!r} != {vb!r}", False
                elif float(va) != float(vb):
                    if not math.isclose(
                        float(va), float(vb), rel_tol=0, abs_tol=1e-9
                    ):
                        return False, f"{va!r} != {vb!r}", False
                    exact = False
            elif va != vb:
                return False, f"{va!r} != {vb!r}", False
    return True, "", exact


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # scale-dependent oracles (converged-PageRank unroll depth) must be
    # built for the SAME graph the comparison runs on
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    only = sys.argv[2:] if len(sys.argv) > 2 else None
    # get_spark's defaults: local[$SPARK_GRAFT_CPUS] with as many shuffle
    # partitions (all cores and 32 when unset), half the RAM as heap
    spark = get_spark()
    con = duckdb.connect()
    # big oracles (triangles/CC on dense graphs) can spill: keep DuckDB's
    # temp storage out of the repo and bound its memory
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    con.execute("SET memory_limit='24GB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    ran = [name for name in qs if not only or name in only]
    for name in ran:
        fn = qs[name]
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in oracles:
            print(
                f"rows  {name}: {len(srows)} rows, cols={scols} "
                f"({time.monotonic()-t0:.1f}s) [no oracle — rows-only]"
            )
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = rel.columns
            dtypes = [str(t) for t in rel.types]
            drows = rel.fetchall()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        # DuckDB widens sum(BIGINT) to HUGEINT (int128), which the
        # driver's value-hasher canonicalizes differently from Spark's
        # int64 even when every value is equal (the round-4 red rows).
        # Python's fetchall() converts HUGEINT to int, so THIS comparison
        # can't see the divergence — forbid the types outright.
        wide = [
            (c, t) for c, t in zip(dcols, dtypes)
            if "HUGEINT" in t or "DECIMAL" in t
        ]
        if wide:
            print(
                f"FAIL  {name}: oracle emits driver-hash-unsafe column "
                f"type(s) {wide} — CAST to BIGINT/DOUBLE in the SQL"
            )
            failed.append(name)
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL  {name}: cols spark={sorted(scols)} duck={sorted(dcols)}")
            failed.append(name)
            continue
        if len(srows) != len(drows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(drows)}")
            failed.append(name)
            continue
        ka = rows_key(srows, scols)
        kb = rows_key(drows, dcols)
        ok, why, exact = values_match(ka, kb)
        if ok:
            tag = "bit-exact" if exact else "within 1e-9 (HASH RISK)"
            print(
                f"OK    {name}: {len(srows)} rows match, {tag} "
                f"({time.monotonic()-t0:.1f}s)"
            )
        else:
            print(f"FAIL  {name}: value mismatch: {why}")
            for x, y in list(zip(ka, kb))[:2000]:
                if x != y:
                    print(f"      spark={x}\n      duck ={y}")
                    break
            failed.append(name)
    print(f"\n{len(ran) - len(failed)}/{len(ran)} ok; failed: {failed}")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
