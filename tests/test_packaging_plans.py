"""spark-submit --py-files shipping (north_rule) + Catalyst plan checks."""

import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from pagerank_spark.plans import plan_has

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

JOB = """
import sys
from pyspark.sql import SparkSession
import pagerank_spark  # must come from the shipped zip
from pagerank_spark import pagerank
spark = SparkSession.builder.getOrCreate()
edges = spark.createDataFrame(
    [(0,1),(0,3),(0,2),(1,2),(1,3),(2,0),(3,2),(3,0)], "src long, dst long")
res = pagerank(edges, n=4, dangling="leak", mode="broadcast")
top = {r["id"]: round(r["rank"], 4) for r in res.ranks.collect()}
assert res.converged and res.iterations == 12, (res.converged, res.iterations)
assert top[0] == 0.3681, top
print("PYFILES_JOB_OK", pagerank_spark.__file__)
"""


def test_spark_submit_py_files(tmp_path):
    """Ship the engine as a zip to a fresh spark-submit with NO repo on
    any python path — proves the --py-files deployment story."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = os.path.join(
            os.path.dirname(pyspark.__file__), "bin", "spark-submit"
        )
    assert os.path.exists(spark_submit), "spark-submit not found"

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from build_pyfiles import build

    zip_path = build(str(tmp_path / "pagerank_spark.zip"))
    job = tmp_path / "job.py"
    job.write_text(JOB)
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)
    }
    out = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=2",
            "--py-files", zip_path,
            str(job),
        ],
        cwd=str(tmp_path),  # NOT the repo: the zip is the only source
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "PYFILES_JOB_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-3000:]


def test_scan_prunes_columns_and_pushes_filters(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    assert plan_has(q, "PushedFilters")
    assert plan_has(q, "GreaterThan(l_quantity,30.0)")
    # only the two projected columns reach the scan
    import re

    from pagerank_spark.plans import explain_summary

    m = re.search(r"ReadSchema: struct<([^>]*)>", explain_summary(q))
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",")
    ) == {"l_orderkey", "l_quantity"}


def test_degree_agg_is_partial_plus_final(spark):
    from pagerank_spark import out_degrees
    from pagerank_spark.testing import synth_edges

    from pagerank_spark.plans import explain_summary

    deg = out_degrees(synth_edges(spark, n=100, e=1000, seed=1))
    s = explain_summary(deg)
    assert s.count("HashAggregate") >= 2  # map-side partial + final
    assert "partial_count" in s  # the map-side combine is really partial


def test_derive_resolution_is_broadcast_join(spark):
    from pagerank_spark.operators.derive import derive_edges
    from pagerank_spark.testing import synth_corpus

    edges = derive_edges(synth_corpus(spark, n_repos=8, files_per_repo=2))
    assert plan_has(edges, "BroadcastHashJoin")


def test_partition_pruning_on_lang_partitioned_corpus(spark, tmp_path):
    """The production corpus is partitioned (Iceberg hidden partitioning /
    hive layout here); a lang filter must prune partitions at the scan."""
    from pagerank_spark.testing import synth_corpus

    corpus = synth_corpus(spark, n_repos=10, files_per_repo=4)
    path = str(tmp_path / "warehouse_corpus")
    corpus.write.partitionBy("lang").parquet(path)
    q = (
        spark.read.parquet(path)
        .where(F.col("lang") == "python")
        .select("repo", "content")
    )
    from pagerank_spark.plans import explain_summary

    s = explain_summary(q)
    assert "PartitionFilters" in s and "lang" in s
    # correctness of the pruned read
    want = corpus.where(F.col("lang") == "python").count()
    assert q.count() == want


def test_pagerank_id_validation_errors(spark):
    from pagerank_spark import pagerank
    from pagerank_spark.testing import edges_df

    bad = edges_df(spark, [(0, 1), (1, 7)])  # id 7 out of range for n=3
    import pytest as _pytest

    with _pytest.raises(ValueError, match="densify_ids"):
        pagerank(bad, n=3, mode="local")
    with _pytest.raises(ValueError, match="densify_ids"):
        pagerank(bad, n=3, mode="broadcast")


def test_join_mode_checkpoint_resume(spark, tmp_path):
    import numpy as np

    from pagerank_spark import pagerank
    from pagerank_spark.testing import synth_edges

    e = synth_edges(spark, n=150, e=1200, seed=17).cache()
    full = pagerank(e, n=150, dangling="redistribute", mode="join")
    ck = str(tmp_path / "jck")
    part = pagerank(
        e, n=150, dangling="redistribute", mode="join", max_iter=3,
        checkpoint_dir=ck,
    )
    assert not part.converged
    resumed = pagerank(
        e, n=150, dangling="redistribute", mode="join",
        checkpoint_dir=ck, resume=True,
    )
    assert resumed.converged
    assert resumed.iterations == full.iterations
    a = {r["id"]: r["rank"] for r in resumed.ranks.collect()}
    b = {r["id"]: r["rank"] for r in full.ranks.collect()}
    np.testing.assert_allclose(
        [a[i] for i in range(150)], [b[i] for i in range(150)], atol=1e-12
    )
    e.unpersist()


def test_triangles_no_cartesian_product(spark):
    from pagerank_spark import triangle_count
    from pagerank_spark.testing import synth_edges

    t = triangle_count(synth_edges(spark, n=50, e=300, seed=2))
    from pagerank_spark.plans import explain_summary

    assert "CartesianProduct" not in explain_summary(t)


def test_driver_contract_key_consistency():
    """Every oracle belongs to a query; key typos would silently turn a
    value-checked query into rows-only (or crash the driver's gate)."""
    import __spark_entry__ as m

    q = set(m.queries())
    o = set(m.oracle_sql())
    assert o <= q, f"oracles without queries: {sorted(o - q)}"
    # the engine's contract: only hash-seeded production variants and
    # documented approximations may lack an oracle
    allowed_rows_only = {
        "doc_fingerprints", "minhash_bands", "minhash_dup_pairs",
        "simhash", "simhash_near_pairs", "simhash_dedup",
        "dedup_near_docs", "pagerank_two_phase",
        # HLL sketch estimation has no ANSI equivalent; the exact
        # neighborhood_function twin carries the value check
        "hyper_anf",
        # d x d eigendecomposition (driver NumPy over the distributed
        # covariance) has no ANSI equivalent; embedding_covariance is
        # the oracled half, the NumPy replay is pytest-pinned
        "embedding_pca",
    }
    assert q - o == allowed_rows_only


def test_all_oracles_parse_in_duckdb():
    """EXPLAIN every oracle against sf0.001 views: a DuckDB syntax or
    binding regression fails here in seconds, without Spark."""
    import duckdb

    import __spark_entry__ as m

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.001/{t}.parquet'"
        )
    for name, sql in m.oracle_sql().items():
        try:
            con.execute("EXPLAIN " + sql)
        except Exception as ex:
            raise AssertionError(f"oracle {name!r} failed to plan: {ex}")


def test_iterate_harness_semantics(spark):
    """Do-while, checkpointed rounds, convergence short-circuit, the
    max_iter warning and the fixed-horizon mode of the generic BSP
    driver."""
    import warnings

    from pyspark.sql import functions as F

    from pagerank_spark.plans.iterate import iterate

    s0 = spark.range(10).select(F.col("id"), F.lit(0).alias("v"))

    # converges when every v reaches 3
    out, rounds, done = iterate(
        s0,
        lambda s, r: s.select("id", (F.col("v") + 1).alias("v")),
        lambda prev, new, r: new.agg(F.min("v")).collect()[0][0] >= 3,
        max_iter=10,
    )
    assert (rounds, done) == (3, True)
    assert out.agg(F.max("v")).collect()[0][0] == 3

    # max_iter exhaustion warns when asked
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        _out, rounds, done = iterate(
            s0,
            lambda s, r: s.select("id", (F.col("v") + 1).alias("v")),
            lambda prev, new, r: False,
            max_iter=2,
            warn="stalled",
        )
    assert (rounds, done) == (2, False)
    assert any("stalled" in str(x.message) for x in w)

    # plans stay O(1): a checkpointed state's plan does not grow
    _out2, _, _ = iterate(
        s0,
        lambda s, r: s.select("id", (F.col("v") + 1).alias("v")),
        lambda prev, new, r: False,
        max_iter=8,
    )
    assert len(_out2._jdf.queryExecution().optimizedPlan().toString()) < 2000

    # fixed horizon (converged=None): exactly max_iter rounds, no probe,
    # and the plan stays O(1) under the sparser checkpoint cadence
    seen = []

    def _count_step(s, r):
        seen.append(r)
        return s.select("id", (F.col("v") + 1).alias("v"))

    out3, rounds, done = iterate(s0, _count_step, None, max_iter=8)
    assert (rounds, done, seen) == (8, True, list(range(1, 9)))
    assert tuple(out3.agg(F.min("v"), F.max("v")).first()) == (8, 8)
    assert len(out3._jdf.queryExecution().optimizedPlan().toString()) < 2000


def test_linkpred_and_cooccur_no_cartesian(spark):
    """The wedge joins must stay equi-joins — a fallback to
    CartesianProduct would be the 100 TB scale-killer."""
    from pagerank_spark.operators.cooccur import cooccurrence_graph
    from pagerank_spark.operators.linkpred import link_prediction
    from pagerank_spark.plans import explain_summary
    from pagerank_spark.testing import synth_edges

    e = synth_edges(spark, n=50, e=300, seed=2)
    assert "CartesianProduct" not in explain_summary(link_prediction(e))
    co = cooccurrence_graph(
        e.selectExpr("src as k", "dst as i"), "k", "i"
    )
    assert "CartesianProduct" not in explain_summary(co)


def test_snap_write_read_roundtrip(spark, tmp_path):
    from pagerank_spark.sources.snap import read_snap_edges, write_snap_edges
    from pagerank_spark.testing import synth_edges

    e = synth_edges(spark, n=40, e=200, seed=6)
    n, ec = write_snap_edges(e, str(tmp_path / "g"), first_node=1)
    assert ec == 200
    e2, n2, ec2 = read_snap_edges(spark, str(tmp_path / "g"), first_node=1)
    assert (n2, ec2) == (n, ec)
    assert sorted((r["src"], r["dst"]) for r in e.collect()) == sorted(
        (r["src"], r["dst"]) for r in e2.collect()
    )


def test_bucketed_edges_join_without_exchange(spark, tmp_path):
    """Two scans of a src-bucketed edge table join with NO Exchange on
    either side (the pay-once partitioning that makes per-iteration
    gathers and adjacency self-joins shuffle-free at scale)."""
    from pagerank_spark.plans import explain_summary
    from pagerank_spark.sources.tables import read_bucketed, write_bucketed

    edges = spark.range(0, 20000).selectExpr(
        "id % 503 AS src", "id % 509 AS dst"
    )
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        write_bucketed(edges, "test_e_bkt", 8, "src")
        t = read_bucketed(spark, "test_e_bkt")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = t.alias("a").join(t.alias("b"), "src")
        plan = explain_summary(j)
        assert "Exchange" not in plan, plan
        assert "Bucketed: true" in plan, plan
        # the join still computes the right thing
        expected = (
            edges.alias("a").join(edges.alias("b"), "src").count()
        )
        assert j.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS test_e_bkt")


def test_trussness_checkpoint_resume(spark, tmp_path):
    """E5 durable resume extended to the round-4 H-index fixpoints
    (VERDICT r04 item 9): a trussness run killed after 1 round resumes
    from the parquet manifest and finishes bit-identical to the
    uninterrupted run."""
    from pagerank_spark.operators.cores import trussness
    from pagerank_spark.testing import synth_edges

    e = synth_edges(spark, n=60, e=500, seed=23).cache()
    full = {(r["a"], r["b"]): r["trussness"] for r in trussness(e).collect()}
    ck = str(tmp_path / "truss_ck")
    # killed run: budget exhausted after one round (fixpoint needs >1)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        trussness(e, max_iter=1, checkpoint_dir=ck).collect()
    resumed = {
        (r["a"], r["b"]): r["trussness"]
        for r in trussness(e, checkpoint_dir=ck, resume=True).collect()
    }
    assert resumed == full
    e.unpersist()


def test_matching_checkpoint_resume(spark, tmp_path):
    """maximal_matching on the iterate harness: resume restores BOTH
    state halves (matched + live) and the round counter, so the
    per-round hash draws — and therefore the final matching — are
    identical to the uninterrupted run."""
    from pagerank_spark.operators.mis import maximal_matching
    from pagerank_spark.testing import synth_edges

    e = synth_edges(spark, n=80, e=600, seed=29).cache()
    full = {(r["a"], r["b"]) for r in maximal_matching(e).collect()}
    ck = str(tmp_path / "match_ck")
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        partial = maximal_matching(e, max_iter=1, checkpoint_dir=ck)
        n_partial = partial.count()
    resumed = {
        (r["a"], r["b"])
        for r in maximal_matching(e, checkpoint_dir=ck, resume=True).collect()
    }
    assert resumed == full
    assert n_partial <= len(full)
    # matching invariant on the resumed result: vertex-disjoint
    seen = set()
    for a, b in resumed:
        assert a not in seen and b not in seen
        seen.update((a, b))
    e.unpersist()


def test_tpch_join_suite_plans_and_values(spark):
    """The TPC-H-style relational gates: nation/region ride broadcast
    joins (dims are tiny at any scale), the segment + date predicates
    reach the parquet scans, and the decimal revenue term keeps the
    aggregate exact (order-independent)."""
    import __spark_entry__ as entry
    from pagerank_spark.plans import plan_has

    q5 = entry.q_nation_revenue(spark, SF_DIR)
    assert plan_has(q5, "BroadcastHashJoin")
    q3 = entry.q_shipping_priority(spark, SF_DIR)
    assert plan_has(q3, "PushedFilters")
    assert plan_has(q3, "IsNotNull(c_mktsegment)") or plan_has(
        q3, "EqualTo(c_mktsegment,BUILDING)"
    )
    rows = q3.collect()
    assert len(rows) <= 10
    # top-10 revenue ordering is non-increasing
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    q10 = entry.q_returned_items(spark, SF_DIR)
    assert plan_has(q10, "EqualTo(l_returnflag,R)")
    got = q10.collect()
    assert all(r["revenue"] > 0 for r in got)
