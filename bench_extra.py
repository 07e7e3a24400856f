"""Per-query solo benchmark + plan capture (round-6 optimization tool).

NOT part of the frozen driver contract (bench.py is the measured
artifact). This harness times individual declared queries with the
same methodology as bench.py (build DataFrame, .count(), wall time),
optionally repeats, and can dump .explain("formatted") to a file.

Usage:
  python bench_extra.py q1 q2 ...            # time queries (1 run each)
  python bench_extra.py --runs 2 q1 ...      # best-of-N
  python bench_extra.py --explain plans/r06 --suffix before q1 ...
  python bench_extra.py --noop q1 ...        # noop sink instead of count
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--explain", default=None,
                    help="directory to write <query>_<suffix>.txt plans")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--noop", action="store_true",
                    help="time with noop sink (computes every column)")
    ap.add_argument("--no-time", action="store_true",
                    help="only dump plans, skip timing")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from pagerank_spark.session import get_spark

    spark = get_spark(
        app_name="bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    qs = entrymod.queries()
    out = {}
    for name in args.names:
        if name not in qs:
            print(f"# missing query {name}", file=sys.stderr)
            continue
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = qs[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.explain, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"# wrote {path}", file=sys.stderr)
            del df
        if args.no_time:
            continue
        best = None
        rows = 0
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.monotonic()
            df = qs[name](spark, SF_DIR)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
                rows = -1
            else:
                rows = df.count()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
            del df
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        out[name] = round(best, 3)
        print(f"# {name}: {rows} rows in {out[name]}s", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
