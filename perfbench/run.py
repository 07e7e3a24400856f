"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rmat_distributed --seed 1 --seconds 20 --trace 0

Run from the repository root. Inputs are pure functions of ``--seed``.
The run starts a ``local[nproc]`` session sized to the machine, sets the
workload up three times (session start + input build; the median is
``setup_s``), makes one untimed warm-up pass, then repeats the
workload's operator calls until ``--seconds`` have passed. Each call
gets a fresh temp dir and a Python + JVM GC before it; its time includes
collecting its output to the driver. Every output is then checked
against a NumPy oracle and every call's physical path against the
dispatch guard.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced repetitions and prints the per-layer metrics, with
``trace.overhead_ratio`` = traced / untraced median ``workload_s``; its
spans are written to ``.perfbench/traces/``.

Human-readable lines come first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every call ran, passed its check and took its expected path.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import spans as sp
import workloads
from workloads import SLOTS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3

# metric name -> unit, in print order. Per-call times are printed for
# people but are not end-to-end metrics: on a shared 4-core machine one
# call's time spreads too widely across runs to hold a bound; their sum
# and the per-layer ``<slot>.wall_s`` stand in for them.
END_TO_END = {
    "setup_s": "s",
    "workload_s": "s",
    "peak_rss_mb": "MiB",
}
CALL_TIMES = {f"{slot}_s": "s" for slot in SLOTS}
_CALL_LAYERS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "task_s": "s", "driver_s": "s", "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "task_skew": "ratio",
    "iterations": "count", "prepare_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.build_s": "s",
    "trace.overhead_ratio": "ratio",
    **{f"{slot}.{m}": unit for slot in SLOTS for m, unit in _CALL_LAYERS.items()},
    # both workloads iterate in these two slots
    "pagerank.iter_s": "s",
    "op3.iter_s": "s",
    "pagerank.edges_per_s": "1/s",
    "pagerank.block_bytes": "bytes",
    "pagerank.partition_skew": "ratio",
    "pagerank.iter_shuffle_bytes": "bytes",
}


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"{key} missing from /proc/meminfo")


def box() -> dict:
    """Cores, RAM and versions, recorded with every result."""
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return {
        "cores": os.cpu_count(),
        "ram_gib": round(_meminfo_kb("MemTotal") / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": (java.stderr.splitlines() or ["?"])[0],
    }


def session_conf(work: str) -> tuple[str, int, dict]:
    """``local[nproc]``, nproc shuffle partitions, and a driver heap of a
    quarter of physical RAM capped at 4 GiB, scratch inside ``work``."""
    cores = os.cpu_count() or 1
    heap_mb = max(1024, min(4096, _meminfo_kb("MemTotal") // 4 // 1024))
    return f"local[{cores}]", cores, {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.enabled": "true",
    }


def gc_both(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def stop_jvm() -> None:
    """Stop the session and the JVM, then wait until every process this
    one started (the JVM and its Python workers) has ended."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    started = sp.descendants()
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    # orphaned workers are no longer our children: poll, then signal
    alive = started
    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.monotonic() + 10
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if sp.running(p)]
            time.sleep(0.1)
        if not alive or sig is None:
            return
        for p in alive:
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, sig)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run(args, work: str) -> tuple[dict, int, int, bool]:
    from pagerank_spark.session import get_spark

    wl = workloads.make(args.workload, work)
    master, parts, conf = session_conf(work)
    tracer = sp.Tracer(f"{args.workload}-seed{args.seed}", enabled=bool(args.trace))
    env = box()
    print(f"# box {json.dumps(env)}")
    print(f"# session master={master} shuffle_partitions={parts} "
          f"driver_memory={conf['spark.driver.memory']}")

    # --- set-up, SETUPS times; the last session and input are kept
    t_start = time.monotonic()
    starts, builds, spark, inp = [], [], None, None
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        with tracer.span("setup", k=k):
            with tracer.span("session.start"):
                t0 = time.monotonic()
                spark = get_spark(app_name="perfbench", master=master,
                                  shuffle_partitions=parts, extra_conf=conf)
                t1 = time.monotonic()
            with tracer.span("sources.build"):
                inp = wl.build(spark, args.seed)
                t2 = time.monotonic()
        starts.append(t1 - t0)
        builds.append(t2 - t1)
    setup = [a + b for a, b in zip(starts, builds)]
    oracle = wl.oracle_input(inp)

    store = sp.StatusStore(spark) if args.trace else None
    attempted = failed = 0
    problems: list[str] = []
    reps: list[dict] = []  # {"traced", "times", "outs", "state", "layers"}

    def one_rep(traced: bool) -> dict:
        rep = {"traced": traced, "times": {}, "outs": {}, "state": {}, "layers": {}}
        for op, slot in wl.ops:
            gc_both(spark)
            call_dir = tempfile.mkdtemp(prefix=f"{op}-", dir=os.path.join(work, "calls"))
            tempfile.tempdir = call_dir
            group = f"{tracer.run_id}-r{len(reps)}-{op}"
            try:
                with tracer.span(op, slot=slot) as op_span, \
                     (store.group(group) if traced else contextlib.nullcontext()), \
                     (sp.count_rounds(tracer) if traced else contextlib.nullcontext()) as rounds:
                    e0, t0 = time.time(), time.monotonic()
                    out = wl.call(op, spark, inp, rep["state"], call_dir)
                    dt, e1 = time.monotonic() - t0, time.time()
            finally:
                tempfile.tempdir = None
                shutil.rmtree(call_dir, ignore_errors=True)
            rep["times"][op] = dt
            rep["outs"][op] = out
            if traced:
                layers, jobs = store.call_metrics(group, e0, e1)
                for j in jobs:
                    tracer.add("job", j["start"], j["end"], op_span["id"], job=j["job"])
                rep["layers"][op] = {**layers, "wall_s": dt, "rounds": rounds}
        return rep

    t_setup = time.monotonic()
    # --- warm-up: one untimed pass over the workload's warm-up input (a
    # small one of the same shape, capped at a few rounds, or the measured
    # one): it compiles the same plans and starts the Python workers, so
    # the first measured call pays neither
    with tracer.span("warmup"):
        measured = inp
        inp = wl.build(spark, args.seed + 1, small=True) or measured
        one_rep(traced=False)
        inp = measured
    t_warm = time.monotonic()

    # --- measured repetitions; with --trace 1, odd ones are traced
    t_end = time.monotonic() + args.seconds
    while True:
        traced = bool(args.trace) and len(reps) % 2 == 1
        try:
            with tracer.span("rep", traced=traced):
                rep = one_rep(traced)
        except Exception:
            traceback.print_exc()
            attempted += 1
            failed += 1
            problems.append("a call raised; see stderr")
            break
        reps.append(rep)
        done_traced = not args.trace or any(r["traced"] for r in reps)
        if time.monotonic() >= t_end and done_traced:
            break

    t_measured = time.monotonic()
    # --- checks and dispatch guard, outside the timed region
    for rep in reps:
        for op, _slot in wl.ops:
            attempted += 1
            out = rep["outs"][op]
            bad = []
            path = wl.path(op, rep["state"])
            if path != wl.expected_path[op]:
                bad.append(f"dispatch guard: took {path!r}, expected {wl.expected_path[op]!r}")
            try:
                bad += wl.check(op, out, oracle, rep["state"])
            except Exception as exc:  # a malformed output is a failed check
                bad.append(f"check raised {exc!r}")
            if bad:
                failed += 1
                problems += [f"{op}: {b}" for b in bad]

    print(f"# phases setup={t_setup - t_start:.1f}s warmup={t_warm - t_setup:.1f}s "
          f"measure={t_measured - t_warm:.1f}s checks={time.monotonic() - t_measured:.1f}s")
    # --- metrics
    plain = [r for r in reps if not r["traced"]]
    traced_reps = [r for r in reps if r["traced"]]
    slot_of = {slot: op for op, slot in wl.ops}
    samples = {
        "setup_s": setup,
        "workload_s": [sum(r["times"].values()) for r in plain],
        **{f"{slot}_s": [r["times"][slot_of[slot]] for r in plain] for slot in SLOTS},
        "peak_rss_mb": [sp.peak_rss_mb()],
    }
    print(f"# {args.workload} seed={args.seed} reps={len(plain)} "
          + " ".join(f"{slot}={op}" for slot, op in slot_of.items()))
    for name, unit in {**END_TO_END, **CALL_TIMES}.items():
        xs = samples[name]
        print(f"{name:<14} {unit:<4} n={len(xs):<2} median={median(xs):.4f} "
              f"max={max(xs) if xs else 0.0:.4f} samples={[round(x, 3) for x in xs]}")
    share = failed / attempted if attempted else 1.0
    print(f"{'failed_ops':<14} share n={attempted:<2} value={share:.4f}")
    for p in problems:
        print(f"# FAILED {p}")

    if not args.trace:
        metrics = {k: (median(samples[k]), END_TO_END[k]) for k in END_TO_END}
    else:
        metrics = per_layer(wl, plain, traced_reps, starts, builds, slot_of)
        for k, (v, unit) in metrics.items():
            print(f"{k:<28} {unit:<6} {v:.6g}")
        tracer.write(os.path.join(ROOT, ".perfbench", "traces", f"{tracer.run_id}.json"),
                     box=env, metrics={k: v for k, (v, _) in metrics.items()})
    return metrics, attempted, failed, not problems


def per_layer(wl, plain, traced_reps, starts, builds, slot_of) -> dict:
    out = {
        "session.start_s": median(starts),
        "sources.build_s": median(builds),
        "trace.overhead_ratio":
            median([sum(r["times"].values()) for r in traced_reps])
            / median([sum(r["times"].values()) for r in plain]),
    }
    for slot in SLOTS:
        op = slot_of[slot]
        layers = [r["layers"][op] for r in traced_reps]
        for m in _CALL_LAYERS:
            if m not in ("iterations", "prepare_s"):
                out[f"{slot}.{m}"] = median([lay[m] for lay in layers])
        # iterations: PageRank's own per-iteration metrics, else the
        # plans.iterate rounds recorded around the call
        iters, iter_s, prep = [], [], []
        for r, lay in zip(traced_reps, layers):
            res = wl.pagerank_result(op, r["state"])
            secs = ([m["seconds"] for m in res.metrics] if res is not None
                    else [b - a for a, b in lay["rounds"]])
            iters.append(len(secs))
            iter_s.append(median(secs))
            prep.append(lay["wall_s"] - sum(secs))
        out[f"{slot}.iterations"] = median(iters)
        out[f"{slot}.prepare_s"] = median(prep)
        if f"{slot}.iter_s" in PER_LAYER:
            out[f"{slot}.iter_s"] = median(iter_s)
    # the pagerank slot's block store, partition skew, SpMV rate and
    # per-iteration shuffle
    results = [wl.pagerank_result(slot_of["pagerank"], r["state"]) for r in traced_reps]
    lineages = [res.partition_lineage for res in results]
    out["pagerank.edges_per_s"] = median(
        [sum(m["edges_scanned"] for m in res.metrics) / sum(m["seconds"] for m in res.metrics)
         for res in results])
    out["pagerank.block_bytes"] = median(
        [sum((lin.get("partition_block_bytes") or {}).values()) for lin in lineages])
    out["pagerank.partition_skew"] = median([lin.get("skew_ratio", 1.0) for lin in lineages])
    out["pagerank.iter_shuffle_bytes"] = median(
        [sum((m.get("shuffle_read_bytes") or 0) + (m.get("shuffle_write_bytes") or 0)
             for m in res.metrics) for res in results])
    return {k: (float(out[k]), PER_LAYER[k]) for k in PER_LAYER}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("pagerank_spark/__init__.py", "__spark_entry__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    # The JVM and the Python workers inherit fd 1: point it at stderr so
    # nothing they print can split the result lines written here.
    sys.stdout.flush()
    sys.stdout = os.fdopen(os.dup(1), "w", buffering=1)
    os.dup2(2, 1)

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for sub in ("spark", "tmp", "calls"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import the engine; all scratch stays in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    sys.path.insert(0, ROOT)

    try:
        metrics, attempted, failed, ok = run(args, work)
    except Exception:  # set-up or warm-up failed: report, do not hang
        traceback.print_exc()
        metrics, attempted, failed, ok = {}, 1, 1, False
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
