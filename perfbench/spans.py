"""Spans, Spark job-group attribution and process memory for the benchmark.

Everything here observes the engine from outside:

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory
  and writes them out once, at the end of a traced run.
- ``StatusStore`` reads one job group's jobs, stages and tasks from
  Spark's monitoring REST API (the status store ``plans/metrics.py``
  also reads) and reduces them to per-call layer metrics.
- ``count_rounds`` wraps ``plans.iterate.iterate``, the engine's round
  loop, so a traced call records one span per round.
- ``peak_rss_mb`` reads the driver JVM's and this process's peak
  resident set from ``/proc``.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
import statistics
import sys
import time
import urllib.request


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the block (a no-op when disabled)."""
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs):
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "run": self.run_id,
                               "parent": parent, "start": start, "end": end, **attrs})

    def write(self, path: str, **meta) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**meta, "spans": self.spans}, f)


def _epoch(stamp: str) -> float:
    """``2026-10-16T18:33:01.123GMT`` -> seconds since the epoch."""
    dt = datetime.datetime.strptime(stamp[:-3], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StatusStore:
    """One Spark application's jobs, stages and tasks, per job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        if not self.sc.uiWebUrl:
            raise RuntimeError("tracing needs spark.ui.enabled=true")
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    @contextlib.contextmanager
    def group(self, group_id: str):
        """Tag every job the block starts with ``group_id``."""
        self.sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _settled_jobs(self, group_id: str, timeout_s: float = 20.0) -> list[dict]:
        """The group's jobs once the async listener bus has posted all of
        them as finished (two identical consecutive reads)."""
        want = set(self.sc.statusTracker().getJobIdsForGroup(group_id))
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group_id]
            done = (want <= {j["jobId"] for j in jobs}
                    and all(j["status"] != "RUNNING" for j in jobs))
            key = [(j["jobId"], j["status"], j.get("completionTime")) for j in jobs]
            if (done and key == prev) or time.monotonic() > deadline:
                return jobs
            prev = key
            time.sleep(0.05)

    def call_metrics(self, group_id: str, t0: float, t1: float) -> tuple[dict, list[dict]]:
        """Layer metrics of the calls tagged ``group_id`` over ``[t0, t1]``
        (epoch seconds), plus the group's jobs as ``{job, start, end}``."""
        jobs = self._settled_jobs(group_id)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            for att in self._get(f"/stages/{sid}?details=false"):
                if att["status"] in ("COMPLETE", "FAILED"):
                    stages.append(att)
        sum_max = sum_med = 0.0
        for st in stages:
            tasks = self._get(f"/stages/{st['stageId']}/{st['attemptId']}/taskList"
                              f"?length={max(st['numTasks'], 1)}")
            run = [t.get("taskMetrics", {}).get("executorRunTime", t.get("duration", 0))
                   for t in tasks]
            if run:
                sum_max += max(run)
                sum_med += statistics.median(run)
        spans = [{"job": j["jobId"], "start": _epoch(j["submissionTime"]),
                  "end": _epoch(j["completionTime"]) if j.get("completionTime") else t1}
                 for j in jobs if j.get("submissionTime")]
        covered = _covered([(s["start"], s["end"]) for s in spans], t0, t1)
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(st["numCompleteTasks"] for st in stages),
            "task_s": sum(st["executorRunTime"] for st in stages) / 1000.0,
            "driver_s": (t1 - t0) - covered,
            "shuffle_read_bytes": sum(st["shuffleReadBytes"] for st in stages),
            "shuffle_write_bytes": sum(st["shuffleWriteBytes"] for st in stages),
            "spill_bytes": sum(st["diskBytesSpilled"] for st in stages),
            # straggler-bound stage time over balanced stage time
            "task_skew": sum_max / sum_med if sum_med > 0 else 1.0,
        }, spans


@contextlib.contextmanager
def count_rounds(tracer: Tracer):
    """Within the block, every ``plans.iterate.iterate`` round is recorded
    as a ``round`` span (step start to convergence probe end); yields the
    list of ``(start, end)`` round intervals."""
    import pagerank_spark.plans.iterate as it_mod

    original = it_mod.iterate
    rounds: list[tuple[float, float]] = []

    def traced_iterate(state, step, converged, *args, **kwargs):
        open_round = {}

        def step_(s, r):
            open_round["t"] = time.time()
            return step(s, r)

        def converged_(prev, new, r):
            try:
                return converged(prev, new, r)
            finally:
                rounds.append((open_round.pop("t"), time.time()))

        return original(state, step_, converged_, *args, **kwargs)

    # operators bind ``iterate`` at import or at call time: patch both
    patched = [m for m in list(sys.modules.values())
               if getattr(m, "__name__", "").startswith("pagerank_spark")
               and getattr(m, "iterate", None) is original]
    for m in patched:
        m.iterate = traced_iterate
    try:
        yield rounds
    finally:
        for m in patched:
            m.iterate = original
        parent = tracer._stack[-1] if tracer._stack else None
        for k, (a, b) in enumerate(rounds, 1):
            tracer.add("round", a, b, parent, round=k)


def _status(pid: int) -> dict:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                key, _, val = line.partition(":")
                out[key] = val.strip()
    except OSError:
        pass
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def descendants() -> list[int]:
    """Pids of every live process descended from this one."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    me = os.getpid()

    def descends(pid: int) -> bool:
        while pid > 1:
            pid = parent.get(pid, 0)
            if pid == me:
                return True
        return False

    return [p for p in parent if descends(p)]


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus every ``java``
    process descended from it (the driver JVM), in MiB."""
    pids = [os.getpid()] + [p for p in descendants() if _status(p).get("Name") == "java"]
    kb = sum(int(_status(p).get("VmHWM", "0 kB").split()[0]) for p in pids)
    return kb / 1024.0
