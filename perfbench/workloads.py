"""The benchmark's two workloads.

Each workload builds its input from the seed, names the operator calls
it times, the physical path each call must take (the dispatch guard),
and checks every output against ``oracles``. The calls fill four slots
that the end-to-end and per-layer metrics are reported under; slots
``pagerank`` and ``cc`` hold the same operator on both workloads, once
on a distributed path and once on a driver-local one.

| slot     | rmat_distributed             | sf001_canonical              |
|----------|------------------------------|------------------------------|
| pagerank | pagerank cold (blocks)       | pagerank_converged (local)   |
| cc       | connected_components (stars) | connected_components (local) |
| op3      | label_propagation            | k_truss                      |
| op4      | pagerank warm (blocks)       | triangle_count               |
"""

from __future__ import annotations

import os

import numpy as np

import oracles

SLOTS = ("pagerank", "cc", "op3", "op4")


def _edge_arrays(df):
    pdf = df.toPandas()
    return pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)


def _cc_path(df) -> str:
    """``local`` when the labels come from the driver union-find (an
    in-memory relation), ``stars`` when from the star-contraction rounds."""
    from pagerank_spark.plans.inspect import plan_has

    return "local" if plan_has(df, "LocalTableScan") else "stars"


def _pr_path(res) -> str:
    lineage = res.partition_lineage
    return "blocks" if "partition_block_bytes" in lineage else lineage.get("mode", "?")


def _exact(got_ids, got, want_ids, want) -> list[str]:
    if not np.array_equal(got_ids, want_ids):
        return [f"{len(got_ids)} ids, oracle has {len(want_ids)}"]
    diff = int((got != want).sum())
    return [f"{diff} of {len(want)} labels differ from the oracle"] if diff else []


def _relabel(seed: int, scale: int):
    """A seeded affine bijection ``v -> (a*v + b) mod 2^scale`` (``a`` odd)
    applied to both endpoints."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(seed)
    a = 2 * int(rng.integers(0, 1 << (scale - 1))) + 1
    b = int(rng.integers(0, 1 << scale))
    mask = (1 << scale) - 1

    def apply(df):
        return df.select(*[((F.col(c) * a + b).bitwiseAND(mask)).alias(c)
                           for c in ("src", "dst")])
    return apply


class RmatDistributed:
    """The distributed paths on one R-MAT graph (2^13 vertex ids, 50k
    edges): block-store PageRank, a cold durable run to eps=1e-4 and a
    warm recompute after a 1% edge delta started from the cold ranks;
    connected components by star contraction; three rounds of label
    propagation.

    The distributed strategies are asked for explicitly (``mode="blocks"``,
    ``mode="stars"``), so no cutoff change can move this workload onto a
    driver-local path; the guard checks that each call really took its
    path. ``auto`` would pick them only above ``LOCAL_MAX_E`` (2M edges) /
    ``LOCAL_MAX_N`` (1M vertices) for PageRank and ``LOCAL_CC_MAX_E``
    (250k distinct edges) for CC. At those sizes a cold+warm PageRank
    pair alone took 25 s (2^20 ids, 1M edges, 4 cores, 15 GiB), more
    than a run can spend.

    The seed relabels the vertices of one fixed R-MAT draw (and delta),
    so every seed runs the same amount of work on different ids, hash
    placements and tie-breaks, and the spread across seeds is the
    engine's, not the generator's: iteration and round counts differ
    between R-MAT draws this small."""

    scale, n_edges, graph_seed, lpa_iters = 13, 50_000, 1, 3
    ops = (("pagerank_cold", "pagerank"), ("pagerank_warm", "op4"),
           ("cc", "cc"), ("lpa", "op3"))
    expected_path = {"pagerank_cold": "blocks", "pagerank_warm": "blocks",
                     "cc": "stars", "lpa": "rounds"}

    def build(self, spark, seed, small=False):
        """``small`` is the warm-up input: the same calls capped at one
        round each."""
        from pagerank_spark.sources.rmat import rmat_edges

        scale, n_edges = (10, 5_000) if small else (self.scale, self.n_edges)
        relabel = _relabel(seed, scale)
        edges = relabel(rmat_edges(spark, n_edges, scale, seed=self.graph_seed))
        edges = edges.localCheckpoint()
        delta = relabel(rmat_edges(spark, n_edges // 100, scale, seed=self.graph_seed + 1))
        return {"n": 1 << scale, "edges": edges,
                "edges2": edges.union(delta).localCheckpoint(),
                "pr_iters": 1 if small else None,
                "cc_iters": 1 if small else 50,
                "lpa_iters": 1 if small else self.lpa_iters}

    def oracle_input(self, inp):
        src, dst = _edge_arrays(inp["edges"])
        return {"e1": (src, dst), "e2": _edge_arrays(inp["edges2"]),
                "cc": oracles.components(src, dst),
                "lpa": oracles.label_propagation(src, dst, self.lpa_iters)}

    def call(self, op, spark, inp, state, call_dir):
        from pagerank_spark.operators.components import connected_components
        from pagerank_spark.operators.labelprop import label_propagation
        from pagerank_spark.operators.pagerank import pagerank

        if op == "pagerank_cold":
            res = pagerank(inp["edges"], n=inp["n"], mode="blocks",
                           checkpoint_dir=call_dir, max_iter=inp["pr_iters"])
        elif op == "pagerank_warm":
            res = pagerank(inp["edges2"], n=inp["n"], mode="blocks",
                           checkpoint_dir=call_dir, max_iter=inp["pr_iters"],
                           init_ranks=state["pagerank_cold"].ranks)
        elif op == "cc":
            res = connected_components(inp["edges"], mode="stars",
                                       max_iter=inp["cc_iters"])
        else:
            res = label_propagation(inp["edges"], max_iter=inp["lpa_iters"])
        state[op] = res
        return (res.ranks if op.startswith("pagerank") else res).toPandas()

    def path(self, op, state):
        if op.startswith("pagerank"):
            return _pr_path(state[op])
        return _cc_path(state[op]) if op == "cc" else "rounds"

    def pagerank_result(self, op, state):
        return state[op] if op.startswith("pagerank") else None

    def check(self, op, out, oracle, state):
        if op in ("cc", "lpa"):
            out = out.sort_values("id")
            col = "component" if op == "cc" else "label"
            want_ids, want = oracle[op]
            return _exact(out["id"].to_numpy(), out[col].to_numpy(), want_ids, want)
        ranks = out.sort_values("id")["rank"].to_numpy()
        iters = state[op].iterations
        if op == "pagerank_cold":
            state["cold_ranks"] = ranks
            return oracles.check_pagerank(ranks, *oracle["e1"], len(ranks), iters)
        return oracles.check_pagerank(ranks, *oracle["e2"], len(ranks), iters,
                                      init=state["cold_ranks"])


class Sf001Canonical:
    """The declared queries over the canonical ``l_partkey % 500`` graph,
    on a TPC-H-shaped lineitem at scale factor 0.01 generated from the
    seed: a parquet scan, driver-local PageRank and union-find (``auto``
    stays local at 500 vertices) and the triangle joins. A blocks or
    star-round change should not move this workload."""

    sf = 0.01
    ops = (("pagerank_converged", "pagerank"), ("connected_components", "cc"),
           ("k_truss", "op3"), ("triangle_count", "op4"))
    expected_path = {"pagerank_converged": "local", "connected_components": "local",
                     "k_truss": "rounds", "triangle_count": "joins"}

    def __init__(self, data_dir):
        self.data_dir = data_dir

    def _lineitem(self, seed):
        parts, supps = int(200_000 * self.sf), int(10_000 * self.sf)
        rows = int(6_000_000 * self.sf)
        rng = np.random.default_rng(seed)
        p = rng.integers(1, parts + 1, rows)
        i = rng.integers(0, 4, rows)
        # TPC-H dbgen: the i-th of a part's four suppliers
        s = (p + i * (supps // 4 + (p - 1) // supps)) % supps + 1
        return p, s

    def build(self, spark, seed, small=False):
        """No separate warm-up input: a pass over the measured one costs
        about as much as one over a smaller one, and it also fills the
        ``pagerank_converged`` query's cached replay for this directory."""
        if small:
            return None
        import pyarrow as pa
        import pyarrow.parquet as pq

        p, s = self._lineitem(seed)
        os.makedirs(self.data_dir, exist_ok=True)
        path = os.path.join(self.data_dir, "lineitem.parquet")
        pq.write_table(pa.table({"l_partkey": p, "l_suppkey": s}), path)
        return {"seed": seed, "rows": spark.read.parquet(path).count()}

    def oracle_input(self, inp):
        import __spark_entry__ as entry

        p, s = self._lineitem(inp["seed"])
        src, dst = p % entry.N_MOD, (p * 7 + s) % entry.N_MOD
        n = int(max(src.max(), dst.max())) + 1
        adj = oracles.simple_adjacency(src, dst, n)
        return {"src": src, "dst": dst, "n": n,
                "cc": oracles.components(src, dst),
                "triangles": oracles.triangle_count(adj),
                "k_truss": oracles.k_truss(adj, entry.TRUSS_K)}

    def call(self, op, spark, inp, state, call_dir):
        import __spark_entry__ as entry

        captured = {}

        def recording(fn):
            def wrapper(*args, **kwargs):
                captured[fn.__name__] = out = fn(*args, **kwargs)
                return out
            return wrapper

        names = ("pagerank", "connected_components")
        saved = {k: getattr(entry, k) for k in names}
        for k in names:
            setattr(entry, k, recording(saved[k]))
        try:
            out = entry.queries()[op](spark, self.data_dir).toPandas()
        finally:
            for k in names:
                setattr(entry, k, saved[k])
        state[op] = captured
        return out

    def path(self, op, state):
        got = state[op]
        if op == "pagerank_converged":
            return _pr_path(got["pagerank"])
        if op == "connected_components":
            return _cc_path(got["connected_components"])
        return self.expected_path[op]

    def pagerank_result(self, op, state):
        return state[op].get("pagerank") if op == "pagerank_converged" else None

    def check(self, op, out, oracle, state):
        if op == "pagerank_converged":
            ranks = out.sort_values("id")["rank"].to_numpy()
            iters = state[op]["pagerank"].iterations
            return oracles.check_pagerank(ranks, oracle["src"], oracle["dst"],
                                          oracle["n"], iters, rounded=7)
        if op == "connected_components":
            out = out.sort_values("id")
            want_ids, want = oracle["cc"]
            return _exact(out["id"].to_numpy(), out["component"].to_numpy(), want_ids, want)
        if op == "triangle_count":
            got = int(out["triangles"].iloc[0])
            return [] if got == oracle["triangles"] else [
                f"{got} triangles, oracle {oracle['triangles']}"]
        got = out[["a", "b"]].to_numpy(np.int64)
        want = oracle["k_truss"]
        if got.shape != want.shape or not np.array_equal(got, want):
            return [f"k-truss has {len(got)} edges, oracle {len(want)} (or sets differ)"]
        return []


def make(name: str, work_dir: str):
    if name == "rmat_distributed":
        return RmatDistributed()
    if name == "sf001_canonical":
        return Sf001Canonical(os.path.join(work_dir, "sf001"))
    raise SystemExit(f"unknown workload {name!r}: "
                     "choose rmat_distributed or sf001_canonical")
