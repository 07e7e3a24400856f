"""Strongly connected components by iterative coloring (Orzan-style).

Extension beyond the C reference (SURVEY.md §2.3 family): SCC is the
directed-graph counterpart of connected components — condensing a link
graph's cycles is the standard preprocessing for dependency ordering
and spider-trap analysis before PageRank-class algorithms.

Algorithm (Orzan's coloring, the MapReduce/Pregel-friendly SCC):
repeat until no vertices remain —

1. **Color fixpoint**: ``color(v) = min({v} ∪ {color(u) : (u,v) ∈ E})``
   propagated to fixpoint — v's color is the smallest vertex that can
   reach v. Colors only decrease, so an unchanged ``(count, xor)``
   signature of consecutive rounds proves the fixpoint (same
   monotone-lattice trick as shortest paths). Vertices with
   ``color(v) = v`` are roots.
2. **Ownership fixpoint**: the SCC of root r is exactly the vertices
   of color r that can reach r. The membership flag propagates
   BACKWARD (v joins when some out-neighbor u with the same color is
   already a member); the flag set only grows, so an unchanged count
   detects the fixpoint.
3. Members take ``component = color`` (the minimum id in the SCC —
   deterministic, partitioning-independent), are removed, and the
   residual induced subgraph repeats.

Each outer round removes every root's SCC — one round resolves a
typical web graph's giant SCC plus all currently-rootable singletons.
The adversarial worst case (a long directed path) degrades to O(path)
outer rounds, which ``max_outer`` bounds with a warning; FW-BW-trim
hybrids exist for that shape but are not warranted here.

Both inner fixpoints run on ``plans.iterate``, and both signatures are
observed on the harness's per-round checkpoint job (no probe job); the
per-outer-round edge table is checkpointed once and the O(V)
color/flag side moves per inner round (the ``plans.gather`` policy:
broadcast below 100k vertices, shuffle-hash above).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.gather import edge_sides, score_join_hint
from pagerank_spark.plans.iterate import Probe, iterate


# same adaptive policy as connected_components.LOCAL_CC_MAX_E: below
# this many distinct edges the nested coloring/ownership fixpoints are
# pure job-scheduling overhead and a driver Tarjan with identical
# min-id labels wins outright
LOCAL_SCC_MAX_E = 100_000


def _scc_local(spark, vertices: DataFrame, e: DataFrame) -> DataFrame:
    """Driver Tarjan (iterative) over the collected distinct edge set —
    labels are the minimum id per SCC, bit-identical to the coloring
    fixpoint."""
    adj: dict[int, list[int]] = {}
    for r in e.collect():
        adj.setdefault(r["src"], []).append(r["dst"])
    vs = [r["id"] for r in vertices.collect()]
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    onstk: dict[int, bool] = {}
    stk: list[int] = []
    comp: dict[int, int] = {}
    cnt = 0
    for v0 in vs:
        if v0 in index:
            continue
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = cnt
                cnt += 1
                stk.append(v)
                onstk[v] = True
            descended = False
            nbrs = adj.get(v, [])
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    descended = True
                    break
                elif onstk.get(w):
                    low[v] = min(low[v], index[w])
            if descended:
                continue
            if low[v] == index[v]:
                members = []
                while True:
                    w = stk.pop()
                    onstk[w] = False
                    members.append(w)
                    if w == v:
                        break
                m = min(members)
                for w in members:
                    comp[w] = m
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
    return spark.createDataFrame(
        sorted(comp.items()), "id long, component long"
    )


def strongly_connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    max_outer: int = 50,
    mode: str = "auto",
) -> DataFrame:
    """``DataFrame[id: long, component: long]`` — component = min id of
    the vertex's SCC. Every vertex appearing in ``edges`` gets a row;
    self-loops and duplicate edges are irrelevant to the partition.
    ``mode``: ``"auto"`` (driver Tarjan below LOCAL_SCC_MAX_E distinct
    edges, distributed coloring above), ``"local"``, or ``"coloring"``.
    """
    if mode not in ("auto", "local", "coloring"):
        raise ValueError("mode must be 'auto', 'local' or 'coloring'")
    spark = edges.sparkSession
    counted = Probe(c=F.count(F.lit(1)))
    e = counted.checkpoint(
        edges.where(F.col("src") != F.col("dst")).select("src", "dst").distinct()
    )
    remaining = counted.checkpoint(
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    if mode == "local" or (
        mode == "auto" and counted.of(e)["c"] <= LOCAL_SCC_MAX_E
    ):
        return _scc_local(spark, remaining, e)
    n = counted.of(remaining)["c"]
    # per-round driver broadcasts of the O(V) color/flag side dominate
    # past the shared cutoff, while shuffle-hash against the per-round
    # partitioned caches moves only one O(V) exchange per join
    hint = score_join_hint(n)
    done: list[DataFrame] = []

    for _outer in range(max_outer):
        if counted.of(remaining)["c"] == 0:
            break
        # loop-invariant (per outer round) edge copies: the color join
        # keys on src, the ownership join on dst; released on success
        # and on failure
        e_src, e_dst = edge_sides(e, hint, ["src", "dst"])
        try:
            # 1) color fixpoint (forward min-label propagation)
            def _color_step(colors: DataFrame, _r: int) -> DataFrame:
                prop = e_src.join(
                    colors.withColumnRenamed("id", "src").hint(hint), "src"
                ).select(F.col("dst").alias("id"), "color")
                return (
                    colors.unionByName(prop)
                    .groupBy("id")
                    .agg(F.min("color").alias("color"))
                )

            # colors only decrease, so an unchanged (count, xor)
            # signature of consecutive rounds is the fixpoint (up to a
            # 2^-64 collision); round 1 is compared to nothing
            sig = Probe(
                c=F.count(F.lit(1)), h=F.bit_xor(F.xxhash64("id", "color"))
            )
            colors, _r, _ok = iterate(
                remaining.select("id", F.col("id").alias("color")),
                _color_step,
                sig.unchanged(after=1),
                max_iter,
                warn="scc: color propagation hit max_iter before fixpoint; "
                "components may be split (raise max_iter)",
                probe=sig,
            )

            # 2) ownership fixpoint: members of color class c that reach
            # the root c, propagated backward along edges
            roots = colors.where(F.col("id") == F.col("color")).select(
                "id", "color"
            )

            def _member_step(members: DataFrame, _r: int) -> DataFrame:
                # v joins when an out-neighbor u is a member of v's class
                reach = (
                    e_dst.join(
                        members.withColumnRenamed("id", "dst")
                        .withColumnRenamed("color", "mcolor")
                        .hint(hint),
                        "dst",
                    )
                    .select(F.col("src").alias("id"), F.col("mcolor"))
                    .join(colors.hint(hint), "id")
                    .where(F.col("color") == F.col("mcolor"))
                    .select("id", "color")
                )
                return members.unionByName(reach).distinct()

            # the member set only grows: an unchanged count is the fixpoint
            grown = Probe(c=F.count(F.lit(1)))
            members, _r2, _ok2 = iterate(
                roots,
                _member_step,
                grown.unchanged(after=1),
                max_iter,
                warn="scc: membership propagation hit max_iter before "
                "fixpoint; components may be incomplete (raise max_iter)",
                probe=grown,
            )
        finally:
            e_src.unpersist()
            e_dst.unpersist()
        done.append(
            members.select("id", F.col("color").alias("component"))
        )
        remaining = counted.checkpoint(
            remaining.join(members, "id", "left_anti")
        )
        kept = remaining.withColumnRenamed("id", "_k")
        e = (
            e.join(kept.withColumnRenamed("_k", "src"), "src", "left_semi")
            .join(kept.withColumnRenamed("_k", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint()
        )
    else:
        if counted.of(remaining)["c"]:
            warnings.warn(
                f"scc: {max_outer} outer rounds exhausted with vertices "
                "remaining (long SCC-condensation chain); unresolved "
                "vertices are labeled as singletons",
                RuntimeWarning,
                stacklevel=2,
            )
            done.append(
                remaining.select("id", F.col("id").alias("component"))
            )

    if not done:  # no vertices at all
        return spark.createDataFrame([], "id long, component long")
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out
