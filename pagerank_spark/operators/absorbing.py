"""Absorbing-walk analytics: truncated expected hitting time.

The expected hitting time E[τ_T] of a target set T under the uniform
out-edge random walk is the classic absorbing-chain statistic behind
"how far is this page from the trusted core" / navigability analyses
(Aldous & Fill, "Reversible Markov Chains and Random Walks on Graphs",
ch. 2; Levin & Peres, "Markov Chains and Mixing Times", §10). On web
graphs the exact quantity can be infinite (walks that never reach T),
so the operational form is the K-truncated value

    h_K(v) = E[min(τ_T, K)]

which satisfies the well-known recursion h_0 = 0 and

    h_{k+1}(v) = 0                       if v ∈ T
               = 1 + Σ_u P(v,u) h_k(u)   otherwise

— each level is exactly one out-edge SpMV, the transpose of the
PageRank gather. Dangling vertices (no out-edges) are patched with a
self-loop, the standard absorbing-chain convention: their truncated
value is the horizon K itself, which is also the correct limit
("never hits").
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.gather import gather_sum
from pagerank_spark.plans.iterate import iterate


def _stochastic_edges(
    edges: DataFrame, n: int | None, weight_col: str | None, name: str
) -> tuple[DataFrame, int]:
    """The walk's ``(src, dst, p)`` transition frame, materialized, and
    the vertex count ``n`` (``1 + max id`` when not given)."""
    cols = [
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    ]
    if weight_col is not None:
        cols.append(F.col(weight_col).cast("double").alias("_w"))
    e = edges.select(*cols)
    if n is None:
        row = e.agg(F.max(F.greatest("src", "dst")).alias("m")).first()
        if row is None or row["m"] is None:
            raise ValueError(f"{name}: empty edge table")
        n = int(row["m"]) + 1
    if weight_col is None:
        od = e.groupBy("src").agg(F.count(F.lit(1)).alias("_od"))
        w = e.join(od, "src").select(
            "src", "dst", (F.lit(1.0) / F.col("_od")).alias("p")
        )
    else:
        od = e.groupBy("src").agg(F.sum("_w").alias("_od"))
        w = e.join(od, "src").select(
            "src", "dst", (F.col("_w") / F.col("_od")).alias("p")
        )
    # materialize the stochastic edge frame ONCE: every level (and every
    # eager localCheckpoint of the state) re-joins against it, and an
    # unpersisted w rebuilds the O(E) degree agg + join per level
    return w.localCheckpoint(eager=True), n


def _absorbing_walk(
    w: DataFrame,
    h0: DataFrame,
    boundary_expr: Callable[[Column], Column],
    horizon: int,
) -> DataFrame:
    """``horizon`` levels of ``h ← boundary_expr(P·h)`` from ``h0``.

    ``boundary_expr`` receives the gathered ``Σ_u P(v,u)·h(u)`` — or
    ``h(v)`` itself for a dangling v, the self-loop patch — and pins
    the absorbing sets. Each level is one out-edge SpMV: a join of the
    ``(src, dst, p)`` frame against the ``(id, h)`` state on ``dst``
    plus a map-side-combinable sum keyed on ``src``. The horizon is
    fixed, so the level loop is ``iterate``'s fixed-horizon mode.
    """

    def _level(h: DataFrame, _level_no: int) -> DataFrame:
        g = gather_sum(w, h, "h", "_g", on="dst", weight="p")
        return h.join(g, "id", "left").select(
            "id",
            boundary_expr(F.coalesce(F.col("_g"), F.col("h"))).alias("h"),
        )

    h, _levels, _done = iterate(h0, _level, None, horizon)
    return h


def hitting_time(
    edges: DataFrame,
    targets: list[int],
    horizon: int = 20,
    n: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """K-truncated expected hitting time to ``targets`` per vertex.

    Returns ``(id, hitting)`` for every id in [0, n): 0.0 on targets,
    in (0, horizon] elsewhere. Parallel edges carry multiplicity
    (P(v,u) = multiplicity / out_deg), matching the engine's
    multigraph convention everywhere else. ``weight_col`` switches to
    the weighted walk P(v,u) = w(v,u) / Σ_x w(v,x) (positive weights
    — the same strength normalization weighted PageRank uses).

    Scale shape per level: ONE join of the (src, dst, p) stochastic
    edge frame against the O(n) value frame on ``dst`` plus a
    map-side-combinable sum keyed on ``src`` — identical cost to one
    PageRank iteration in join mode; the value frame is
    localCheckpoint-ed every third level (``iterate``'s fixed-horizon
    cadence) to keep the lineage flat. Horizon is fixed, so the whole
    run is ``horizon`` SpMVs, no convergence loop.
    """
    tset = sorted({int(t) for t in targets})
    if not tset:
        raise ValueError("hitting_time: empty target set")
    w, n = _stochastic_edges(edges, n, weight_col, "hitting_time")
    spark = edges.sparkSession
    v = spark.range(n).select(F.col("id").cast("long").alias("id"))
    is_target = F.col("id").isin(tset)
    h = _absorbing_walk(
        w,
        v.select("id", F.lit(0.0).alias("h")),
        lambda g: F.when(is_target, F.lit(0.0)).otherwise(1.0 + g),
        horizon,
    )
    return h.select("id", F.col("h").alias("hitting"))


def absorption_probability(
    edges: DataFrame,
    targets_a: list[int],
    targets_b: list[int],
    horizon: int = 20,
    n: int | None = None,
) -> DataFrame:
    """P[the walk from v hits A before B], truncated at ``horizon``.

    The committor / absorption probability of the two-absorbing-set
    chain (Aldous & Fill ch. 2; in web terms: "does this page's random
    surfer reach the trusted core or the spam core first" — the
    two-sided refinement of TrustRank's one-sided propagation).
    Recursion: p = 1 on A, 0 on B, else Σ_u P(v,u)·p(u), iterated
    ``horizon`` times from p_0 = 1_A. The truncated value
    lower-bounds the exact committor; walk mass still wandering after
    ``horizon`` steps counts as "not yet A". Dangling non-absorbing
    vertices hold their value (self-loop patch → their truncated
    probability is 0, the correct "never absorbed anywhere" limit).

    Returns ``(id, p_a)`` for every id in [0, n). Same per-level cost
    shape as :func:`hitting_time` — one out-edge SpMV + an O(n) state
    join per level.
    """
    aset = sorted({int(t) for t in targets_a})
    bset = sorted({int(t) for t in targets_b})
    if not aset or not bset:
        raise ValueError("absorption_probability: both sets required")
    if set(aset) & set(bset):
        raise ValueError("absorption_probability: A and B must be disjoint")
    w, n = _stochastic_edges(edges, n, None, "absorption_probability")
    spark = edges.sparkSession
    v = spark.range(n).select(F.col("id").cast("long").alias("id"))
    in_a, in_b = F.col("id").isin(aset), F.col("id").isin(bset)
    h = _absorbing_walk(
        w,
        v.select(
            "id", F.when(in_a, F.lit(1.0)).otherwise(F.lit(0.0)).alias("h")
        ),
        lambda g: F.when(in_a, F.lit(1.0)).when(in_b, F.lit(0.0)).otherwise(g),
        horizon,
    )
    return h.select("id", F.col("h").alias("p_a"))
