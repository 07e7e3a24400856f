"""Shortest paths (BFS levels / Bellman-Ford) and the rest of the path
family, each one ``plans.gather.relax`` call.

Not in the C reference (it computes only PageRank). A relaxation round
is a join + fold aggregate; the fixpoint loop, its convergence probe
and lineage truncation come from ``relax`` on the ``plans.iterate``
harness. The semiring picks the fold: (min, +) for distances, (max,
min) for widths, (max, +) for topological levels.

Semantics: distance from the NEAREST source over DIRECTED edges
(symmetrize upstream for undirected). Unweighted = hop count (BFS
levels); with ``weight_col`` = Bellman-Ford over positive weights.
Output contains REACHED vertices only — at 100 TB the unreachable set
can dwarf the reached one, and emitting it would turn a frontier-sized
result into an O(V) one; left-join against the vertex table to
densify if needed.

Convergence is exact and cheap by monotonicity: distances only ever
decrease and the reached set only grows, so an unchanged (count, xor)
signature of consecutive rounds proves a fixpoint — no row-wise
comparison join (see ``relax``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.gather import relax, relax_edges


def shortest_paths(
    edges: DataFrame,
    sources: list[int],
    weight_col: str | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """``DataFrame[id: long, dist]`` — min distance from any source.

    ``dist`` is ``long`` hops when unweighted, ``double`` when
    ``weight_col`` is given (weights must be positive — Bellman-Ford
    with negative edges would need the full V-1 rounds and a negative-
    cycle check, which a convergence-stopped loop cannot give).
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    zero = F.lit(0.0) if weight_col else F.lit(0).cast("long")
    state = edges.sparkSession.createDataFrame(
        [(int(s),) for s in set(sources)], "id long"
    ).select("id", zero.alias("dist"))
    e = relax_edges(edges, F.min, weight_col)
    try:
        return relax(
            e, state, (), "dist", F.col("dist") + F.col("_w"), F.min,
            max_iter,
            warn=(
                f"shortest_paths: distances did not stabilize within "
                f"max_iter={max_iter} rounds; reported distances are "
                "upper bounds"
            ),
        )
    finally:
        e.unpersist()


def double_sweep(edges: DataFrame, start: int = 0) -> DataFrame:
    """Diameter lower bound by the classic double BFS sweep — one row:
    ``(start, ecc_start, pivot, diameter_lb)``.

    Sweep 1 from ``start`` finds its eccentricity over REACHED vertices
    and the farthest vertex (ties → min id, deterministic); sweep 2
    from that pivot yields ``diameter_lb = ecc(pivot)``, a lower bound
    on the directed diameter that is exact on trees and usually tight
    in practice (Magnien, Latapy & Habib, "Fast computation of
    empirically tight bounds for the diameter of massive graphs",
    JEA 2009). Two BFS fixpoints + two tiny argmax actions — the graph
    is scanned no more than 2·diameter times.
    """
    d1 = shortest_paths(edges, [start])
    top = (
        d1.orderBy(F.desc("dist"), F.asc("id")).limit(1).collect()[0]
    )
    pivot, ecc_start = int(top["id"]), int(top["dist"])
    d2 = shortest_paths(edges, [pivot])
    lb = int(
        d2.agg(F.max("dist").alias("m")).collect()[0]["m"]
    )
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(start, ecc_start, pivot, lb)],
        "start long, ecc_start long, pivot long, diameter_lb long",
    )


def multi_source_bfs(
    edges: DataFrame,
    sources: list[int],
    max_iter: int = 50,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-source shortest distances in ONE keyed frontier:
    ``DataFrame[source: long, id: long, dist]`` for every (source,
    reached vertex) pair — ``dist`` is ``long`` hops unweighted,
    ``double`` with ``weight_col`` (keyed Bellman-Ford over positive
    weights, same contract as :func:`shortest_paths`).

    Unlike ``shortest_paths`` (which folds sources with min), distances
    stay per-source — the input to closeness/harmonic centrality
    estimated from pivots. All |S| searches advance together: each
    round is one join + one min-aggregate keyed on (source, id), so
    the round count is the max eccentricity, not |S|·diameter.
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    zero, kind = (0.0, "double") if weight_col else (0, "long")
    state = edges.sparkSession.createDataFrame(
        [(int(s), int(s), zero) for s in set(sources)],
        f"source long, id long, dist {kind}",
    )
    e = relax_edges(edges, F.min, weight_col)
    try:
        return relax(
            e, state, ["source"], "dist", F.col("dist") + F.col("_w"),
            F.min, max_iter,
            warn=(
                f"multi_source_bfs: distances did not stabilize within "
                f"max_iter={max_iter} rounds; distances are upper bounds"
            ),
        )
    finally:
        e.unpersist()


def harmonic_centrality(
    edges: DataFrame, pivots: list[int], max_iter: int = 50,
    weight_col: str | None = None,
) -> DataFrame:
    """Pivot-estimated harmonic centrality: ``DataFrame[id, harmonic]``
    with ``harmonic(v) = Σ_{p ∈ pivots, d(p,v) > 0} 1 / d(p → v)``.

    The pivot-sampling estimator (Eppstein & Wang, "Fast approximation
    of centrality", SODA'01 — pivots stand in for all sources; scale
    the pivot count, not the graph pass): exact when ``pivots`` is the
    full vertex set. Distances are DIRECTED from the pivot; vertices
    unreachable from every pivot don't appear (harmonic contribution
    0, matching the 1/∞ convention).
    """
    d = multi_source_bfs(edges, pivots, max_iter, weight_col=weight_col)
    return (
        d.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(F.sum(1.0 / F.col("dist")).alias("harmonic"))
    )


def closeness_centrality(
    edges: DataFrame, pivots: list[int], max_iter: int = 50,
    weight_col: str | None = None,
) -> DataFrame:
    """Pivot-estimated closeness: ``DataFrame[id, closeness]`` with
    ``closeness(v) = k_v / Σ_{p ∈ pivots, d(p,v)>0} d(p → v)`` where
    ``k_v`` counts the pivots reaching v — the inverse mean distance
    from the reaching pivots (Eppstein & Wang pivot estimator, same
    sampling contract as :func:`harmonic_centrality`; exact directed
    closeness when ``pivots`` is the full vertex set). Vertices no
    pivot reaches don't appear (closeness 0 by the 1/∞ convention).
    One keyed multi-source BFS regardless of pivot count;
    ``weight_col`` switches to weighted distances (keyed
    Bellman-Ford)."""
    d = multi_source_bfs(edges, pivots, max_iter, weight_col=weight_col)
    return (
        d.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            (
                F.count(F.lit(1)).cast("double") / F.sum("dist")
            ).alias("closeness")
        )
    )


def neighborhood_function(
    edges: DataFrame, sources: list[int] | None = None, max_iter: int = 50
) -> DataFrame:
    """The (pivot-sampled) neighborhood function N(r) — how many
    (source, vertex) pairs lie within distance r (Palmer et al., "ANF:
    a fast and scalable tool for data mining in massive graphs",
    KDD'02) — ``DataFrame[radius: long, pairs: long]``, cumulative,
    radius 0 (the sources themselves) through max reached distance.

    ``sources=None`` uses every vertex (the exact neighborhood
    function — O(V·reached) keyed-state rows, affordable on small or
    sampled graphs); a pivot list gives the standard sampling
    estimator. One keyed multi-source BFS either way.
    """
    if sources is None:
        sources = [
            r["id"]
            for r in (
                edges.select(F.col("src").alias("id"))
                .union(edges.select(F.col("dst").alias("id")))
                .distinct()
                .collect()
            )
        ]
    d = multi_source_bfs(edges, sources, max_iter)
    per_r = d.groupBy(F.col("dist").alias("radius")).agg(
        F.count(F.lit(1)).alias("_new")
    )
    from pyspark.sql import Window

    w = Window.orderBy("radius").rowsBetween(Window.unboundedPreceding, 0)
    return per_r.select(
        "radius", F.sum("_new").over(w).alias("pairs")
    )


def effective_diameter(
    edges: DataFrame,
    q: float = 0.9,
    sources: list[int] | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """One row ``(effective_diameter, q, max_radius, pairs_total)`` —
    the smallest radius whose cumulative pair count reaches a fraction
    ``q`` of all reachable pairs (the standard 90%-effective-diameter
    convention, integer form: no interpolation, deterministic).
    """
    nf = neighborhood_function(edges, sources, max_iter).localCheckpoint()
    row = nf.agg(
        F.max("pairs").alias("t"), F.max("radius").alias("m")
    ).collect()[0]
    total, rmax = int(row["t"] or 0), int(row["m"] or 0)
    need = q * total
    eff = nf.where(F.col("pairs") >= F.lit(need)).agg(
        F.min("radius").alias("r")
    ).collect()[0]["r"]
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(int(eff if eff is not None else 0), float(q), rmax, total)],
        "effective_diameter long, q double, max_radius long, pairs_total long",
    )


def topological_levels(edges: DataFrame, max_iter: int = 100) -> DataFrame:
    """Longest-path level per vertex of a DAG:
    ``DataFrame[id, level]`` with ``level(v) = 0`` for sources (no
    in-edges) and ``level(v) = 1 + max(level(u) : u→v)`` otherwise —
    the parallel build/evaluation order (vertices at one level have no
    mutual dependencies). Compose with ``contract_graph`` over SCC
    labels to schedule a cyclic graph's condensation.

    Fixpoint on the iterate harness: levels only ever increase and are
    bounded by the DAG depth, so the xor-checksum convergence action is
    exact. A CYCLE never stabilizes — the loop stops at ``max_iter``
    with a RuntimeWarning; a DAG deeper than ``max_iter`` exhausts the
    same budget, so the warning names both causes (raise ``max_iter``
    above the plausible depth to use non-convergence as a cycle
    detector).
    """
    # (max, +) levels over distinct unit-weight edges, every vertex
    # starting at 0. Levels never decrease from round to round, so
    # max(held, offered) equals 1 + max over the in-edges (0 at a
    # source) in every round
    e = relax_edges(edges, F.max)
    try:
        state = (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
            .select("id", F.lit(0).cast("long").alias("level"))
        )
        return relax(
            e, state, (), "level", F.col("level") + F.col("_w"), F.max,
            max_iter,
            warn=(
                "topological_levels: no fixpoint within "
                f"max_iter={max_iter} rounds — the graph contains a cycle "
                "OR its longest path exceeds max_iter; raise max_iter to "
                "distinguish (levels on and below cycles grow every round, "
                "deep-DAG levels stabilize)"
            ),
        )
    finally:
        e.unpersist()


def global_efficiency(
    edges: DataFrame, sources: list[int], max_iter: int = 50
) -> DataFrame:
    """One-row ``DataFrame[n_vertices, reachable_pairs, efficiency]``
    — the (pivot-estimated) global efficiency of Latora & Marchiori
    2001: the mean of ``1/d(s, t)`` over ordered source→target pairs,
    unreachable pairs contributing 0 (the 1/∞ convention). With
    ``sources`` = the full vertex set this is the exact directed
    global efficiency; with a pivot subset it is the Eppstein-Wang
    style estimator, same sampling contract as harmonic/closeness.

    One keyed multi-source BFS regardless of pivot count (the same
    O(E)-per-round frontier machinery as :func:`harmonic_centrality`),
    then a single scalar fold; the normalization denominator is
    ``|sources| · (n − 1)`` with n observed from the edge set.
    """
    d = multi_source_bfs(edges, sources, max_iter)
    n = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    k = len(set(sources))
    # coalesce: F.sum over zero rows is NULL, but the 1/∞ convention
    # says zero reachable pairs means efficiency exactly 0.0
    return d.where(F.col("dist") > 0).agg(
        F.lit(n).cast("long").alias("n_vertices"),
        F.count(F.lit(1)).alias("reachable_pairs"),
        F.coalesce(
            F.sum(1.0 / F.col("dist")) / F.lit(float(k * max(n - 1, 1))),
            F.lit(0.0),
        ).alias("efficiency"),
    )


def widest_paths(
    edges: DataFrame,
    sources: list[int],
    weight_col: str = "weight",
    max_iter: int = 50,
) -> DataFrame:
    """Keyed multi-source WIDEST paths — ``DataFrame[source, id,
    width]``: the maximum bottleneck capacity over all paths
    source→id, i.e. shortest paths on the (max, min) semiring instead
    of (min, +). The classic capacity/bandwidth routing problem
    (Pollack 1960); sources carry ``width = +inf`` (no bottleneck to
    oneself). Vertices unreachable from a source get no row.

    Same shape as :func:`multi_source_bfs` — ONE keyed relaxation for
    all sources, per round one O(E) message join + a
    map-side-combinable max-aggregate; the lattice is monotone
    non-decreasing and bounded by the finite weight set, so the
    fixpoint is exact, detected by the same count+checksum rule.
    Demonstrates the relaxation harness generalizes across semirings:
    min-plus (distances), max-min (widths) — only the two fold
    expressions change.
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    state = edges.sparkSession.createDataFrame(
        [(int(s), int(s), float("inf")) for s in set(sources)],
        "source long, id long, width double",
    )
    e = relax_edges(edges, F.max, weight_col)
    try:
        return relax(
            e, state, ["source"], "width", F.least("width", "_w"), F.max,
            max_iter,
            warn=(
                f"widest_paths: widths did not stabilize within "
                f"max_iter={max_iter} rounds; widths are lower bounds"
            ),
        )
    finally:
        e.unpersist()
