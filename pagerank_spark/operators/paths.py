"""Shortest paths (BFS levels / Bellman-Ford) on the iterate harness.

Not in the C reference (it computes only PageRank); this is the first
consumer of the generic ``plans.iterate`` extension point beyond the
original three algorithms — per-round relaxation is a join + min
aggregate, lineage truncation and convergence handling come from the
harness.

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
comparison join. The signature is a ``plans.iterate.Probe``, observed on
the harness's per-round checkpoint job, so it runs no job of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.iterate import Probe, iterate


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
    spark = edges.sparkSession
    # min-plus semiring: parallel edges are EXACTLY redundant — only
    # the minimum-weight instance of a (src, dst) pair can ever win a
    # relaxation — so the multigraph collapses to its distinct edge
    # set (min weight per pair) with bit-identical distances, and
    # every round's relax join moves duplication-factor fewer rows
    if weight_col:
        e = (
            edges.select(
                "src", "dst", F.col(weight_col).cast("double").alias("_w")
            )
            .groupBy("src", "dst")
            .agg(F.min("_w").alias("_w"))
        )
        zero = F.lit(0.0)
    else:
        e = (
            edges.select("src", "dst")
            .distinct()
            .select("src", "dst", F.lit(1).cast("long").alias("_w"))
        )
        zero = F.lit(0).cast("long")
    # loop-invariant: pre-partition by src once so each round's join
    # moves only the O(frontier) distance side (same motion as LPA)
    P = spark.sparkContext.defaultParallelism
    e = e.repartition(P, "src").persist()
    e.count()

    state = spark.createDataFrame(
        [(int(s),) for s in set(sources)], "id long"
    ).select("id", zero.alias("dist"))

    def _step(dists: DataFrame, _round: int) -> DataFrame:
        relaxed = (
            e.join(dists.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("_w")).alias("dist"))
        )
        return (
            dists.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )

    # count + order-insensitive xor checksum, NOT sum(dist): a float
    # sum can absorb a real improvement (1e16 + 3.0 == 1e16 + 2.0 in
    # IEEE) declaring a false fixpoint, or differ by an ulp across
    # partition orders at a true one. The checksum hashes each (id,
    # dist) pair, so any change flips it (modulo 2^-64 collisions —
    # same soundness class as CC's detector). Monotone lattice: an
    # unchanged state is the fixpoint; round 1 is compared to nothing
    sig = Probe(c=F.count(F.lit(1)), h=F.bit_xor(F.xxhash64("id", "dist")))
    out, _rounds, _done = iterate(
        state, _step, sig.unchanged(after=1), max_iter,
        warn=(
            f"shortest_paths: distances did not stabilize within "
            f"max_iter={max_iter} rounds; reported distances are upper bounds"
        ),
        probe=sig,
    )
    e.unpersist()
    return out


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
    spark = edges.sparkSession
    P = spark.sparkContext.defaultParallelism
    # parallel edges collapse exactly under min-plus — see
    # shortest_paths
    if weight_col:
        e = (
            edges.select(
                "src", "dst", F.col(weight_col).cast("double").alias("_w")
            )
            .groupBy("src", "dst")
            .agg(F.min("_w").alias("_w"))
        )
        seed = [(int(s), int(s), 0.0) for s in set(sources)]
        schema = "source long, id long, dist double"
    else:
        e = (
            edges.select("src", "dst")
            .distinct()
            .select("src", "dst", F.lit(1).cast("long").alias("_w"))
        )
        seed = [(int(s), int(s), 0) for s in set(sources)]
        schema = "source long, id long, dist long"
    e = e.repartition(P, "src").persist()
    e.count()
    state = spark.createDataFrame(seed, schema)

    def _step(d: DataFrame, _round: int) -> DataFrame:
        relaxed = e.join(d.withColumnRenamed("id", "src"), "src").select(
            "source", F.col("dst").alias("id"),
            (F.col("dist") + F.col("_w")).alias("dist"),
        )
        return (
            d.unionByName(relaxed)
            .groupBy("source", "id")
            .agg(F.min("dist").alias("dist"))
        )

    # count + order-insensitive xor checksum, not sum(dist): the
    # monotone-lattice fixpoint test of shortest_paths
    sig = Probe(
        c=F.count(F.lit(1)), h=F.bit_xor(F.xxhash64("source", "id", "dist"))
    )
    out, _r, _done = iterate(
        state, _step, sig.unchanged(after=1), max_iter,
        warn=(
            f"multi_source_bfs: distances did not stabilize within "
            f"max_iter={max_iter} rounds; distances are upper bounds"
        ),
        probe=sig,
    )
    e.unpersist()
    return out


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
    spark = edges.sparkSession
    P = spark.sparkContext.defaultParallelism
    # max-semiring levels: duplicate (src, dst) rows are exactly
    # redundant under the max fold — distinct is result-identical
    e = (
        edges.select("src", "dst")
        .distinct()
        .repartition(P, "src")
        .persist()
    )
    e.count()
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    state = vertices.select("id", F.lit(0).cast("long").alias("level"))

    def _step(levels: DataFrame, _round: int) -> DataFrame:
        msgs = (
            e.join(levels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg((F.max("level") + 1).alias("_m"))
        )
        return vertices.join(msgs, "id", "left").select(
            "id", F.coalesce("_m", F.lit(0)).cast("long").alias("level")
        )

    # one row per vertex every round, so the xor alone is the signature
    sig = Probe(h=F.bit_xor(F.xxhash64("id", "level")))
    out, _rounds, _done = iterate(
        state, _step, sig.unchanged(after=1), max_iter,
        warn=(
            "topological_levels: no fixpoint within "
            f"max_iter={max_iter} rounds — the graph contains a cycle "
            "OR its longest path exceeds max_iter; raise max_iter to "
            "distinguish (levels on and below cycles grow every round, "
            "deep-DAG levels stabilize)"
        ),
        probe=sig,
    )
    e.unpersist()
    return out


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
    spark = edges.sparkSession
    P = spark.sparkContext.defaultParallelism
    # (max, min) semiring: only the MAX-capacity instance of a parallel
    # (src, dst) pair can ever win a relaxation — collapse is exact
    e = (
        edges.select(
            "src", "dst", F.col(weight_col).cast("double").alias("_w")
        )
        .groupBy("src", "dst")
        .agg(F.max("_w").alias("_w"))
    )
    e = e.repartition(P, "src").persist()
    e.count()
    state = spark.createDataFrame(
        [(int(s), int(s), float("inf")) for s in set(sources)],
        "source long, id long, width double",
    )

    def _step(d: DataFrame, _round: int) -> DataFrame:
        relaxed = e.join(d.withColumnRenamed("id", "src"), "src").select(
            "source",
            F.col("dst").alias("id"),
            F.least("width", "_w").alias("width"),
        )
        return (
            d.unionByName(relaxed)
            .groupBy("source", "id")
            .agg(F.max("width").alias("width"))
        )

    sig = Probe(
        c=F.count(F.lit(1)), h=F.bit_xor(F.xxhash64("source", "id", "width"))
    )
    out, _r, _done = iterate(
        state, _step, sig.unchanged(after=1), max_iter,
        warn=(
            f"widest_paths: widths did not stabilize within "
            f"max_iter={max_iter} rounds; widths are lower bounds"
        ),
        probe=sig,
    )
    e.unpersist()
    return out
