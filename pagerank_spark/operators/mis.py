"""Maximal independent set — deterministic Luby rounds.

Extension beyond the C reference: the classic symmetry-breaking
primitive (Luby 1986, "A simple parallel algorithm for the maximal
independent set problem") with the engine's determinism convention —
per-round priorities are HASHES of (vertex id, round), not RNG draws,
so the result is reproducible across runs, partitionings and engines
(``hash_fn="md5"`` makes every round ANSI-replayable, the portable-twin
pattern).

Per round over the UNDECIDED subgraph: a vertex enters the MIS when
its (priority, id) pair is lexicographically smaller than every
undecided neighbor's; winners and their neighbors leave the undecided
set. Expected O(log V) rounds; per round two bounded joins + one
min-aggregate — the same O(V)-moves-per-round shape as LPA. Self-loops
are dropped (a vertex is never its own neighbor), parallel edges are
collapsed.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.functions.text import hash64
from pagerank_spark.operators.triangles import _simple_undirected
from pagerank_spark.plans.iterate import Probe, iterate, union_all


def maximal_independent_set(
    edges: DataFrame,
    max_iter: int = 50,
    hash_fn: str = "xxhash64",
    num_partitions: int | None = None,
    _assume_simple: bool = False,
) -> DataFrame:
    """``DataFrame[id: long]`` — a maximal independent set of the
    undirected simple projection (every vertex is in the set or
    adjacent to it; no two set members are adjacent).

    ``_assume_simple`` (internal) skips the simple-projection distinct
    when the caller guarantees the input is already a loop-free
    deduplicated ``src < dst`` edge set — iterated callers like
    :func:`greedy_coloring` would otherwise pay one redundant
    distinct shuffle per invocation (projection of a simple set is
    itself, so results are identical either way).
    """
    spark = edges.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    if _assume_simple:
        simple = edges.select(
            F.col("src").alias("a"), F.col("dst").alias("b")
        )
    else:
        simple = _simple_undirected(edges)
    sym = simple.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).union(simple.select(F.col("b").alias("src"), F.col("a").alias("dst")))
    sym = sym.repartition(P, "src").persist()
    mis_parts: list[DataFrame] = []

    def _round(undecided: DataFrame, rnd: int) -> DataFrame:
        # no checkpoint: both consumers re-derive the priorities with
        # one deterministic hash projection over the checkpointed
        # undecided frame — cheaper than materializing + re-reading
        pri = undecided.select(
            "id",
            hash64(
                F.concat_ws("|", F.col("id").cast("string"), F.lit(str(rnd))),
                hash_fn,
            ).alias("_p"),
        )
        # min (priority, id) among each vertex's UNDECIDED neighbors
        nbr_min = (
            sym.join(pri.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min(F.struct("_p", F.col("dst").alias("_i"))).alias("_nm"))
        )
        # winners: smaller than every undecided neighbor, or isolated
        # in the undecided subgraph (no undecided neighbors at all)
        cand = (
            pri.join(nbr_min, "id", "left")
            .where(
                F.col("_nm").isNull()
                | (F.struct("_p", F.col("id").alias("_i")) < F.col("_nm"))
            )
            .select("id")
            .localCheckpoint()
        )
        removed = cand.unionByName(
            sym.join(cand.withColumnRenamed("id", "src"), "src")
            .select(F.col("dst").alias("id"))
        ).distinct()
        # winners accumulate as already-checkpointed per-round frames;
        # the union is assembled once at the end (no per-round
        # materialization of the growing set)
        mis_parts.append(cand)
        return undecided.join(removed, "id", "left_anti")

    probe = Probe(n=F.count(F.lit(1)))
    try:
        undecided, _rounds, _done = iterate(
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .localCheckpoint(),
            _round, probe.drained("n"), max_iter, probe=probe,
        )
        n_left = probe.of(undecided)["n"]
    finally:
        sym.unpersist()
    if n_left:
        warnings.warn(
            f"maximal_independent_set: {n_left} vertices still "
            f"undecided after max_iter={max_iter} rounds — the returned "
            "set is independent but may not be maximal",
            RuntimeWarning,
            stacklevel=2,
        )
    return union_all([spark.createDataFrame([], "id long"), *mis_parts])


def greedy_coloring(
    edges: DataFrame,
    max_colors: int = 64,
    hash_fn: str = "xxhash64",
    num_partitions: int | None = None,
) -> DataFrame:
    """Proper vertex coloring by iterated MIS (the Jones-Plassmann
    shape): color c goes to a maximal independent set of the still-
    uncolored subgraph, so no edge ever joins two same-colored
    vertices — ``DataFrame[id: long, color: long]`` with colors
    0..k-1, k ≤ max_colors (raises if the graph needs more).

    Deterministic end to end (hash priorities inherited from
    :func:`maximal_independent_set`); uses at most Δ+1 colors like any
    greedy scheme. Each color round runs MIS on a monotonically
    shrinking induced subgraph — the standard distributed coloring
    trade: O(Δ) rounds of bounded joins, no sequential vertex order.
    """
    spark = edges.sparkSession
    simple = _simple_undirected(edges).localCheckpoint()
    remaining_v = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    remaining_e = simple
    colored = spark.createDataFrame([], "id long, color long").localCheckpoint()
    for c in range(max_colors):
        if remaining_v.isEmpty():
            break
        if remaining_e.isEmpty():
            # no edges left: everything remaining takes this color
            colored = colored.unionByName(
                remaining_v.select("id", F.lit(c).cast("long").alias("color"))
            ).localCheckpoint()
            remaining_v = remaining_v.join(remaining_v, "id", "left_anti")
            break
        mis = maximal_independent_set(
            remaining_e.select(
                F.col("a").alias("src"), F.col("b").alias("dst")
            ),
            hash_fn=hash_fn,
            num_partitions=num_partitions,
            # remaining_e is the induced subset of an already-simple
            # (a < b) edge set — no re-distinct needed
            _assume_simple=True,
        ).localCheckpoint()
        # isolated remaining vertices (no edges) are independent too
        isolated = remaining_v.join(
            remaining_e.select(F.col("a").alias("id"))
            .union(remaining_e.select(F.col("b").alias("id"))),
            "id",
            "left_anti",
        )
        # plain union: the MIS (edge-incident winners, one round each)
        # and the isolated set are disjoint and internally duplicate-
        # free, so the former per-color distinct shuffle was a no-op
        take = mis.unionByName(isolated).localCheckpoint()
        colored = colored.unionByName(
            take.select("id", F.lit(c).cast("long").alias("color"))
        ).localCheckpoint()
        remaining_v = remaining_v.join(take, "id", "left_anti").localCheckpoint()
        remaining_e = (
            remaining_e.join(take.withColumnRenamed("id", "a"), "a", "left_anti")
            .join(take.withColumnRenamed("id", "b"), "b", "left_anti")
            .localCheckpoint()
        )
    if not remaining_v.isEmpty():
        raise ValueError(
            f"greedy_coloring: more than max_colors={max_colors} colors "
            "needed; raise the cap"
        )
    return colored


def maximal_matching(
    edges: DataFrame,
    max_iter: int = 50,
    hash_fn: str = "xxhash64",
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """``DataFrame[a: long, b: long]`` (a < b) — a maximal matching of
    the undirected simple projection: no two output edges share a
    vertex, and every remaining edge touches a matched vertex.

    The locally-dominant-edge rule (Israeli & Itai 1986, "A fast and
    simple randomized parallel algorithm for maximal matching",
    de-randomized by the engine's hash convention): per round every
    live edge draws priority hash(a|b|round), and an edge enters the
    matching iff its (priority, a, b) triple is the strict minimum
    among ALL live edges incident to either endpoint — one pooled
    per-vertex min-aggregate (both endpoint columns unioned) and one
    equality join, the same bounded-join shape as
    :func:`maximal_independent_set`. Winners' endpoints leave the
    live subgraph. The global minimum edge always wins, so progress is
    guaranteed; with uniform priorities the expected round count is
    O(log E). ``hash_fn="md5"`` makes every round ANSI-replayable
    (the portable-twin pattern).

    Runs on the :func:`~pagerank_spark.plans.iterate.iterate` harness
    with ONE tagged state frame (``live`` rows ∪ ``matched`` rows), so
    ``checkpoint_dir``/``resume`` give the round-4 fixpoints the same
    durable kill-and-resume contract as PageRank/CC (E5): the round
    counter resumes too, keeping the per-round hash draws identical.
    """
    spark = edges.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    live0 = _simple_undirected(edges).repartition(P, "a")
    state0 = live0.select("a", "b", F.lit("L").alias("tag")).localCheckpoint()

    def _step(state: DataFrame, rnd: int) -> DataFrame:
        live = state.where(F.col("tag") == "L").select("a", "b")
        matched = state.where(F.col("tag") == "M").select("a", "b")
        pri = live.select(
            "a",
            "b",
            F.struct(
                hash64(
                    F.concat_ws(
                        "|",
                        F.col("a").cast("string"),
                        F.col("b").cast("string"),
                        F.lit(str(rnd)),
                    ),
                    hash_fn,
                ).alias("_p"),
                F.col("a").alias("_ia"),
                F.col("b").alias("_ib"),
            ).alias("_k"),
        )
        # per-VERTEX min over all incident edges (a vertex appears in
        # both endpoint columns — the two sides must be pooled)
        vmin = (
            pri.select(F.col("a").alias("v"), "_k")
            .union(pri.select(F.col("b").alias("v"), "_k"))
            .groupBy("v")
            .agg(F.min("_k").alias("_m"))
        )
        # materialized once per round: the winners subtree is referenced
        # by the matched union AND (twice, via done_v) by each of the
        # two anti-joins — five appearances of the 3-join pipeline in
        # the round's plan without the checkpoint
        winners = pri.join(
            vmin.select(F.col("v").alias("a"), F.col("_m").alias("_ma")),
            "a",
        ).join(
            vmin.select(F.col("v").alias("b"), F.col("_m").alias("_mb")),
            "b",
        ).where(
            (F.col("_k") == F.col("_ma")) & (F.col("_k") == F.col("_mb"))
        ).select("a", "b").localCheckpoint()
        done_v = (
            winners.select(F.col("a").alias("id"))
            .union(winners.select(F.col("b").alias("id")))
            .distinct()
        )
        next_live = live.join(
            done_v.withColumnRenamed("id", "a"), "a", "left_anti"
        ).join(done_v.withColumnRenamed("id", "b"), "b", "left_anti")
        return (
            matched.unionByName(winners)
            .select("a", "b", F.lit("M").alias("tag"))
            .unionByName(next_live.select("a", "b", F.lit("L").alias("tag")))
        )

    probe = Probe(n=F.count_if(F.col("tag") == "L"))
    final, _rounds, _done = iterate(
        state0,
        _step,
        probe.drained("n"),
        max_iter,
        warn=(
            f"maximal_matching: edges still live after max_iter="
            f"{max_iter} rounds — the returned matching is a matching "
            "but may not be maximal"
        ),
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        probe=probe,
    )
    return final.where(F.col("tag") == "M").select("a", "b")


def vertex_cover(
    edges: DataFrame,
    max_iter: int = 50,
    hash_fn: str = "xxhash64",
    num_partitions: int | None = None,
) -> DataFrame:
    """``DataFrame[id: long]`` — a vertex cover (every edge has an
    endpoint in the set) at most 2× the optimum: the endpoints of a
    maximal matching (Gavril / Yannakakis folklore bound — each
    matched edge needs ≥1 cover vertex and the matching's edges are
    disjoint, so OPT ≥ |M| while this set has exactly 2|M|).
    Deterministic via :func:`maximal_matching`'s hash convention.
    """
    m = maximal_matching(
        edges, max_iter=max_iter, hash_fn=hash_fn,
        num_partitions=num_partitions,
    )
    return (
        m.select(F.col("a").alias("id"))
        .union(m.select(F.col("b").alias("id")))
        .distinct()
    )
