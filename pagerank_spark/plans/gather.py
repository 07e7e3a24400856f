"""The relational gather of the join-shaped SpMV family, and its
semiring twin, the monotone relaxation of the path family.

The C reference has one kernel, a gather-sum power iteration
(``Page_Rank_SERIAL.c:206-279``). Its relational form — join the score
vector onto one endpoint of the edge table, group by the other
endpoint, sum weight·score — drives join-mode PageRank, keyed PPR,
Katz, eigenvector, both HITS half-steps and the absorbing walks. Swap
the (+, ·) fold for (min, +) or (max, min) and the same join is one
round of shortest paths, keyed BFS, widest paths, topological levels,
earliest-arrival temporal reachability and SCC coloring. This module
owns the decisions those loops share:

- **the score-side join policy** (``score_join_hint`` /
  ``edge_sides``): below ``BROADCAST_MAX_V`` vertices the O(V) score
  side broadcasts and one unpartitioned edge cache serves every join
  key; above it the score side shuffle-hashes against one persisted
  edge copy per join key, so the fat O(E) side never re-exchanges;
- **the gather-sum** (``gather_sum``);
- **the L1-delta convergence probe** (``l1_delta`` / ``l1_converged``);
- **the monotone relaxation** (``relax``) and its edge copy
  (``relax_edges``, or any frame put through ``partition_on_src``): the
  fixpoint loop of the path family, stopped by an observed count +
  xor-checksum probe.

Each caller keeps its own edge-row shape and update expression; only
these shared pieces live here.
"""
from __future__ import annotations

import operator
from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.iterate import Probe, iterate

# Re-broadcasting a small score vector every round beats shuffling it;
# past ~100k vertices the per-use driver collect + torrent dominates
# (HITS, which broadcasts four times a round, measured 34 s/round at
# V=500k/E=10M vs ~8 s with shuffle-hash against the pre-partitioned
# edge caches).
BROADCAST_MAX_V = 100_000


def score_join_hint(n: int) -> str:
    """The join hint for an ``n``-row score (or label) side."""
    return "broadcast" if n <= BROADCAST_MAX_V else "shuffle_hash"


def edge_sides(
    edges: DataFrame, hint: str, keys: Sequence[str]
) -> list[DataFrame]:
    """The loop-invariant persisted edge copies, one per join key in
    ``keys`` (same order). A broadcast-hash join needs no fat-side
    partitioning, so in broadcast mode ONE unpartitioned cache serves
    every key; under shuffle-hash each key gets its own copy
    hash-partitioned on it (``persist`` keeps the partitioning visible
    to the planner, a ``localCheckpoint`` would drop it). The caller
    unpersists every returned frame."""
    if hint == "broadcast":
        return [edges.persist()] * len(keys)
    P = edges.sparkSession.sparkContext.defaultParallelism
    return [edges.repartition(P, k).persist() for k in keys]


def score_side(
    e: DataFrame, keys: Sequence[str]
) -> tuple[list[DataFrame], DataFrame, str]:
    """``(edge_sides, vertices, hint)`` for a score vector over every
    endpoint of ``e``: the distinct vertex ids (checkpointed, so the
    count that picks the hint and every round's completion join scan
    them once) and the policy's persisted edge copies."""
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    hint = score_join_hint(vertices.count())
    return edge_sides(e, hint, keys), vertices, hint


def gather_sum(
    edges: DataFrame,
    scores: DataFrame,
    value: str,
    out: str,
    on: str = "src",
    weight: str | None = None,
    keys: Sequence[str] = (),
    hint: str | None = None,
) -> DataFrame:
    """``DataFrame[*keys, id, out]``: for every vertex ``id`` at the
    opposite endpoint of an edge, ``Σ weight·value`` over its edges
    whose ``on`` endpoint carries a score (``Σ value`` when ``weight``
    is None). ``scores`` is ``DataFrame[*keys, id, value]``; extra
    ``keys`` (e.g. PPR's ``seed``) ride along in the group-by, and
    ``hint`` applies to the score side."""
    to = "dst" if on == "src" else "src"
    side = scores.select(*keys, F.col("id").alias(on), value)
    if hint is not None:
        side = side.hint(hint)
    term = F.col(value) if weight is None else F.col(weight) * F.col(value)
    return (
        edges.join(side, on)
        .groupBy(*keys, F.col(to).alias("id"))
        .agg(F.sum(term).alias(out))
    )


def partition_on_src(e: DataFrame) -> DataFrame:
    """``e`` hash-partitioned on ``src``, persisted and materialized: the
    loop-invariant side of a round's join on ``src``, so each round moves
    only the state side. The caller unpersists it."""
    P = e.sparkSession.sparkContext.defaultParallelism
    e = e.repartition(P, "src").persist()
    e.count()
    return e


def relax_edges(
    edges: DataFrame,
    fold: Callable[[str], Column],
    weight: str | None = None,
) -> DataFrame:
    """The loop-invariant edge copy of a :func:`relax`:
    ``DataFrame[src, dst, _w]`` hash-partitioned on ``src``, persisted
    and materialized, so each round moves only the state side. Parallel
    edges collapse by the semiring's ``fold`` (only the winning weight
    of a ``(src, dst)`` pair can ever be offered through it, so the
    collapse is result-identical); unweighted edges become distinct
    pairs with ``_w = 1`` (long). The caller unpersists it."""
    if weight is None:
        e = (
            edges.select("src", "dst")
            .distinct()
            .select("src", "dst", F.lit(1).cast("long").alias("_w"))
        )
    else:
        e = (
            edges.select(
                "src", "dst", F.col(weight).cast("double").alias("_w")
            )
            .groupBy("src", "dst")
            .agg(fold("_w").alias("_w"))
        )
    return partition_on_src(e)


def relax(
    e: DataFrame,
    state: DataFrame,
    keys: Sequence[str],
    value: str,
    offer: Column,
    fold: Callable[[str], Column],
    max_iter: int,
    warn: str | None,
    hint: str | None = None,
) -> DataFrame:
    """Monotone relaxation of ``state`` (``DataFrame[*keys, id,
    value]``) over ``e`` to its fixpoint, or ``max_iter`` rounds (then
    ``warn``, if given). Each round joins the state onto ``e`` on
    ``src``, offers every ``dst`` the column ``offer`` (null: the edge
    is not usable) and keeps ``fold`` per ``(*keys, id)``; ``keys`` and
    ``hint`` are as in :func:`gather_sum`.

    Values move one way and the reached set only grows, so an unchanged
    ``(count, xor of row hashes)`` signature of consecutive rounds is
    the fixpoint (up to a 2^-64 collision) — a xor, not a sum: a float
    sum can absorb a real improvement (1e16 + 3.0 == 1e16 + 2.0) or
    differ by an ulp across partition orders. It is observed on
    ``iterate``'s checkpoint job; round 1 is compared to nothing.
    """

    def step(cur: DataFrame, _round: int) -> DataFrame:
        side = cur.withColumnRenamed("id", "src")
        if hint is not None:
            side = side.hint(hint)
        offered = (
            e.join(side, "src")
            .select(*keys, F.col("dst").alias("id"), offer.alias(value))
            .where(F.col(value).isNotNull())
        )
        return (
            cur.unionByName(offered)
            .groupBy(*keys, "id")
            .agg(fold(value).alias(value))
        )

    sig = Probe(
        c=F.count(F.lit(1)), h=F.bit_xor(F.xxhash64(*keys, "id", value))
    )
    out, _rounds, _done = iterate(
        state, step, sig.unchanged(after=1), max_iter, warn=warn, probe=sig
    )
    return out


def l1_delta(
    prev: DataFrame, new: DataFrame, cols: Sequence[str]
) -> float | None:
    """``Σ_id Σ_c |new.c − prev.c|`` over ids in both frames, in one
    collect; None when they share no id."""
    p = prev.select("id", *[F.col(c).alias(f"_p_{c}") for c in cols])
    term = reduce(
        operator.add, [F.abs(F.col(c) - F.col(f"_p_{c}")) for c in cols]
    )
    return new.join(p, "id").agg(F.sum(term).alias("d")).collect()[0]["d"]


def never_converged(_prev: DataFrame, _new: DataFrame, _round: int) -> bool:
    """The probe of a fixed-round loop that still wants ``iterate``'s
    checkpoint every round (its next round scans the state more than
    once)."""
    return False


def l1_converged(
    cols: Sequence[str], tol: float | None
) -> Callable[[DataFrame, DataFrame, int], bool]:
    """``iterate`` probe: stop once the L1 delta of ``cols`` drops below
    ``tol``; ``tol=None`` never stops (exactly ``max_iter`` rounds)."""
    if tol is None:
        return never_converged

    def check(prev: DataFrame, new: DataFrame, _round: int) -> bool:
        d = l1_delta(prev, new, cols)
        return d is not None and d < tol

    return check
