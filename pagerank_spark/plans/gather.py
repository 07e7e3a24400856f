"""The relational gather of the join-shaped SpMV family.

The C reference has one kernel, a gather-sum power iteration
(``Page_Rank_SERIAL.c:206-279``). Its relational form — join the score
vector onto one endpoint of the edge table, group by the other
endpoint, sum weight·score — drives join-mode PageRank, keyed PPR,
Katz, eigenvector, both HITS half-steps and the absorbing walks. This
module owns the three decisions those loops share:

- **the score-side join policy** (``score_join_hint`` /
  ``edge_sides``): below ``BROADCAST_MAX_V`` vertices the O(V) score
  side broadcasts and one unpartitioned edge cache serves every join
  key; above it the score side shuffle-hashes against one persisted
  edge copy per join key, so the fat O(E) side never re-exchanges;
- **the gather-sum** (``gather_sum``);
- **the L1-delta convergence probe** (``l1_delta`` / ``l1_converged``).

Each caller keeps its own edge-row shape and update expression; only
these shared pieces live here.
"""
from __future__ import annotations

import operator
from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
