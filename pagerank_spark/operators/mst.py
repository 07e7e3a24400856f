"""Minimum spanning forest — distributed Borůvka rounds.

Extension beyond the C reference (SURVEY.md §2.3 family): the classic
parallel MST algorithm (Borůvka 1926; the distributed formulation is
the GHS / "MST in MapReduce" shape, e.g. Lattanzi et al. 2011 filtering)
over the engine's undirected simple projection.

Per round every component selects its minimum incident outgoing edge
under the TOTAL order ``(weight, a, b)`` — strict lexicographic
tie-breaking makes the run deterministic for any weight multiset
(duplicate weights included; with the total order the MSF is the unique
forest of the perturbed-distinct weights), and cycle-freeness needs no
extra bookkeeping: with all edge orders distinct, per-component minima
can never close a cycle. Selected edges contract via
:func:`~pagerank_spark.operators.components.connected_components` on
the LABEL graph — a frame with one row per selected edge and at most
one vertex per live component, i.e. the contracted graph, never the
input graph. Components at least halve per round, so O(log V) rounds.

Scale shape per round: one O(E)-vs-O(V) label join (the edge table is
re-labeled, dead intra-component edges dropped — the live edge set
only shrinks), one map-side-combinable min-aggregate per endpoint
side, and one CC run whose input is the per-round selection (≤ one
edge per component). No driver-side graph state; the forest
accumulates as skinny (a, b, weight) frames unioned once at the end.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.components import connected_components
from pagerank_spark.plans.iterate import Probe, iterate, union_all


def minimum_spanning_forest(
    edges: DataFrame,
    weight_col: str | None = None,
    max_iter: int = 30,
    num_partitions: int | None = None,
) -> DataFrame:
    """``DataFrame[a: long, b: long, weight: double]`` (a < b) — a
    minimum spanning forest of the undirected simple projection: for
    every connected component, the spanning tree minimal in total
    weight under the deterministic total order ``(weight, a, b)``.

    ``weight_col=None`` gives every edge weight 1.0 (any spanning
    forest is minimal; the total order still pins ONE deterministic
    choice). Parallel edges collapse to their minimum weight; self
    loops are dropped.
    """
    spark = edges.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    # simple undirected edge set, parallel edges collapsed to min weight;
    # live edges carry their endpoints' component labels, maintained
    # in-place: (a, b, weight, la, lb); initially label = vertex id
    live = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            w.alias("weight"),
        )
        .groupBy("a", "b")
        .agg(F.min("weight").alias("weight"))
        .repartition(P, "a")
        .select(
            "a", "b", "weight", F.col("a").alias("la"), F.col("b").alias("lb")
        )
        .localCheckpoint()
    )
    forest_parts: list[DataFrame] = []

    def _round(live: DataFrame, _r: int) -> DataFrame:
        # min incident edge per component over both endpoint sides.
        # The edge's CURRENT labels ride inside the struct after the
        # deciding (weight, a, b) prefix — (w, a, b) already identifies
        # the edge uniquely, so the extra fields never change which
        # edge wins, and the selection carries its label pair out of
        # the aggregate for free (no O(E) join-back per round).
        key = F.struct(
            F.col("weight").alias("_w"),
            F.col("a").alias("_ia"),
            F.col("b").alias("_ib"),
            F.col("la").alias("_la"),
            F.col("lb").alias("_lb"),
        ).alias("_k")
        both = live.select(F.col("la").alias("c"), key).union(
            live.select(F.col("lb").alias("c"), key)
        )
        sel = (
            both.groupBy("c")
            .agg(F.min("_k").alias("_k"))
            .select("_k._w", "_k._ia", "_k._ib", "_k._la", "_k._lb")
            .distinct()
            .localCheckpoint()
        )
        forest_parts.append(
            sel.select(
                F.col("_ia").alias("a"),
                F.col("_ib").alias("b"),
                F.col("_w").alias("weight"),
            )
        )
        # contract: CC on the LABEL graph of the selection (the edge's
        # current labels, not its endpoints — ≤ 1 edge per component)
        comp = connected_components(
            sel.select(F.col("_la").alias("src"), F.col("_lb").alias("dst"))
        )
        new_a = comp.select(
            F.col("id").alias("la"), F.col("component").alias("_na")
        )
        new_b = comp.select(
            F.col("id").alias("lb"), F.col("component").alias("_nb")
        )
        return (
            live.join(new_a, "la", "left")
            .join(new_b, "lb", "left")
            .select(
                "a",
                "b",
                "weight",
                F.coalesce("_na", F.col("la")).alias("la"),
                F.coalesce("_nb", F.col("lb")).alias("lb"),
            )
            .where(F.col("la") != F.col("lb"))
        )

    probe = Probe(n=F.count(F.lit(1)))
    live, _rounds, _done = iterate(
        live, _round, probe.drained("n"), max_iter, probe=probe
    )
    if probe.of(live)["n"]:
        warnings.warn(
            "minimum_spanning_forest: inter-component edges remain after "
            f"max_iter={max_iter} rounds — the returned forest spans "
            "only the merged portion",
            RuntimeWarning,
            stacklevel=2,
        )
    if not forest_parts:
        return spark.createDataFrame([], "a long, b long, weight double")
    return union_all(forest_parts)
