"""HITS (hubs & authorities) — Kleinberg's link-analysis companion to
PageRank.

Extension beyond the C reference (it computes only PageRank,
``Page_Rank_SERIAL.c:206-279``); a link-graph engine's users expect
the other classic eigenvector pair on the same edge table. Mutual
recursion: a vertex is a good *authority* when good hubs point AT it,
a good *hub* when it points at good authorities —

    auth_k = normalize(Aᵀ · hub_{k-1});   hub_k = normalize(A · auth_k)

with L2 normalization after each half-step (the classic formulation;
the iteration converges to the principal singular pair of the
adjacency matrix). Duplicate edges count with multiplicity, matching
the engine's degree semantics (``degrees.py``).

Execution model (same loop-invariant motion as LPA / shortest paths):
the edge table is hash-partitioned and persisted ONCE per join key —
``src`` for the authority gather, ``dst`` for the hub gather — so
each round's two joins move only the O(V) score side (the
``plans.gather`` policy: broadcast for small vertex sets, with one
unpartitioned cache serving both keys, shuffle-hash above; the cached
O(E) sides never re-exchange for the join). The remaining per-round
O(E) motion is the gather's partial-aggregated message shuffle
(groupBy the opposite endpoint) — the same inherent delivery cost LPA
documents; PageRank avoids it only via its specialized CSR block
store, which is the flagship path, not replicated here (measured ~10s
per half-step at E=10M on local[32]). Each half-step is materialized
once and its L2 norm applied as an in-plan broadcast scalar over the
checkpointed rows — one job per half-step, two per round (see
``_l2_normalized`` for why the checkpoint is what prevents a 4x
gather re-evaluation). Lineage stays O(1) because every round's
leaves are the half-step checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.gather import gather_sum, l1_converged, score_side
from pagerank_spark.plans.iterate import iterate


def _l2_normalized(scores: DataFrame, col: str) -> DataFrame:
    """Materialize the half-step, then divide by its L2 norm via a
    broadcast scalar subframe over the CHECKPOINTED rows.

    The checkpoint is load-bearing: the norm agg and the consuming
    select are two plan subtrees, and without it each would re-run the
    whole gather join — the doubling compounds across the hub
    half-step into ~4 gather joins per round (measured 28s for 8
    rounds at sf0.1 vs ~9s checkpointed). With the checkpoint both
    subtrees are in-memory scans, and keeping the norm in-plan (rather
    than a driver collect) keeps the round at one materialization job
    per half-step."""
    scores = scores.localCheckpoint()
    nrm = scores.agg(
        F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_nrm")
    )
    return scores.crossJoin(F.broadcast(nrm)).select(
        "id",
        (
            F.col(col)
            / F.when(F.col("_nrm") > 0, F.col("_nrm")).otherwise(F.lit(1.0))
        ).alias(col),
    )


def hits(
    edges: DataFrame,
    max_iter: int = 20,
    tol: float | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """``DataFrame[id: long, hub: double, authority: double]``.

    Runs exactly ``max_iter`` rounds when ``tol`` is None (the
    fixed-iteration form an external oracle can replay); with ``tol``
    set, stops early once the L1 delta of both score vectors drops
    below it (one extra comparison join per round). ``weight_col``
    scales both gathers by the edge weight (weighted HITS — the
    natural form on contracted/co-occurrence graphs). Shuffle-hash
    edge copies use the session's default parallelism.
    """
    # NOTE: a multiplicity pre-fold of parallel edges (bit-exact for
    # the gather sums at every driver SF) was A/B-measured in r6 and
    # REGRESSED ~20% here: with the score side broadcast, each gather
    # streams the cached edge rows through codegen anyway, and the
    # aggregated cache scans slower than the raw projection at this
    # scale — so the raw per-instance table stays (contrast
    # personalized_pagerank_keyed, where the fold won).
    cols = ["src", "dst"] + ([weight_col] if weight_col else [])
    e = edges.select(*cols)
    if weight_col:
        e = e.withColumn(weight_col, F.col(weight_col).cast("double"))
    # the authority gather joins on src, the hub gather on dst; each
    # round re-broadcasts the O(V) scores FOUR times (two gathers + two
    # norms), which is what the shared cutoff is measured against
    (e_src, e_dst), vertices, hint = score_side(e, ["src", "dst"])
    try:

        def _half_step(
            edges_on: DataFrame, scores: DataFrame, value: str, on: str,
            out: str,
        ) -> DataFrame:
            raw = gather_sum(
                edges_on, scores, value, out, on=on, weight=weight_col,
                hint=hint,
            )
            full = vertices.join(raw, "id", "left").select(
                "id", F.coalesce(out, F.lit(0.0)).alias(out)
            )
            return _l2_normalized(full, out)

        def _step(state: DataFrame, _round: int) -> DataFrame:
            auth = _half_step(e_src, state, "hub", "src", "authority")
            hub = _half_step(e_dst, auth, "authority", "dst", "hub")
            return hub.join(auth, "id")

        init = vertices.select(
            "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")
        )
        # checkpoint=False: both half-steps are already materialized
        # inside _l2_normalized; the returned hub⋈auth join is a cheap
        # plan over those checkpoints, and a third materialization per
        # round would only add a job (round floors dominate at small
        # scale)
        state, _rounds, _done = iterate(
            init, _step, l1_converged(["hub", "authority"], tol), max_iter,
            checkpoint=False,
        )
    finally:
        e_src.unpersist()
        e_dst.unpersist()
    return state.select("id", "hub", "authority")
