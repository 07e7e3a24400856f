"""Deterministic random walks for embedding / graph-ML training data.

Extension beyond the C reference (SURVEY.md §2.3 family): DeepWalk /
node2vec-style pipelines consume fixed-length random walks as training
sequences. At 100 TB a walk generator must be REPRODUCIBLE — the same
corpus must yield the same walks on every rerun and partitioning — so
the "random" next-step choice is a pure hash argmin, not an RNG state:

    next(walk, t) = argmin_{(cur→d) ∈ E} hash(walk_id : t : d : seed)

Each step is one frontier ⋈ edges join plus a struct-min aggregate
(the (hash, dst) pair makes ties impossible to matter), run on the
``plans.iterate`` harness with the edge table hash-partitioned and
persisted once — per step only the O(walks) frontier moves. Walks
stop early at vertices with no out-edges (the frontier row simply
disappears), mirroring a directed dead end.

``hash_fn="md5"`` makes the whole trajectory ANSI-replayable (the
driver gate's oracle unrolls one argmin CTE per step); xxhash64 is the
production default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.functions.text import hash64
from pagerank_spark.plans.iterate import Probe, iterate, union_all


def random_walks(
    edges: DataFrame,
    length: int,
    walks_per_vertex: int = 1,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    weight_col: str | None = None,
) -> DataFrame:
    """``DataFrame[walk_id: long, step: int, vertex: long]`` — one row
    per visited position; ``walk_id = start_vertex * walks_per_vertex
    + w`` for w in [0, walks_per_vertex). Step 0 is the start vertex;
    a walk that hits an out-edge-less vertex emits no further rows.

    ``weight_col`` (POSITIVE weights — integer or fractional, e.g. the
    jaccard/cosine weights of ``cooccurrence_graph``) biases the
    next-step choice ∝ weight while staying fully deterministic, via
    an inverse-CDF pick: the per-(walk, step) hash maps to a uniform
    u ∈ [0, 1), and the walk takes the first out-edge (in dst order)
    whose cumulative weight exceeds u·Σw. ONE candidate row per edge
    — no per-weight-unit explode — so the per-step cost is O(frontier
    degree sum) for any weight magnitudes, and the rule is exact for
    arbitrary positive weights. Non-positive-weight edges are
    excluded (zero probability); parallel (src, dst) rows collapse by
    summed weight. Still ANSI-replayable: the cumulative sum is a
    deterministic dst-ordered running sum (bit-reproducible for
    integer-valued weights; fractional weights could in principle
    differ by one ulp across engines at a CDF boundary).
    """
    if length < 0 or walks_per_vertex < 1:
        raise ValueError("length must be >= 0, walks_per_vertex >= 1")
    spark = edges.sparkSession
    P = spark.sparkContext.defaultParallelism
    if weight_col is not None:
        e = (
            edges.select(
                "src", "dst", F.col(weight_col).cast("double").alias("_wt")
            )
            .where(F.col("_wt") > 0)
            .groupBy("src", "dst")
            .agg(F.sum("_wt").alias("_wt"))
        )
    else:
        # the hash-argmin pick keys on (walk, step, dst): parallel
        # (src, dst) edge instances contribute identical candidate
        # structs, so collapsing the multigraph to its distinct edge
        # set is result-identical and cuts per-step candidate volume
        # by the duplication factor (the oracle's argmin over the raw
        # edge table agrees — min over a multiset = min over its set)
        e = edges.select("src", "dst").distinct()
    e = e.repartition(P, "src").persist()

    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    W = walks_per_vertex
    frontier = vertices.crossJoin(
        spark.range(W).select(F.col("id").alias("_w"))
    ).select(
        (F.col("id") * W + F.col("_w")).alias("walk_id"),
        F.col("id").alias("vertex"),
    ).localCheckpoint()

    steps = [frontier]

    def _step(fr: DataFrame, t: int) -> DataFrame:
        cand = e.join(
            fr.select(F.col("vertex").alias("src"), "walk_id"), "src"
        )
        if weight_col is not None:
            # inverse-CDF pick: u = hash(walk:t:seed) ∈ [0,1); take the
            # first dst (ascending) whose running weight exceeds u·Σw.
            # One row per edge; both window sums share one shuffle on
            # walk_id (the same motion the argmin groupBy needs anyway)
            from pyspark.sql import Window

            ukey = F.concat_ws(
                ":", F.col("walk_id"), F.lit(str(t)), F.lit(str(seed))
            )
            h = hash64(ukey, hash_fn)
            if hash_fn == "md5":
                # 60-bit non-negative hash
                u = h / F.lit(float(1 << 60))
            else:
                u = (h.cast("double") + F.lit(2.0**63)) / F.lit(2.0**64)
            # the int->double rounding can land u on exactly 1.0 (hash
            # within ~2^-53 of the top), where no cum > u*tot row exists
            # and the walk would silently die; clamp to the largest
            # double < 1 (the oracle applies the identical clamp)
            u = F.least(u, F.lit(1.0 - 2.0**-53))
            wcum = Window.partitionBy("walk_id").orderBy("dst")
            wtot = Window.partitionBy("walk_id")
            picked = (
                cand.select("walk_id", "dst", "_wt")
                .withColumn("_cum", F.sum("_wt").over(wcum))
                .withColumn("_tot", F.sum("_wt").over(wtot))
                .where(F.col("_cum") > u * F.col("_tot"))
            )
            # weights > 0 make _cum strictly increasing, so min(dst) is
            # the CDF crossing; the last row always qualifies (u < 1)
            return picked.groupBy("walk_id").agg(
                F.min("dst").alias("vertex")
            ).select("walk_id", "vertex")
        key = F.concat_ws(
            ":", F.col("walk_id"), F.lit(str(t)), F.col("dst"),
            F.lit(str(seed)),
        )
        cand = cand.select(
            "walk_id",
            F.struct(
                hash64(key, hash_fn).alias("h"),
                F.col("dst").alias("v"),
            ).alias("hv"),
        )
        return cand.groupBy("walk_id").agg(F.min("hv").alias("hv")).select(
            "walk_id", F.col("hv.v").alias("vertex")
        )

    try:
        if length > 0:
            walking = Probe(n=F.count(F.lit(1)))
            iterate(frontier, _step, walking.drained("n", keep=steps), length,
                    probe=walking)
    finally:
        e.unpersist()
    # steps[t] is step t: a drained loop keeps no empty frontier
    return union_all([
        fr.select("walk_id", F.lit(t).alias("step"), "vertex")
        for t, fr in enumerate(steps)
    ])


def skipgram_pairs(
    edges: DataFrame,
    length: int,
    window: int = 2,
    walks_per_vertex: int = 1,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    with_ppmi: bool = True,
) -> DataFrame:
    """Skip-gram training pairs from the deterministic walks — the
    DeepWalk co-occurrence stage (Perozzi et al. KDD'14):
    ``(u, v, cnt[, ppmi])`` where cnt counts ordered (center, context)
    co-occurrences within ``window`` steps inside one walk, and
    ``ppmi`` is the positive pointwise mutual information
    ``max(ln(cnt·T / (c_u·c_v)), 0)`` (Levy & Goldberg 2014: the
    implicit word2vec factorization target) with c_u/c_v the center/
    context marginals and T the total pair count.

    One self-join of the walk table keyed on walk_id (each walk is
    tiny, so the join blows up by ≤ 2·window per row), then
    map-side-combinable counts; the PPMI marginals are two O(distinct
    pairs) aggregates and one broadcast scalar. Fully deterministic —
    the same corpus gives byte-identical training pairs on any
    partitioning (``hash_fn="md5"`` makes it ANSI-replayable).
    """
    w = random_walks(
        edges, length, walks_per_vertex, seed=seed, hash_fn=hash_fn
    ).localCheckpoint()
    a = w.select("walk_id", F.col("step").alias("_sa"), F.col("vertex").alias("u"))
    b = w.select("walk_id", F.col("step").alias("_sb"), F.col("vertex").alias("v"))
    pairs = (
        a.join(b, "walk_id")
        .where(
            (F.col("_sa") != F.col("_sb"))
            & (F.abs(F.col("_sa") - F.col("_sb")) <= window)
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    if not with_ppmi:
        return pairs
    cu = pairs.groupBy("u").agg(F.sum("cnt").alias("_cu"))
    cv = pairs.groupBy("v").agg(F.sum("cnt").alias("_cv"))
    tot = pairs.agg(F.sum("cnt").alias("_t"))
    return (
        pairs.join(cu, "u")
        .join(cv, "v")
        .crossJoin(F.broadcast(tot))
        .select(
            "u", "v", "cnt",
            F.greatest(
                F.log(
                    F.col("cnt").cast("double") * F.col("_t")
                    / (F.col("_cu").cast("double") * F.col("_cv"))
                ),
                F.lit(0.0),
            ).alias("ppmi"),
        )
    )


def node2vec_walks(
    edges: DataFrame,
    length: int,
    p: float = 1.0,
    q: float = 1.0,
    walks_per_vertex: int = 1,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    weight_col: str | None = None,
) -> DataFrame:
    """Second-order biased walks (Grover & Leskovec 2016, node2vec) —
    ``DataFrame[walk_id, step, vertex]``, same contract as
    :func:`random_walks` but with the return/in-out bias:

        w'(cur→d) = w/p  if d == prev          (return)
                    w    if d ∈ N(prev)        (BFS-ish, distance 1)
                    w/q  otherwise             (DFS-ish, distance 2)

    where N(prev) is the UNDIRECTED neighborhood. Step 1 (no previous
    vertex) is the plain weight-proportional pick. The next step is
    the same deterministic inverse-CDF rule as the weighted walks —
    u = hash(walk_id : t : seed) ∈ [0, 1), first dst in ascending
    order whose cumulative biased weight exceeds u·Σw' — so walks are
    reproducible across runs/partitionings/engines, one candidate row
    per edge, and ANSI-replayable (``hash_fn="md5"``; p and q chosen
    as powers of two keep every biased weight a dyadic rational, so
    the oracle matches bit-for-bit regardless of summation order).

    Per step: one frontier ⋈ edges join, one LEFT join against the
    distinct undirected pair set (the d ∈ N(prev) test — the only
    cost node2vec adds over first-order walks), and the windowed CDF
    pick keyed on walk_id. The pair set is O(E) but skinny (two
    longs) and pre-partitioned once.
    """
    if length < 0 or walks_per_vertex < 1:
        raise ValueError("length must be >= 0, walks_per_vertex >= 1")
    if p <= 0 or q <= 0:
        raise ValueError("p and q must be positive")
    from pyspark.sql import Window

    spark = edges.sparkSession
    P = spark.sparkContext.defaultParallelism
    if weight_col is not None:
        e = (
            edges.select(
                "src", "dst", F.col(weight_col).cast("double").alias("_wt")
            )
            .where(F.col("_wt") > 0)
            .groupBy("src", "dst")
            .agg(F.sum("_wt").alias("_wt"))
        )
    else:
        e = edges.select("src", "dst").distinct().withColumn(
            "_wt", F.lit(1.0)
        )
    e = e.repartition(P, "src").persist()
    und = (
        e.select(
            F.least("src", "dst").alias("_ua"),
            F.greatest("src", "dst").alias("_ub"),
        )
        .distinct()
        .repartition(P, "_ua")
        .persist()
    )
    e.count(), und.count()
    vertices = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    W = walks_per_vertex
    frontier = vertices.crossJoin(
        spark.range(W).select(F.col("id").alias("_w"))
    ).select(
        (F.col("id") * W + F.col("_w")).alias("walk_id"),
        F.lit(None).cast("long").alias("prev"),
        F.col("id").alias("vertex"),
    ).localCheckpoint()

    steps = [frontier]

    def _step(fr: DataFrame, t: int) -> DataFrame:
        cand = e.join(
            fr.select(F.col("vertex").alias("src"), "walk_id", "prev"),
            "src",
        ).select("walk_id", "prev", F.col("src").alias("_cur"), "dst", "_wt")
        # d ∈ N(prev) marker via the undirected pair set
        cand = cand.join(
            und.select("_ua", "_ub", F.lit(True).alias("_adj")),
            (F.least("prev", "dst") == F.col("_ua"))
            & (F.greatest("prev", "dst") == F.col("_ub")),
            "left",
        )
        biased = (
            F.when(F.col("prev").isNull(), F.col("_wt"))
            .when(F.col("dst") == F.col("prev"), F.col("_wt") / F.lit(p))
            .when(F.col("_adj"), F.col("_wt"))
            .otherwise(F.col("_wt") / F.lit(q))
        )
        ukey = F.concat_ws(
            ":", F.col("walk_id"), F.lit(str(t)), F.lit(str(seed))
        )
        h = hash64(ukey, hash_fn)
        if hash_fn == "md5":
            u = h / F.lit(float(1 << 60))
        else:
            u = (h.cast("double") + F.lit(2.0**63)) / F.lit(2.0**64)
        u = F.least(u, F.lit(1.0 - 2.0**-53))
        wcum = Window.partitionBy("walk_id").orderBy("dst")
        wtot = Window.partitionBy("walk_id")
        picked = (
            cand.select("walk_id", "_cur", "dst", biased.alias("_bw"))
            .withColumn("_cum", F.sum("_bw").over(wcum))
            .withColumn("_tot", F.sum("_bw").over(wtot))
            .where(F.col("_cum") > u * F.col("_tot"))
        )
        return picked.groupBy("walk_id").agg(
            F.min(F.struct(F.col("dst"), F.col("_cur"))).alias("_pick")
        ).select(
            "walk_id",
            F.col("_pick._cur").alias("prev"),
            F.col("_pick.dst").alias("vertex"),
        )

    try:
        if length > 0:
            walking = Probe(n=F.count(F.lit(1)))
            iterate(frontier, _step, walking.drained("n", keep=steps), length,
                    probe=walking)
    finally:
        e.unpersist()
        und.unpersist()
    return union_all([
        fr.select("walk_id", F.lit(t).alias("step"), "vertex")
        for t, fr in enumerate(steps)
    ])
