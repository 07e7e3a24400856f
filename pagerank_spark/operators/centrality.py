"""Centrality family beyond PageRank/HITS: Katz, eigenvector,
closeness (pivot estimator) and betweenness (pivot-sampled Brandes).

Extensions beyond the C reference (it computes only PageRank,
``Page_Rank_SERIAL.c:206-279``); these are the remaining classic
centralities a link-graph engine's users reach for, expressed on the
same loop-invariant execution shapes the engine already proves out:

- **Katz / eigenvector** are gather-sum power iterations — the exact
  motion of the HITS half-step (``hits.py``) on ``plans.gather``: the
  O(E) edge table is persisted ONCE, each round moves only the O(V)
  score side (the shared broadcast / shuffle-hash policy), and the
  remaining per-round O(E) motion is the partial-aggregated message
  shuffle.
- **Betweenness** is Brandes' algorithm (Brandes 2001, "A faster
  algorithm for betweenness centrality") with the pivot-sampling
  estimator (Brandes & Pich 2007): run the forward BFS-with-path-
  counts and the backward dependency accumulation from a pivot set
  instead of every vertex. All pivots advance together in ONE keyed
  frontier (like ``paths.multi_source_bfs``), so the round count is
  2·max-eccentricity, not |pivots|·diameter. Exact when ``pivots`` is
  the full vertex set.

Scale notes: forward state is O(Σ reached) rows of (source, id, dist,
sigma) — pivot count is the knob that bounds it; each forward round
moves only the frontier, each backward round only one BFS level. No
driver-side per-vertex work; the only collects are one max-level agg
and the convergence checksums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.gather import (
    gather_sum,
    l1_converged,
    never_converged,
    score_side,
)
from pagerank_spark.plans.iterate import Probe, iterate, union_all


def _gather_ready(edges: DataFrame, weight_col: str | None):
    """(src-keyed edge table, vertices, hint) for the src-side gather.

    ``_mw`` is the per-row gather multiplier: the raw weight when
    ``weight_col`` is given, 1.0 otherwise. A multiplicity pre-fold of
    parallel unweighted edges (bit-exact for the gather sums at every
    driver SF) was A/B-measured in r6 and regressed like HITS' — the
    aggregated cache scans slower than the raw projection with the
    score side broadcast — and folding genuine float weights flipped a
    7-dp rounding boundary (katz_weighted, sf0.1); both stay reverted.
    """
    mw = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = edges.select("src", "dst", mw.alias("_mw"))
    (e,), vertices, hint = score_side(e, ["src"])
    return e, vertices, hint


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.1,
    beta: float = 1.0,
    max_iter: int = 10,
    tol: float | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Katz centrality ``x_k(v) = beta + alpha·Σ_{(u→v)} w·x_{k-1}(u)``
    starting from ``x_0 = beta``; returns ``DataFrame[id, katz]``.

    Runs exactly ``max_iter`` rounds when ``tol`` is None (the
    fixed-iteration form an external oracle can replay); with ``tol``
    set, stops early at L1 delta < tol. Duplicate edges carry
    multiplicity, matching the engine's degree semantics. ``alpha``
    must be below 1/λ_max for the series to converge — the caller's
    contract, as with NetworkX.
    """
    e, vertices, hint = _gather_ready(edges, weight_col)
    try:
        e.count()

        def _step(state: DataFrame, _round: int) -> DataFrame:
            msgs = gather_sum(e, state, "katz", "_s", weight="_mw", hint=hint)
            return vertices.join(msgs, "id", "left").select(
                "id",
                (
                    F.lit(float(beta))
                    + F.lit(float(alpha)) * F.coalesce("_s", F.lit(0.0))
                ).alias("katz"),
            )

        init = vertices.select("id", F.lit(float(beta)).alias("katz"))
        state, _rounds, _done = iterate(
            init, _step, l1_converged(["katz"], tol), max_iter
        )
    finally:
        e.unpersist()
    return state.select("id", "katz")


def eigenvector_centrality(
    edges: DataFrame,
    max_iter: int = 20,
    tol: float | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Power iteration on Aᵀ with L2 normalization per round — the
    principal eigenvector of the (in-)adjacency matrix; returns
    ``DataFrame[id, eigenvector]``.

    Exactly the authority half-step of HITS iterated alone (same
    normalize-via-broadcast-scalar trick, see
    ``hits._l2_normalized``). Vertices with no in-path from the
    dominant component converge to 0. ``tol`` stops early at L1
    delta < tol, as in :func:`katz_centrality`.
    """
    from pagerank_spark.operators.hits import _l2_normalized

    e, vertices, hint = _gather_ready(edges, weight_col)
    try:
        e.count()

        def _step(state: DataFrame, _round: int) -> DataFrame:
            msgs = gather_sum(
                e, state, "eigenvector", "_s", weight="_mw", hint=hint
            )
            raw = vertices.join(msgs, "id", "left").select(
                "id", F.coalesce("_s", F.lit(0.0)).alias("eigenvector")
            )
            return _l2_normalized(raw, "eigenvector")

        init = vertices.select("id", F.lit(1.0).alias("eigenvector"))
        # checkpoint=False: _l2_normalized already materializes each round
        state, _rounds, _done = iterate(
            init, _step, l1_converged(["eigenvector"], tol), max_iter,
            checkpoint=False,
        )
    finally:
        e.unpersist()
    return state.select("id", "eigenvector")


def brandes_forward(
    edges: DataFrame, pivots: list[int], max_iter: int = 50
) -> DataFrame:
    """Keyed BFS with shortest-path counts: one row per (pivot,
    reached vertex) — ``DataFrame[source, id, dist, sigma]`` where
    ``sigma`` is the number of shortest source→id paths (parallel
    edges count as distinct paths, consistent with the engine's
    multiplicity-carrying degree semantics).

    Frontier-driven: each round joins ONLY the newest level against
    the pre-partitioned edge table, aggregates path counts by
    (source, dst), and anti-joins the already-settled set — in a BFS
    every vertex settles at its first reachable level, so the
    anti-join is exact, not an approximation.

    Each level is one ``plans.iterate`` round: the harness checkpoints
    its frame ONCE, and the pass stops when that checkpoint job observes
    an empty level (``Probe.drained``, no job of its own). The settled
    set the anti-join scans is a lazy union over the level frames
    (read-only scans of already-materialized blocks), and the full
    result is unioned once at the end. Re-checkpointing the growing
    union every level would instead REWRITE O(reached-so-far) rows per
    round — O(depth × reached) total writes, the dominant cost at
    full-vertex-set exactness on a high-diameter graph.
    """
    if not pivots:
        raise ValueError("pivots must be non-empty")
    spark = edges.sparkSession
    P = spark.sparkContext.defaultParallelism
    # parallel edges collapse to an integer multiplicity: path counts
    # are integers carried in doubles, and integer products/sums below
    # 2^53 are EXACT in fp64 regardless of order, so sum(sigma * m) is
    # bit-identical to summing one term per parallel instance — while
    # each level's message join moves duplication-factor fewer rows.
    # (The backward dependency pass keeps the raw edge table: its
    # sigma-ratio terms are genuine floats where a collapse could
    # reassociate the rounding.)
    e = (
        edges.select("src", "dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("_m"))
        .repartition(P, "src")
        .persist()
    )
    try:
        e.count()
        init = spark.createDataFrame(
            [(int(s), int(s), 0, 1.0) for s in set(pivots)],
            "source long, id long, dist long, sigma double",
        ).localCheckpoint()
        frames = [init]
        new_pairs = Probe(n=F.count(F.lit(1)))

        def _level(frontier: DataFrame, level: int) -> DataFrame:
            msgs = (
                e.join(frontier.withColumnRenamed("id", "src"), "src")
                .groupBy("source", F.col("dst").alias("id"))
                .agg(F.sum(F.col("sigma") * F.col("_m")).alias("sigma"))
            )
            settled = union_all([f.select("source", "id") for f in frames])
            return msgs.join(settled, ["source", "id"], "left_anti").select(
                "source", "id", F.lit(level).cast("long").alias("dist"), "sigma"
            )

        iterate(
            init, _level, new_pairs.drained("n", keep=frames), max_iter,
            warn=(
                f"brandes_forward stopped at max_iter={max_iter} with a "
                "non-empty frontier; betweenness dependencies would "
                "accumulate over a TRUNCATED shortest-path DAG — raise "
                "max_iter above the graph diameter"
            ),
            probe=new_pairs,
        )
    finally:
        e.unpersist()
    return union_all(frames)


def betweenness_centrality(
    edges: DataFrame,
    pivots: list[int],
    max_iter: int = 50,
    normalized: bool = False,
) -> DataFrame:
    """Pivot-sampled Brandes betweenness over DIRECTED edges:
    ``DataFrame[id, betweenness]`` with
    ``betweenness(v) = Σ_{s ∈ pivots, s≠v} Σ_{t} σ_st(v)/σ_st``
    (the dependency sum δ_s(v) accumulated per pivot; exact directed
    betweenness when ``pivots`` is the full vertex set — symmetrize
    and halve upstream for the undirected convention).

    Phase 1 (forward) is ``brandes_forward``; phase 2 walks BFS levels
    deepest-first: the dependency of a level-(l−1) vertex v is
    ``δ(v) = Σ_{(v→w), dist(w)=dist(v)+1} σ(v)/σ(w) · (1 + δ(w))``,
    one bounded join per level, every pivot's level-l slice processed
    in the same round. ``normalized=True`` divides by
    ``(|pivots|)·(n−2)`` — the sampled analogue of the 1/((n−1)(n−2))
    directed normalization, with n from the reached vertex set.
    """
    levels, deltas, e = _brandes_dependencies(edges, pivots, max_iter)
    e.unpersist()
    out = (
        deltas.where(F.col("id") != F.col("source"))
        .groupBy("id")
        .agg(F.sum("delta").alias("betweenness"))
    )
    if normalized:
        n = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .count()
        )
        k = len(set(pivots))
        denom = float(k * max(n - 2, 1))
        out = out.select(
            "id", (F.col("betweenness") / F.lit(denom)).alias("betweenness")
        )
    return out


def _brandes_dependencies(
    edges: DataFrame, pivots: list[int], max_iter: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Forward levels + backward vertex dependencies:
    ``(levels, deltas, e_dst)`` where ``deltas[source, id, delta]``
    holds each reached vertex's settled dependency (computed exactly
    once, at its own BFS level) and ``e_dst`` is the still-persisted
    dst-keyed edge copy (caller unpersists)."""
    spark = edges.sparkSession
    P = spark.sparkContext.defaultParallelism
    levels = brandes_forward(edges, pivots, max_iter)
    # one persisted dst-keyed copy for the backward joins (the forward
    # pass used a src-keyed one; both phases keep the fat side parked)
    e = edges.select("src", "dst").repartition(P, "dst").persist()
    e.count()
    lmax_row = levels.agg(F.max("dist").alias("m")).collect()[0]
    lmax = int(lmax_row["m"] or 0)

    # A vertex at dist d gets its dependency settled in the round that
    # processes level d+1 (where it is the predecessor side) — i.e. the
    # round IMMEDIATELY BEFORE level d is the w-side. So the w-side
    # left join only ever needs the PREVIOUS round's frame, not a
    # growing accumulation: per-round state is O(level size), and the
    # full delta table is one lazy union over the per-level
    # checkpoints at the end (no O(depth × reached) rewrite).
    prev = spark.createDataFrame(
        [], "source long, id long, delta double"
    ).localCheckpoint()
    frames = []
    for level in range(lmax, 0, -1):
        # w-side: vertices AT this level, with their settled dependency
        w = (
            levels.where(F.col("dist") == level)
            .join(prev, ["source", "id"], "left")
            .select(
                "source",
                F.col("id").alias("dst"),
                F.col("sigma").alias("_sw"),
                F.coalesce("delta", F.lit(0.0)).alias("_dw"),
            )
        )
        # predecessors: v at level-1 with an edge v→w (per pivot)
        v = levels.where(F.col("dist") == level - 1).select(
            "source", F.col("id").alias("src"), F.col("sigma").alias("_sv")
        )
        new = (
            e.join(w, "dst")
            .join(v, ["source", "src"])
            .groupBy("source", F.col("src").alias("id"))
            .agg(
                F.sum(
                    F.col("_sv") / F.col("_sw") * (F.lit(1.0) + F.col("_dw"))
                ).alias("delta")
            )
            .localCheckpoint()
        )
        frames.append(new)
        prev = new
    return levels, (union_all(frames) if frames else prev), e


def edge_betweenness(
    edges: DataFrame,
    pivots: list[int],
    max_iter: int = 50,
    normalized: bool = False,
) -> DataFrame:
    """Pivot-sampled EDGE betweenness (the Girvan-Newman edge score):
    ``DataFrame[src, dst, betweenness]`` over directed edge instances,
    with ``betweenness(e) = Σ_{s,t} σ_st(e)/σ_st`` sampled over
    ``pivots`` as sources (exact when pivots is the full vertex set).

    Shares the Brandes forward/backward passes with
    :func:`betweenness_centrality`; since every vertex's dependency is
    settled exactly once at its own BFS level, the per-edge score is
    ONE post-pass over consecutive-level edges —
    ``σ(v)/σ(w) · (1 + δ(w))`` summed across pivots and parallel
    instances — not a per-level accumulation. ``normalized=True``
    divides by ``|pivots| · (n − 1)``, the sampled count of ordered
    source→target pairs.
    """
    levels, deltas, e = _brandes_dependencies(edges, pivots, max_iter)
    w = levels.join(deltas, ["source", "id"], "left").select(
        "source",
        F.col("id").alias("dst"),
        F.col("dist").alias("_dw_dist"),
        F.col("sigma").alias("_sw"),
        F.coalesce("delta", F.lit(0.0)).alias("_dw"),
    )
    v = levels.select(
        "source", F.col("id").alias("src"),
        F.col("dist").alias("_dv_dist"), F.col("sigma").alias("_sv"),
    )
    out = (
        e.join(w, "dst")
        .join(v, ["source", "src"])
        .where(F.col("_dw_dist") == F.col("_dv_dist") + 1)
        .groupBy("src", "dst")
        .agg(
            F.sum(
                F.col("_sv") / F.col("_sw") * (F.lit(1.0) + F.col("_dw"))
            ).alias("betweenness")
        )
        # materialize while the dst-keyed edge cache is still alive —
        # unpersisting first would make the final join recompute and
        # reshuffle the edge table from scratch
        .localCheckpoint()
    )
    e.unpersist()
    if normalized:
        n = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .count()
        )
        denom = float(len(set(pivots)) * max(n - 1, 1))
        out = out.select(
            "src", "dst",
            (F.col("betweenness") / F.lit(denom)).alias("betweenness"),
        )
    return out


def personalized_pagerank_keyed(
    edges: DataFrame,
    seeds: list[int],
    d: float = 0.85,
    iters: int = 10,
) -> DataFrame:
    """Personalized PageRank for MANY seeds in one keyed pass:
    ``DataFrame[seed: long, id: long, rank: double]`` after exactly
    ``iters`` synchronous iterations per seed — the batched
    node-similarity form (PPR rows are the standard graph-recsys /
    node-embedding feature; one keyed computation replaces |S|
    sequential runs, the same consolidation as ``multi_source_bfs``).

    Semantics per seed match the engine's single-seed
    ``pagerank(personalize=[s], dangling="redistribute")``: teleport
    and dangling mass land entirely on the seed, duplicate edges carry
    mass. Only REACHED (nonzero-rank) vertices appear — state is
    O(Σ reached), bounded by the seed count.

    Per iteration (an ``iterate`` round, checkpointed every round —
    the gather and the dangling aggregate both scan the state): one
    join moving the O(state) rank side against the once-partitioned
    edge table, a map-side-combined (seed, dst) aggregate, and one tiny
    per-seed dangling aggregate.
    """
    if not seeds:
        raise ValueError("seeds must be non-empty")
    spark = edges.sparkSession
    P = spark.sparkContext.defaultParallelism
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_od"))
    # parallel edges collapse to one row carrying m·d/od: duplicate
    # (src, dst) instances contribute identical per-edge shares, so the
    # gather's Σ _w·rank is the same sum with the duplicate terms
    # pre-folded — values verified bit-exact against the oracle at
    # every driver SF (the gate rounds to 7 dp, far above the ulp-level
    # reassociation this can introduce) — while every iteration's O(E)
    # join moves duplication-factor fewer rows
    ew = (
        edges.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_m"))
        .join(out_deg, "src")
        .select(
            "src",
            "dst",
            (F.col("_m") * F.lit(float(d)) / F.col("_od")).alias("_w"),
        )
        .repartition(P, "src")
        .persist()
    )
    try:
        ew.count()
        # dangling = any vertex that can hold rank but has no out-edges:
        # dst-only ids PLUS off-graph seeds (a seed absent from the edge
        # list is dangling too — without this, d of its mass would
        # vanish every iteration and per-seed ranks would stop summing
        # to 1)
        seed_ids = spark.createDataFrame(
            [(int(s),) for s in set(seeds)], "id long"
        )
        dangling = (
            edges.select(F.col("dst").alias("id"))
            .union(seed_ids)
            .distinct()
            .join(
                edges.select(F.col("src").alias("id")).distinct(),
                "id",
                "left_anti",
            )
            .localCheckpoint()
        )
        seed_keys = seed_ids.withColumnRenamed("id", "seed")

        def _step(state: DataFrame, _round: int) -> DataFrame:
            gathered = gather_sum(
                ew, state, "rank", "rank", weight="_w", keys=["seed"]
            )
            dm = (
                state.join(dangling, "id", "left_semi")
                .groupBy("seed")
                .agg(F.sum("rank").alias("_dm"))
            )
            seed_rows = seed_keys.join(dm, "seed", "left").select(
                "seed",
                F.col("seed").alias("id"),
                (
                    F.lit(1.0 - d)
                    + F.lit(float(d)) * F.coalesce("_dm", F.lit(0.0))
                ).alias("rank"),
            )
            return (
                gathered.unionByName(seed_rows)
                .groupBy("seed", "id")
                .agg(F.sum("rank").alias("rank"))
            )

        init = spark.createDataFrame(
            [(int(s), int(s), 1.0) for s in set(seeds)],
            "seed long, id long, rank double",
        )
        state, _rounds, _done = iterate(init, _step, never_converged, iters)
    finally:
        ew.unpersist()
    return state


def trustrank(
    edges: DataFrame,
    seeds: list[int],
    n: int | None = None,
    d: float = 0.85,
    eps: float = 0.0,
    max_iter: int | None = None,
    **pagerank_kwargs,
) -> DataFrame:
    """TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004):
    personalized PageRank whose teleport — and, in redistribute mode,
    dangling mass — returns only to a hand-vetted trusted seed set, so
    trust decays along links and spam farms far from the seeds score
    near zero. Returns ``(id, trust)`` over the dense vertex space.

    This is the seed-propagation half of the published algorithm (seed
    SELECTION, inverse-PageRank + human review, is an offline editorial
    step). Same execution shapes as :func:`~pagerank_spark.operators.
    pagerank.pagerank` — zero-shuffle blocks mode or co-partitioned
    join mode.
    """
    from pagerank_spark.operators.pagerank import pagerank

    res = pagerank(
        edges, n=n, d=d, eps=eps, max_iter=max_iter,
        dangling="redistribute", personalize=sorted(set(seeds)),
        **pagerank_kwargs,
    )
    return res.ranks.select("id", F.col("rank").alias("trust"))


def spam_mass(
    edges: DataFrame,
    seeds: list[int],
    n: int | None = None,
    d: float = 0.85,
    eps: float = 0.0,
    max_iter: int | None = None,
    **pagerank_kwargs,
) -> DataFrame:
    """Spam-mass estimation (Gyongyi et al. 2004 §5): the share of a
    page's PageRank NOT backed by trusted sources. Computes global
    PageRank ``rank`` and :func:`trustrank` ``trust`` over the same
    graph, then ``spam_mass = rank - trust`` and ``rel_spam_mass =
    spam_mass / rank`` (0 where rank is 0) — pages with high relative
    spam mass are link-spam candidates. Returns
    ``(id, rank, trust, spam_mass, rel_spam_mass)``.

    One extra O(V) co-partitioned join on top of the two rank runs;
    both runs reuse the same prepared edge layout arguments.

    ``eps=0.0`` (exact fixed-k replay mode, used by the oracle gates)
    requires an explicit ``max_iter`` — a zero residual target alone
    never stops the do-while loop.
    """
    from pagerank_spark.operators.pagerank import pagerank

    if eps <= 0.0 and max_iter is None:
        raise ValueError(
            "spam_mass: eps=0.0 needs an explicit max_iter "
            "(a zero residual target never converges)"
        )

    pr = pagerank(
        edges, n=n, d=d, eps=eps, max_iter=max_iter,
        dangling="redistribute", **pagerank_kwargs,
    ).ranks
    tr = trustrank(
        edges, seeds, n=n, d=d, eps=eps, max_iter=max_iter,
        **pagerank_kwargs,
    )
    mass = F.col("rank") - F.col("trust")
    return pr.join(tr, "id").select(
        "id",
        "rank",
        "trust",
        mass.alias("spam_mass"),
        F.when(F.col("rank") > 0, mass / F.col("rank"))
        .otherwise(F.lit(0.0))
        .alias("rel_spam_mass"),
    )


def _reversed(edges: DataFrame) -> DataFrame:
    """Transpose the edge table (dst→src), preserving any weight column."""
    extra = [c for c in edges.columns if c not in ("src", "dst")]
    return edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), *extra
    )


def cheirank(
    edges: DataFrame,
    n: int | None = None,
    d: float = 0.85,
    eps: float = 1e-4,
    max_iter: int | None = None,
    **pagerank_kwargs,
):
    """CheiRank — PageRank of the TRANSPOSED link graph (Chepelianskii
    2010; Zhirov, Zhirov & Shepelyansky, "Two-dimensional ranking of
    Wikipedia articles", EPJ B 2010): where PageRank rewards being
    cited, CheiRank rewards citing broadly — the "communicativity"
    axis of the standard 2D (PageRank × CheiRank) web-page plane; spam
    farms sit in the high-PageRank/low-CheiRank corner.

    Implementation is exactly :func:`~pagerank_spark.operators.
    pagerank.pagerank` on the dst→src transposed edge table — the
    transpose is a zero-cost column swap (no shuffle; the downstream
    block build re-partitions either way), so every mode, dangling
    policy, weighting and checkpoint knob carries over unchanged.
    Returns the full :class:`PageRankResult` (ranks sum to 1).
    """
    from pagerank_spark.operators.pagerank import pagerank

    return pagerank(
        _reversed(edges), n=n, d=d, eps=eps, max_iter=max_iter,
        **pagerank_kwargs,
    )


def anti_trustrank(
    edges: DataFrame,
    spam_seeds: list[int],
    n: int | None = None,
    d: float = 0.85,
    eps: float = 0.0,
    max_iter: int | None = None,
    **pagerank_kwargs,
) -> DataFrame:
    """Anti-TrustRank (Krishnan & Raj, AIRWeb 2006): propagate
    DISTRUST from a hand-vetted spam seed set along REVERSED links —
    a page linking INTO known spam inherits suspicion. Returns
    ``(id, distrust)``; high scores flag likely spam, the complement
    of :func:`trustrank`'s whitelist propagation (the published spam
    pipeline thresholds a combination of both).

    Composition: :func:`trustrank` (personalized redistribute-mode
    PageRank) on the transposed edge table — one column swap, zero new
    iteration machinery.
    """
    tr = trustrank(
        _reversed(edges), spam_seeds, n=n, d=d, eps=eps,
        max_iter=max_iter, **pagerank_kwargs,
    )
    return tr.select("id", F.col("trust").alias("distrust"))


def leaderrank(
    edges: DataFrame,
    n: int | None = None,
    eps: float = 1e-6,
    max_iter: int | None = None,
    **pagerank_kwargs,
) -> DataFrame:
    """LeaderRank (Lü, Zhang, Yeung & Zhou, "Leaders in social
    networks, the Delicious case", PLoS ONE 2011): parameter-free
    ranking via a GROUND NODE g wired bidirectionally to every vertex,
    then an undamped (d = 1) random walk — the ground edges make the
    chain strongly connected and aperiodic, replacing PageRank's
    teleport knob. After convergence the ground node's score is
    redistributed evenly: ``score(v) = rank(v) + rank(g)/n``. More
    tolerant to noisy/spammy links than PageRank in the published
    benchmarks, with no damping factor to tune.

    Returns ``(id, rank, score)`` over the original vertex space
    (the ground node row is folded in, not emitted).

    Scale shape: the augmentation adds 2n skinny rows to the edge
    table (a `range` union, no shuffle of its own), then it is exactly
    one :func:`~pagerank_spark.operators.pagerank.pagerank` run —
    blocks or join mode, same salting/checkpoint knobs. The augmented
    graph has no dangling vertices by construction (every v points at
    g), so the d = 1 walk conserves mass without any dangling pass.

    Convergence caveat: with d = 1 there is no damping-based
    contraction guarantee — the rate is set by the augmented chain's
    second eigenvalue, and the default unbounded loop
    (``max_iter=None``) can run long on slowly-mixing graphs. For
    production runs on unknown graphs pass a finite ``max_iter``
    budget (the ground edges make mixing fast on typical link graphs,
    which is why the published method leaves it unbounded).
    """
    from pagerank_spark.operators.pagerank import pagerank

    spark = edges.sparkSession
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    if n is None:
        row = e.agg(
            F.max(F.greatest("src", "dst")).alias("m")
        ).first()
        if row is None or row["m"] is None:
            raise ValueError("leaderrank: empty edge table")
        n = int(row["m"]) + 1
    ground = n
    vs = spark.range(n).select(F.col("id").cast("long").alias("v"))
    aug = (
        e.union(vs.select(F.col("v").alias("src"), F.lit(ground).cast("long").alias("dst")))
        .union(vs.select(F.lit(ground).cast("long").alias("src"), F.col("v").alias("dst")))
    )
    res = pagerank(
        aug, n=n + 1, d=1.0, eps=eps, max_iter=max_iter,
        dangling="redistribute", **pagerank_kwargs,
    )
    g_rank = res.ranks.where(F.col("id") == ground).select(
        F.col("rank").alias("_g")
    )
    return (
        res.ranks.where(F.col("id") != ground)
        .crossJoin(F.broadcast(g_rank))
        .select(
            "id",
            "rank",
            (F.col("rank") + F.col("_g") / F.lit(float(n))).alias("score"),
        )
    )
