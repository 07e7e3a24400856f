"""Local personalized PageRank via batched forward push.

Andersen, Chung & Lang, "Local Graph Partitioning using PageRank
Vectors" (FOCS 2006): maintain an estimate p and a residual r with the
invariant

    ppr_seed = p + Σ_v r(v) · ppr_v        (exact, every step)

and repeatedly PUSH any vertex whose residual exceeds its threshold:
p(v) += α·r(v), each out-neighbor's residual gains (1-α)·r(v)/d(v),
r(v) drops to 0. Work is proportional to the residual mass moved —
O(1/(α·ε)) pushes total, INDEPENDENT OF GRAPH SIZE — which is why
push is the web-scale algorithm for single-source PPR: a query about
one page touches only that page's neighborhood, never the 10^9-vertex
rank vector. This implementation batches the push (all over-threshold
vertices push simultaneously per round — the Jacobi form of ACL's
Gauss-Seidel loop; the invariant is preserved verbatim) so each round
is one bounded join + one combinable aggregate.

Error certificate, computable in-engine with no oracle: pushing moves
α·r(v) into Σp and removes exactly α·r(v) from Σr, so Σp + Σr = 1
always; since 0 ≤ ppr_v(t) ≤ 1, the invariant gives, for every t,

    |ppr_seed(t) − p(t)| ≤ Σ_v r(v) = 1 − Σ_v p(v).

Dangling vertices route their pushed (1-α)·r mass back to the seed —
the same convention the engine's exact personalized PageRank
(``dangling="redistribute"``, ``personalize=[seed]``) uses, so the two
agree in the limit.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.iterate import Probe, iterate


@dataclass
class PushResult:
    """A push run's touched frontier and how it ended.

    ``converged`` is True when no vertex is left above its push
    threshold — also when the last of ``max_rounds`` rounds drained the
    frontier, and with ``rounds == 0`` when the start vertex never
    exceeded it. It is False only when ``max_rounds`` ran out with
    active vertices left.
    """

    estimates: DataFrame  # (id, p, r) — only TOUCHED vertices
    rounds: int
    converged: bool


def _push_rounds(
    flagged: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
) -> PushResult:
    """Run ``step`` on a state flagged with a boolean ``act`` column
    until no row is active or ``max_rounds`` pushes ran.

    ``step`` returns the next state already flagged, so the harness's
    one eager checkpoint per round serves both the next round's
    push/keep branches and the stop test, whose active count is
    observed on that job. A start state with nothing active
    runs no round at all. The flag columns are dropped from the result.
    """

    active = Probe(n=F.count_if(F.col("act")))
    if active.of(flagged)["n"] == 0:
        st, rounds, done = flagged, 0, True
    else:
        st, rounds, done = iterate(
            flagged, step, active.drained("n"), max_rounds, probe=active
        )
    return PushResult(st.drop("deg", "act"), rounds, done)


def _settle(
    st: DataFrame, inc: DataFrame, keys: list[str], alpha: float
) -> DataFrame:
    """One push's bookkeeping on the flagged ``(*keys, p, r, …, act)``
    state: every active row moves ``α·r`` into ``p`` and drops its
    residual, and the pushed mass ``inc`` (``*keys, dr``) lands on the
    receivers' residuals — one sum-combinable aggregate on ``keys``.
    """
    kept = st.select(
        *keys,
        (F.col("p") + F.when(F.col("act"), alpha * F.col("r"))
         .otherwise(F.lit(0.0))).alias("p"),
        F.when(F.col("act"), F.lit(0.0)).otherwise(F.col("r")).alias("r"),
    )
    return (
        kept.unionByName(
            inc.select(*keys, F.lit(0.0).alias("p"), F.col("dr").alias("r"))
        )
        .groupBy(*keys)
        .agg(F.sum("p").alias("p"), F.sum("r").alias("r"))
    )


def ppr_push(
    edges: DataFrame,
    seed: int,
    alpha: float = 0.15,
    eps_push: float = 1e-6,
    max_rounds: int = 200,
) -> PushResult:
    """Single-seed PPR estimates by batched forward push.

    ``alpha`` is the restart probability (= 1 − damping; 0.15 matches
    the engine's d = 0.85 exact PPR). A vertex pushes while
    ``r(v) > eps_push · out_deg(v)`` (dangling: ``r(v) > eps_push``).
    Returns only the TOUCHED frontier — vertices never reached keep
    the implicit (p, r) = (0, 0); ``sum(p)`` certifies the global
    max-error bound ``1 − sum(p)`` over ALL vertices, reached or not.

    This is :func:`ppr_push_keyed` with the one seed and the ``seed``
    column dropped.

    Scale shape per round: the state frame holds O(touched) skinny
    rows; one join of the pushing subset against the out-edge table on
    ``src`` + one sum-combinable aggregate on the receiver id. Work
    tracks residual mass (O(1/(α·ε)) pushes), not graph size — the
    locality property is pytest-pinned (an untouched component never
    enters the state).
    """
    res = ppr_push_keyed(edges, [seed], alpha, eps_push, max_rounds)
    return PushResult(res.estimates.drop("seed"), res.rounds, res.converged)


def ppr_push_keyed(
    edges: DataFrame,
    seeds: list[int],
    alpha: float = 0.15,
    eps_push: float = 1e-6,
    max_rounds: int = 200,
) -> PushResult:
    """Batched forward push for MANY seeds in one run — every seed
    rides as a key column through the same per-round join + aggregate,
    the push twin of ``personalized_pagerank_keyed`` (exact E26).
    A PPR-query service answers a whole batch of page questions with
    one pass whose state is Σ_seeds O(touched_seed) skinny rows; the
    per-seed certificate max|ppr_s − p_s| ≤ 1 − Σ p_s(v) holds
    independently per key (the invariant is per-seed).

    Returns ``(seed, id, p, r)`` over touched pairs.
    """
    if not 0 < alpha < 1:
        raise ValueError("ppr_push: alpha must be in (0, 1)")
    if not seeds:
        raise ValueError("ppr_push_keyed: empty seed list")
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    # materialized ONCE: every round joins the state against od and w,
    # and an unpersisted frame rebuilds the O(E) degree agg per round
    od = e.groupBy("src").agg(
        F.count(F.lit(1)).alias("_od")
    ).localCheckpoint(eager=True)
    w = e.join(od, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("_od")).alias("share")
    ).localCheckpoint(eager=True)

    def _flag(st: DataFrame) -> DataFrame:
        st = st.join(od.withColumnRenamed("src", "id"), "id", "left").select(
            "seed", "id", "p", "r",
            F.coalesce("_od", F.lit(0)).alias("deg"),
        )
        return st.withColumn(
            "act",
            F.col("r") > F.when(
                F.col("deg") > 0, F.lit(eps_push) * F.col("deg")
            ).otherwise(F.lit(eps_push)),
        )

    def _step(st: DataFrame, _round: int) -> DataFrame:
        pushing = st.where("act").select("seed", "id", "r", "deg")
        inc = (
            pushing.where(F.col("deg") > 0)
            .join(w, pushing["id"] == w["src"])
            .select(
                "seed",
                F.col("dst").alias("id"),
                ((1.0 - alpha) * F.col("r") * F.col("share")).alias("dr"),
            )
        )
        # dangling vertices route their pushed mass back to the seed
        dang = pushing.where(F.col("deg") == 0).select(
            "seed",
            F.col("seed").alias("id"),
            ((1.0 - alpha) * F.col("r")).alias("dr"),
        )
        return _flag(_settle(st, inc.unionByName(dang), ["seed", "id"], alpha))

    st = edges.sparkSession.createDataFrame(
        [(int(s), int(s), 0.0, 1.0) for s in sorted(set(seeds))],
        "seed long, id long, p double, r double",
    )
    return _push_rounds(_flag(st), _step, max_rounds)


def ppr_contributions(
    edges: DataFrame,
    target: int,
    alpha: float = 0.15,
    eps_push: float = 1e-6,
    max_rounds: int = 200,
) -> PushResult:
    """PageRank contributions to one target by batched REVERSE push.

    Andersen, Borgs, Chayes, Hopcroft, Mirrokni & Teng, "Local
    Computation of PageRank Contributions" (WAW 2007): estimate
    ``ppr_v(target)`` for EVERY source v — "who sends rank to this
    page" — by pushing along IN-edges. The estimate/residual pair
    satisfies, per vertex v,

        ppr_v(target) = p(v) + Σ_u r(u) · [u-step reachability term]

    and pushing v moves α·r(v) into p(v) and spreads
    (1−α)·r(v)/d_out(u) onto each IN-neighbor u (the share uses the
    NEIGHBOR's out-degree — the transpose of forward push). At
    termination every residual is ≤ eps_push, so the per-vertex
    additive error is ≤ eps_push — a uniform certificate, unlike
    forward push's aggregate one. The backlink-influence query behind
    spam forensics: run it on the suspect page and read off which
    sources prop it up, touching only the page's in-neighborhood.

    Dangling sources leak in this convention — a walk from a dangling
    v ends after its teleport step, so ppr_v(t) = α·[v = t] — which is
    exactly ``pagerank(dangling="leak", personalize=[v])``; the
    accuracy pytest pins that equivalence per source.

    Returns ``(id, p, r)`` for TOUCHED sources only (untouched v have
    ppr_v(target) < eps_push within the certificate).
    """
    if not 0 < alpha < 1:
        raise ValueError("ppr_contributions: alpha must be in (0, 1)")
    e = edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    od = e.groupBy("src").agg(F.count(F.lit(1)).alias("_od"))
    # reverse-push edge frame: receiver = src side, share = 1/d_out(src)
    # — materialized ONCE (every round's push joins against it)
    w = e.join(od, "src").select(
        F.col("dst").alias("from_v"),
        F.col("src").alias("to_u"),
        (F.lit(1.0) / F.col("_od")).alias("share"),
    ).localCheckpoint(eager=True)

    def _flag(st: DataFrame) -> DataFrame:
        return st.withColumn("act", F.col("r") > F.lit(eps_push))

    def _step(st: DataFrame, _round: int) -> DataFrame:
        pushing = st.where("act").select("id", "r")
        inc = (
            pushing.join(w, pushing["id"] == w["from_v"])
            .select(
                F.col("to_u").alias("id"),
                ((1.0 - alpha) * F.col("r") * F.col("share")).alias("dr"),
            )
        )
        return _flag(_settle(st, inc, ["id"], alpha))

    st = edges.sparkSession.createDataFrame(
        [(int(target), 0.0, 1.0)], "id long, p double, r double"
    )
    return _push_rounds(_flag(st), _step, max_rounds)


def local_community(
    edges: DataFrame,
    seed: int,
    alpha: float = 0.15,
    eps_push: float = 1e-5,
    max_candidates: int = 10_000,
    **push_kwargs,
) -> DataFrame:
    """ACL local community detection: push + sweep cut.

    The point of forward push in Andersen-Chung-Lang (FOCS 2006) is
    LOCAL PARTITIONING: order the touched vertices by the
    degree-normalized PPR score p(v)/deg(v) and take the
    prefix with the best conductance — a community around the seed
    whose quality is provably tied to the PPR vector, found without
    ever looking at the rest of the graph. Push scores come from the
    directed walk; degrees/volume/cut use the SIMPLE UNDIRECTED
    projection — the same convention as
    :func:`~pagerank_spark.operators.labelprop.conductance`, so the
    sweep's φ is directly comparable (the gate cross-checks the two
    implementations against each other).

    Returns the best prefix as ``(id, sweep_rank, conductance)`` —
    ``conductance`` is the same value on every row (the winning
    prefix's φ); ``sweep_rank`` is the vertex's 1-based position in
    the sweep order (p/deg DESC, id ASC for determinism).

    Scale shape: the push state is O(touched); the sweep runs on at
    most ``max_candidates`` rows (top by normalized score via a top-k
    heap, never a global sort) — the candidate-internal edge join is
    bounded by the candidate set, and the prefix folds are windows
    over ≤ max_candidates rows, a documented driver-bounded frame
    (the same single-small-frame concession the rich-club suffix sums
    make).
    """
    from pyspark.sql import Window

    from pagerank_spark.operators.triangles import (
        _simple_degrees,
        _simple_undirected,
    )

    res = ppr_push(
        edges, seed=seed, alpha=alpha, eps_push=eps_push, **push_kwargs
    )
    simple = _simple_undirected(edges).localCheckpoint(eager=True)
    deg = _simple_degrees(simple)
    two_m_row = simple.count() * 2
    cand = (
        res.estimates.where(F.col("p") > 0)
        .join(deg, "id")
        .select(
            "id", "deg", (F.col("p") / F.col("deg")).alias("score")
        )
        .orderBy(F.desc("score"), "id")
        .limit(max_candidates)
    )
    wsort = Window.orderBy(F.desc("score"), "id")
    ranked = cand.select(
        "id", "deg", F.row_number().over(wsort).alias("sweep_rank")
    ).localCheckpoint(eager=True)
    # an undirected pair becomes internal at prefix k = max(rank_a,
    # rank_b) — one row per simple edge with both endpoints candidate
    ra = ranked.select(
        F.col("id").alias("_u"), F.col("sweep_rank").alias("_ru")
    )
    rb = ranked.select(
        F.col("id").alias("_v"), F.col("sweep_rank").alias("_rv")
    )
    internal_at = (
        simple.join(ra, simple["a"] == F.col("_u"))
        .join(rb, simple["b"] == F.col("_v"))
        .select(F.greatest("_ru", "_rv").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("new_internal"))
    )
    wcum = Window.orderBy("sweep_rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sweep = (
        ranked.join(
            internal_at, ranked["sweep_rank"] == internal_at["k"], "left"
        )
        .select(
            "id",
            "sweep_rank",
            "deg",
            F.coalesce("new_internal", F.lit(0)).alias("ni"),
        )
        .select(
            "id",
            "sweep_rank",
            F.sum("deg").over(wcum).alias("vol"),
            # cut(prefix) = vol(prefix) - 2 * internal(prefix): every
            # member's simple degree minus twice the in-prefix pairs
            (F.sum("deg").over(wcum) - 2 * F.sum("ni").over(wcum)).alias(
                "cut"
            ),
        )
        .select(
            "id",
            "sweep_rank",
            # try_divide: the prefix covering the whole volume has
            # min(vol, 2m - vol) = 0 -> NULL (ANSI-safe), filtered below
            F.try_divide(
                F.col("cut").cast("double"),
                F.least(
                    F.col("vol"), F.lit(two_m_row) - F.col("vol")
                ).cast("double"),
            ).alias("phi"),
        )
    )
    # the winning prefix: smallest phi (ties -> smallest prefix);
    # exclude the degenerate full-volume prefix (phi undefined/0-div)
    best = (
        sweep.where(F.col("phi").isNotNull() & ~F.isnan("phi"))
        .orderBy("phi", "sweep_rank")
        .limit(1)
        .select(
            F.col("sweep_rank").alias("_best_k"),
            F.col("phi").alias("_best_phi"),
        )
    )
    return (
        sweep.crossJoin(F.broadcast(best))
        .where(F.col("sweep_rank") <= F.col("_best_k"))
        .select(
            "id",
            "sweep_rank",
            F.col("_best_phi").alias("conductance"),
        )
    )
