"""k-core extraction by iterative peeling.

Extension beyond the C reference (SURVEY.md §2.3 family): the k-core
is the maximal subgraph of the UNDIRECTED SIMPLE graph in which every
vertex has degree ≥ k — the standard coreness filter a link-graph
pipeline runs before expensive per-vertex analytics (spam farms and
leaf pages peel away; the dense core survives).

Peeling is a textbook fixpoint on the ``plans.iterate`` harness: each
round computes induced degrees (one map-side-combinable aggregate),
drops vertices below k (two left-semi joins against the surviving
vertex set), and stops when the edge count is stable or 0 — degrees
only ever decrease, so a stable count IS the fixpoint, and so is an
empty edge set; both are observed on the harness's per-round checkpoint
job (no probe job). Lineage is truncated per round by the harness.
At 100 TB each round is bounded shuffles over a monotonically SHRINKING
edge set; rounds-to-fixpoint is small in practice (degenerate
long-chain peels are bounded by ``max_iter``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pagerank_spark.operators.triangles import (
    _common,
    _neighbours,
    _simple_degrees,
    _simple_undirected,
    _support,
)
from pagerank_spark.plans.iterate import Probe, iterate


def _peeled(probe: Probe):
    """Stop test of a peel: the edge count ``c`` is unchanged, or 0 (an
    empty edge set is a fixpoint, so a round more would only confirm it)."""
    drained, unchanged = probe.drained("c"), probe.unchanged()
    return lambda prev, new, r: drained(prev, new, r) or unchanged(prev, new, r)


def k_core(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """``DataFrame[id: long]`` — vertices of the k-core.

    ``k <= 1`` returns every non-isolated vertex of the simple graph
    (the 1-core); the 0-core additionally keeps self-loop-only
    vertices, so ``k <= 0`` returns all vertices appearing in
    ``edges``. An empty result (no k-core) is a valid outcome.
    """
    if k <= 0:
        return (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    probe = Probe(c=F.count(F.lit(1)))
    state = probe.checkpoint(_simple_undirected(edges))

    def _step(e: DataFrame, _round: int) -> DataFrame:
        keep = _simple_degrees(e).where(F.col("deg") >= k).select("id")
        return (
            e.join(keep.withColumnRenamed("id", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("id", "b"), "b", "left_semi")
            .select("a", "b")
        )

    final, _rounds, done = iterate(
        state,
        _step,
        _peeled(probe),
        max_iter,
        warn=(
            f"k_core: peeling did not reach a fixpoint within "
            f"max_iter={max_iter} rounds; result may contain vertices "
            f"below the core degree"
        ),
        probe=probe,
    )
    return (
        final.select(F.col("a").alias("id"))
        .union(final.select(F.col("b").alias("id")))
        .distinct()
    )


def _h_index(msgs: DataFrame) -> DataFrame:
    """One H-index round of :func:`coreness` and :func:`trussness`:
    ``msgs`` holds ``(key, h, t)`` rows, each a neighbour's value ``t``
    already capped at the receiver's current ``h``; returns ``(key, h,
    changed)``, the largest h' such that at least h' values are ≥ h',
    and whether it differs from the current h. The stop test counts
    ``changed`` on the checkpoint job, so no round compares two states.

    The values are histogrammed by ``groupBy(key, h, t)`` first, so the
    descending cumulative-sum window sees ≤ h+1 distinct values per key,
    never a hub's raw neighbour count.
    """
    key = msgs.columns[0]
    hist = msgs.groupBy(key, "h", "t").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy(key)
        .orderBy(F.desc("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hist.select(key, "h", F.least("t", F.sum("c").over(w)).alias("m"))
        .groupBy(key, "h")
        .agg(F.max("m").alias("m"))
        .select(
            key,
            F.col("m").alias("h"),
            (F.col("m") != F.col("h")).alias("changed"),
        )
    )


def coreness(
    edges: DataFrame,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """``DataFrame[id: long, coreness: long]`` — the core number of
    every non-isolated vertex of the undirected simple graph (the
    largest k such that the vertex survives in the k-core).

    Distributed H-index fixpoint (Lü, Zhou, Zhang & Stanley, "The
    H-index of a network node and its relation to degree and
    coreness", Nature Communications 2016): starting from H₀ = degree,
    each round replaces H(v) with the H-index of its neighbors' values
    — the largest h such that at least h neighbors have H ≥ h. The
    sequence is monotonically non-increasing and converges EXACTLY to
    the core number, turning the inherently sequential min-degree peel
    (Batagelj-Zaveršnik) into a Pregel-style fixpoint the iterate
    harness runs like CC or LPA — no global priority queue, no
    serialized peel order.

    The per-round fold deliberately avoids a per-vertex sort window
    (a 10⁸-degree hub would sort 10⁸ rows in one task): neighbor
    values are first capped at the receiver's CURRENT H (sound — the
    sequence is non-increasing, so the result never exceeds it) and
    histogrammed by ``groupBy(id, value)``, shrinking the window input
    from deg(v) rows to ≤ H(v)+1 distinct values; the H-index is then
    ``max(min(t, #neighbors ≥ t))`` over a descending cumulative sum
    of that compressed histogram. Per round: one O(E) message join
    keyed by vertex + two map-side-combinable aggregations; rounds to
    fixpoint are small on real graphs (≤ ~O(diameter)-ish in
    practice), bounded by ``max_iter``. The step flags each changed
    value and the stop test counts the flags on the round's checkpoint
    job (``Probe.drained``), so convergence costs no job. Every
    per-round quantity is integer arithmetic on deterministic inputs —
    the driver gate's DuckDB oracle replays each round in ANSI SQL
    bit-for-bit.

    Cross-operator invariant (machine-checked in tests):
    ``k_core(edges, k)`` equals ``coreness(edges) ≥ k`` for every k.
    """
    simple = _simple_undirected(edges).localCheckpoint()
    nbr = (
        simple.select(F.col("a").alias("id"), F.col("b").alias("nb"))
        .union(simple.select(F.col("b").alias("id"), F.col("a").alias("nb")))
        .localCheckpoint()
    )
    state = nbr.groupBy("id").agg(F.count(F.lit(1)).alias("h"))

    def _step(h: DataFrame, _round: int) -> DataFrame:
        msgs = nbr.join(
            h.select(F.col("id").alias("nb"), F.col("h").alias("nh")), "nb"
        ).join(h, "id")
        return _h_index(msgs.select("id", "h", F.least("nh", "h").alias("t")))

    probe = Probe(changed=F.count_if("changed"))
    final, _rounds, _done = iterate(
        state,
        _step,
        probe.drained("changed"),
        max_iter,
        warn=(
            f"coreness: H-index fixpoint did not converge within "
            f"max_iter={max_iter} rounds; values are upper bounds on "
            "the true core numbers"
        ),
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        probe=probe,
    )
    return final.select("id", F.col("h").alias("coreness"))


def k_truss(edges: DataFrame, k: int, max_iter: int = 50) -> DataFrame:
    """``DataFrame[a: long, b: long]`` (a < b) — edges of the k-truss:
    the maximal subgraph of the undirected simple graph in which every
    edge closes at least ``k − 2`` triangles WITHIN the subgraph
    (Cohen 2008, "Trusses: cohesive subgraphs for social network
    analysis"). The (k)-truss is a stricter cohesion filter than the
    (k−1)-core it is contained in — the standard community-core miner.
    ``k <= 2`` degenerates to the whole simple edge set (every edge
    trivially closes ≥ 0 triangles).

    Peeling fixpoint on the ``plans.iterate`` harness, with the
    surviving edge set as the state. Each round recomputes the support
    of every surviving edge by neighbour-list intersection
    (``triangles._support``: one groupBy into neighbour arrays, one join,
    ``array_intersect``) and keeps the edges with ``sup >= k − 2``.
    Support only decreases as edges leave, so the peel stops when the
    edge count is unchanged or 0, both observed on the checkpoint job
    (the same monotone argument as :func:`k_core`). Nothing but the
    edge set is ever materialized, so peak state is O(E), never
    O(#triangles).
    """
    probe = Probe(c=F.count(F.lit(1)))
    state = probe.checkpoint(_simple_undirected(edges))
    if k <= 2:
        return state

    def _step(e: DataFrame, _round: int) -> DataFrame:
        return (
            _support(_neighbours(e, "a", "b"))
            .where(F.col("sup") >= k - 2)
            .select("a", "b")
        )

    final, _rounds, _done = iterate(
        state,
        _step,
        _peeled(probe),
        max_iter,
        warn=(
            f"k_truss: peeling did not reach a fixpoint within "
            f"max_iter={max_iter} rounds; result may contain edges "
            f"below the truss support"
        ),
        probe=probe,
    )
    return final


def densest_subgraph(
    edges: DataFrame, epsilon: float = 0.0, max_iter: int = 100
) -> DataFrame:
    """Greedy densest-subgraph approximation: ``DataFrame[id: long]``
    — the vertex set of the densest prefix of the peel (density =
    |E|/|V| of the undirected simple projection).

    Charikar's greedy 2-approximation in its parallel form (Bahmani,
    Kumar & Vassilvitskii, "Densest subgraph in streaming and
    MapReduce", VLDB'12): each round removes EVERY vertex with induced
    degree ≤ (1+ε)·average, tracking the density before each removal;
    the best-density snapshot wins (ties → the earliest round, i.e.
    the largest such subgraph — deterministic). ε=0 keeps the full
    2-approximation guarantee; ε>0 trades a (2+2ε) factor for
    O(log n / ε) rounds on adversarial graphs.

    Per round: one degree aggregate + two semi-joins over a
    monotonically shrinking edge set; snapshots are localCheckpoints
    (O(rounds) small vertex tables). The density/argmax bookkeeping is
    driver-side floats over exact integer counts — replayable in SQL.
    """
    state = _simple_undirected(edges).localCheckpoint()
    verts = (
        state.select(F.col("a").alias("id"))
        .union(state.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    best_density = -1.0
    best = verts
    drained = False
    for _ in range(max_iter):
        n_v = verts.count()
        if n_v == 0:
            drained = True
            break
        n_e = state.count()
        density = n_e / n_v
        if density > best_density:
            best_density = density
            best = verts
        if n_e == 0:
            drained = True
            break
        thresh = (1.0 + epsilon) * (2.0 * n_e / n_v)
        deg = _simple_degrees(state)
        keep = deg.where(F.col("deg") > F.lit(thresh)).select("id")
        state = (
            state.join(keep.withColumnRenamed("id", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("id", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint()
        )
        verts = (
            state.select(F.col("a").alias("id"))
            .union(state.select(F.col("b").alias("id")))
            .distinct()
            .localCheckpoint()
        )
    if not drained:
        import warnings

        warnings.warn(
            f"densest_subgraph: peel did not drain within "
            f"max_iter={max_iter} rounds — the approximation guarantee "
            "covers only the inspected prefixes; raise max_iter or set "
            "epsilon > 0 for the O(log n / eps) round bound",
            RuntimeWarning,
            stacklevel=2,
        )
    return best


def trussness(
    edges: DataFrame,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> DataFrame:
    """``DataFrame[a, b, trussness]`` (a < b) — the truss number of
    every simple undirected edge: the largest k such that the edge
    survives in the k-truss (edges in no triangle get the convention
    value 2).

    Distributed H-index fixpoint on EDGES — the nucleus-decomposition
    generalization of the vertex-coreness iteration (Sariyüce, Seshadri
    & Pinar, "Local Algorithms for Hierarchical Dense Subgraph
    Discovery", VLDB 2018): h₀(e) = triangle support; each round every
    triangle sends its member edge the MIN of the other two edges'
    current values, and h(e) becomes the H-index of the received
    multiset. The sequence is monotone non-increasing and converges
    exactly to the support-peel number; ``trussness = h + 2``. Like
    :func:`coreness`, this turns the sequential min-support peel into
    a Pregel-style fixpoint — no global priority queue.

    Shape: every edge's common neighbours (``triangles._common``, the
    neighbour-list intersection: Σ_{a<b} |N(a)| ids shuffled once) are
    checkpointed ONCE; exploding them gives the triangle→member-edge
    messages (edge (a, b) with third corner w hears from (a, w) and
    (b, w): 3·#triangles rows) and their sizes give h₀. Values are
    capped at the receiver's current h before the histogram fold
    (``_h_index``), so the per-edge window input is ≤ h(e)+1 distinct
    values, never the raw triangle count of a hot edge. Per round:
    three skinny hash joins against the O(E) state + two
    map-side-combinable aggregations; the stop test counts changed
    values on the checkpoint job. Every quantity is integer arithmetic
    on deterministic inputs — the gate's DuckDB oracle replays each
    round bit-for-bit.

    Cross-operator invariant (machine-checked in tests):
    ``k_truss(edges, k)`` equals ``trussness(edges) >= k`` per edge.
    """
    # one checkpoint of every edge's common neighbours: the state and the
    # per-round messages are narrow reads of it
    common = (
        _common(_neighbours(edges)).select("a", "b", "cn").localCheckpoint()
    )

    def _ek(u, v):
        return F.struct(
            F.least(u, v).alias("a"), F.greatest(u, v).alias("b")
        )

    # one row per (triangle, member edge), carrying the other two edges
    tri_edges = common.select("a", "b", F.explode("cn").alias("w")).select(
        F.struct("a", "b").alias("e"),
        _ek(F.col("a"), F.col("w")).alias("o1"),
        _ek(F.col("b"), F.col("w")).alias("o2"),
    )
    state = common.where(F.size("cn") > 0).select(
        F.struct("a", "b").alias("e"), F.size("cn").cast("long").alias("h")
    )

    def _step(h: DataFrame, _round: int) -> DataFrame:
        msgs = (
            tri_edges.join(
                h.select(F.col("e").alias("o1"), F.col("h").alias("h1")),
                "o1",
            )
            .join(
                h.select(F.col("e").alias("o2"), F.col("h").alias("h2")),
                "o2",
            )
            .join(h, "e")
        )
        return _h_index(
            msgs.select("e", "h", F.least("h1", "h2", "h").alias("t"))
        )

    probe = Probe(changed=F.count_if("changed"))
    final, _rounds, _done = iterate(
        state,
        _step,
        probe.drained("changed"),
        max_iter,
        warn=(
            f"trussness: H-index fixpoint did not converge within "
            f"max_iter={max_iter} rounds; values are upper bounds on "
            "the true truss numbers"
        ),
        checkpoint_dir=checkpoint_dir,
        resume=resume,
        probe=probe,
    )
    return (
        common.select("a", "b").join(
            final.select(F.col("e.a").alias("a"), F.col("e.b").alias("b"), "h"),
            ["a", "b"],
            "left",
        )
        .select(
            "a",
            "b",
            (F.coalesce("h", F.lit(0)) + F.lit(2))
            .cast("long")
            .alias("trussness"),
        )
    )
