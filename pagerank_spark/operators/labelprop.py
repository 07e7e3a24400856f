"""Synchronous label propagation (LPA) with deterministic tie-breaking.

Extension mandated by BASELINE.json.north_star (not in the C
reference, SURVEY.md §2.3). Labels init to vertex id; each round every
vertex adopts the most frequent label among its (undirected)
neighbors, ties broken by the MINIMUM label — the deterministic
tie-break that makes "labels match exactly" well-defined across
partitionings and runs (north_rule).

The edge table is hash-partitioned by ``src`` ONCE before the loop
(the same loop-invariant motion the PageRank paths use): the per-round
labels join then moves only the O(n) label side — with a shuffle-hash
hint so Spark never re-sorts the cached fat side either. The only
O(E)-row movement per round is the message delivery itself
(groupBy(dst, label) with map-side partial counts), and the argmax is
a single ``max(struct(count, -label))`` aggregate — no window
function, no per-row Python. Lineage truncated per round with
``localCheckpoint``; the changed-label count that stops the loop is
observed on that checkpoint job (``plans.iterate.Probe``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def label_propagation(
    edges: DataFrame,
    max_iter: int = 10,
    directed: bool = False,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """``DataFrame[id: long, label: long]`` after synchronous LPA.

    Stops early when no label changes in a round. Isolated endpoints
    (only self-loop neighbors) keep their current label.

    ``seeds`` turns this into SEMI-SUPERVISED propagation (Zhu &
    Ghahramani's label propagation in the hard-label form): an
    ``(id, label)`` table of known labels — seed vertices are PINNED
    (they broadcast but never update), every other vertex starts
    UNLABELED (NULL) and adopts the majority among its LABELED
    neighbors (ties → min label); unlabeled vertices never broadcast,
    so only seed-derived labels spread. Vertices unreachable from any
    seed return with a NULL label. The classic corpus use: propagate
    a small set of audited quality/spam labels through the link
    graph.
    """
    from pagerank_spark.plans.iterate import Probe, iterate

    P = edges.sparkSession.sparkContext.defaultParallelism
    # project first: a weighted edge table (LinkGraph.from_corpus /
    # from_cooccurrence) would otherwise break the symmetrizing union
    # on column count
    sym = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    if not directed:
        sym = sym.union(
            sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # persist, NOT localCheckpoint: the cached InMemoryRelation reports
    # its hashpartitioning(src) to the planner so the per-round join
    # skips the fat-side exchange; a checkpoint's LogicalRDD drops the
    # partitioning and would re-shuffle all E rows every round. sym is
    # loop-invariant, so lineage truncation isn't needed here.
    sym = sym.repartition(P, "src").persist()
    counted = Probe(n=F.count(F.lit(1)))
    vertices = counted.checkpoint(
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    # Label-side join strategy by measured n: broadcast while the label
    # table replicates cheaply (no exchange at all per round), else
    # shuffle-hash — which still moves only the O(n) label side and
    # never sorts the cached fat side. Either way the edge table's one
    # prepare-time shuffle is the only O(E) movement besides messages.
    n = counted.of(vertices)["n"]
    join_hint = "broadcast" if n <= 2_000_000 else "shuffle_hash"

    if seeds is not None:
        # one seed per vertex: duplicate ids would fan the vertex into
        # several pinned rows (breaking the one-row-per-id contract and
        # double-counting votes); collapse to the MIN label — the
        # engine's standard deterministic tie-break
        seed_tbl = (
            seeds.groupBy("id")
            .agg(F.min("label").alias("_seed"))
            .localCheckpoint()
        )
        init = vertices.join(seed_tbl, "id", "left").select(
            "id",
            F.col("_seed").alias("label"),
            F.col("_seed").isNotNull().alias("_pin"),
        )
    else:
        init = vertices.select(
            "id", F.col("id").alias("label"), F.lit(False).alias("_pin")
        )

    def _step(labels: DataFrame, _round: int) -> DataFrame:
        # in seeded mode unlabeled vertices hold NULL and broadcast
        # nothing (the isNotNull filter is a no-op unseeded)
        msgs = sym.join(
            labels.where(F.col("label").isNotNull())
            .withColumnRenamed("id", "src")
            .hint(join_hint),
            "src",
        ).select(F.col("dst").alias("id"), "label")
        counts = msgs.groupBy("id", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        # argmax by (count, -label): most frequent label, ties -> min label.
        picked = counts.groupBy("id").agg(
            F.max(F.struct(F.col("c"), (-F.col("label")).alias("neg"))).alias("top")
        ).select("id", (-F.col("top.neg")).alias("new_label"))
        # carry old + new in one frame: the change count needs no extra
        # join, just a filter over the already-checkpointed result;
        # pinned seeds broadcast their label but never adopt one
        upd = F.when(F.col("_pin"), F.col("label")).otherwise(
            F.coalesce("new_label", "label")
        )
        return labels.join(picked, "id", "left").select(
            "id",
            upd.alias("label"),
            # null-safe change detection: NULL -> first label is a change
            (~upd.eqNullSafe(F.col("label"))).alias("_chg"),
            "_pin",
        )

    probe = Probe(changed=F.count_if(F.col("_chg")))
    labels, _rounds, _done = iterate(
        init,
        _step,
        lambda _prev, new, _r: probe.of(new)["changed"] == 0,
        max_iter,
        # no warn: max_iter is the contract (fixed-round LPA is a thing)
        probe=probe,
    )
    sym.unpersist()  # labels is checkpointed — safe to drop the cache
    return labels.select("id", "label")


def modularity(
    edges: DataFrame, labels: DataFrame, weight_col: str | None = None
) -> DataFrame:
    """Newman modularity Q of a vertex labeling over the UNDIRECTED
    graph — ``DataFrame[modularity: double]``, one row.

        Q = Σ_c ( w_c / W  −  (s_c / 2W)² )

    Unweighted (default): the SIMPLE projection with W = m edges,
    w_c = intra-community edges, s_c = summed degree — every figure an
    exact integer, so an ANSI oracle reproduces the double arithmetic
    bit-for-bit up to the final Σ_c ordering (gates round to 7 dp).
    With ``weight_col``: parallel/reversed edges collapse by summed
    weight, W is the total weight and s_c the summed strength — the
    weighted form Louvain-style pipelines evaluate (Newman 2004,
    "Analysis of weighted networks").

    ``labels`` must be ``(id, label)``-shaped (``component``/``label``
    columns both accepted); unlabeled endpoints make the edge count as
    inter-community (conservative).
    """
    lab_col = "label" if "label" in labels.columns else "component"
    lab = labels.select("id", F.col(lab_col).alias("_c"))
    if weight_col is None:
        from pagerank_spark.operators.triangles import (
            _simple_degrees,
            _simple_undirected,
        )

        simple = _simple_undirected(edges).localCheckpoint()
        strength = _simple_degrees(simple).withColumnRenamed("deg", "s")
        w_total = float(simple.count())
        wc = F.count(F.lit(1)).cast("double").alias("wc")
    else:
        simple = (
            edges.where(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                F.col(weight_col).cast("double").alias("_w"),
            )
            .groupBy("a", "b")
            .agg(F.sum("_w").alias("_w"))
            .localCheckpoint()
        )
        strength = (
            simple.select(F.col("a").alias("id"), "_w")
            .union(simple.select(F.col("b").alias("id"), "_w"))
            .groupBy("id")
            .agg(F.sum("_w").alias("s"))
        )
        row = simple.agg(F.sum("_w").alias("w")).collect()[0]["w"]
        w_total = float(row or 0.0)
        wc = F.sum("_w").alias("wc")
    if w_total == 0:
        return edges.sparkSession.createDataFrame(
            [(0.0,)], "modularity double"
        )
    intra = (
        simple.join(lab.withColumnRenamed("id", "a"), "a")
        .withColumnRenamed("_c", "_ca")
        .join(lab.withColumnRenamed("id", "b"), "b")
        .where(F.col("_ca") == F.col("_c"))
        .groupBy(F.col("_c"))
        .agg(wc)
    )
    sc = lab.join(strength, "id").groupBy("_c").agg(F.sum("s").alias("sc"))
    terms = sc.join(intra, "_c", "left").select(
        (
            F.coalesce("wc", F.lit(0.0)) / F.lit(w_total)
            - (F.col("sc") / F.lit(2.0 * w_total))
            * (F.col("sc") / F.lit(2.0 * w_total))
        ).alias("q")
    )
    return terms.agg(F.sum("q").alias("modularity"))


def greedy_modularity_moves(
    edges: DataFrame,
    labels: DataFrame | None = None,
    max_iter: int = 5,
    weight_col: str | None = None,
    alternate: bool = False,
    num_partitions: int | None = None,
    include_self_loops: bool = False,
) -> DataFrame:
    """Synchronous Louvain-style local-move sweep: each round, EVERY
    vertex simultaneously adopts the neighboring community with the
    best modularity gain — ``DataFrame[id, label]``.

    ``include_self_loops=True`` gives the EXACT coarse-graph gain
    semantics the multi-level :func:`louvain` pipeline needs: a
    contracted community's intra-weight arrives as a self-loop, which
    (per the ΔQ derivation) must count into the vertex strength
    (k_v += 2·w_vv) and the total weight W, while generating NO
    candidate messages (a self-loop stays intra-community under every
    assignment, so it cancels out of the gain except through k and W).
    Self-loop-only vertices then still appear in the vertex set (as
    immovable single-vertex communities). The default (drop) preserves
    the original single-level sweep semantics the driver gate pins.

    The per-vertex gain of joining community c (Blondel et al. 2008,
    "Fast unfolding of communities in large networks", the ΔQ local
    move) evaluated against the PREVIOUS round's assignment:

        gain(v, c) = k_{v→c}  −  k_v · Σ_tot(c ∖ v) / (2W)

    argmax over the communities of v's neighbors plus v's own (ties →
    smallest community label — deterministic, replayable in ANSI SQL).
    The synchronous parallel variant trades Louvain's sequential-sweep
    convergence guarantee for one bounded-shuffle round — the standard
    distributed formulation; run a few rounds, then
    ``contract_graph`` and repeat for the multi-level pipeline.
    Symmetric structures can ping-pong under all-at-once moves (two
    equivalent vertices endlessly swapping targets); ``alternate=True``
    applies the standard mitigation — only vertices whose id parity
    matches the round parity move, everyone else holds — which breaks
    the symmetry at the cost of two rounds per sweep. The gate pins
    the plain synchronous form; ``alternate`` is the production knob
    for clique-of-two-scale structures.
    Graph convention matches :func:`modularity`: simple undirected
    projection (parallel edges collapse — by count unweighted, by
    summed weight with ``weight_col``), self-loops dropped.

    Per-round motion: one O(E) message aggregation (map-side combined
    on (vertex, community)) + two O(V) joins against the cached
    strength table; the symmetrized edge table is hash-partitioned
    and persisted once before the loop.
    """
    spark = edges.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    if weight_col is None:
        from pagerank_spark.operators.triangles import (
            _simple_degrees,
            _simple_undirected,
        )

        simple = _simple_undirected(edges).select(
            "a", "b", F.lit(1.0).alias("_w")
        )
        strength = _simple_degrees(simple.select("a", "b")).select(
            "id", F.col("deg").cast("double").alias("_k")
        )
    else:
        simple = (
            edges.where(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                F.col(weight_col).cast("double").alias("_w"),
            )
            .groupBy("a", "b")
            .agg(F.sum("_w").alias("_w"))
        )
        strength = (
            simple.select(F.col("a").alias("id"), "_w")
            .union(simple.select(F.col("b").alias("id"), "_w"))
            .groupBy("id")
            .agg(F.sum("_w").alias("_k"))
        )
    self_w_total = 0.0
    if include_self_loops:
        loops = edges.where(F.col("src") == F.col("dst"))
        if weight_col is None:
            # distinct projection, matching the unweighted simple graph:
            # a self-loop contributes weight 1 regardless of multiplicity
            selfw = loops.select(F.col("src").alias("id")).distinct().select(
                "id", F.lit(1.0).alias("_sw")
            )
        else:
            selfw = (
                loops.select(
                    F.col("src").alias("id"),
                    F.col(weight_col).cast("double").alias("_sw"),
                )
                .groupBy("id")
                .agg(F.sum("_sw").alias("_sw"))
            )
        selfw = selfw.localCheckpoint()
        row = selfw.agg(F.sum("_sw").alias("s")).collect()[0]["s"]
        self_w_total = float(row or 0.0)
        # k_v += 2*w_vv (both endpoints of the loop), and self-loop-only
        # vertices enter the vertex set through the union
        strength = (
            strength.select("id", "_k")
            .unionByName(
                selfw.select("id", (F.lit(2.0) * F.col("_sw")).alias("_k"))
            )
            .groupBy("id")
            .agg(F.sum("_k").alias("_k"))
        )
    sym = simple.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "_w"
    ).union(
        simple.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), "_w"
        )
    )
    strength = strength.localCheckpoint()
    w_row = simple.agg(F.sum("_w").alias("w")).collect()[0]["w"]
    W = float(w_row or 0.0) + self_w_total
    vertices = strength.select("id")
    if labels is None:
        lab0 = vertices.select("id", F.col("id").alias("label"))
    else:
        lab_col = "label" if "label" in labels.columns else "component"
        lab0 = vertices.join(
            labels.select("id", F.col(lab_col).alias("label")), "id", "left"
        ).select("id", F.coalesce("label", "id").alias("label"))
    if W == 0.0:
        return lab0
    n = vertices.count()
    join_hint = "broadcast" if n <= 2_000_000 else "shuffle_hash"
    # repartition unconditionally: an AQE-coalesced cache would run
    # every sweep round at low parallelism (measured on LPA/WL in r6)
    sym = sym.repartition(P, "src").persist()
    from pagerank_spark.plans.iterate import Probe, iterate

    def _step(lab: DataFrame, _round: int) -> DataFrame:
        sc = (
            lab.join(strength, "id")
            .groupBy("label")
            .agg(F.sum("_k").alias("_tot"))
        )
        # weights of v's edges into each neighboring community
        msgs = (
            sym.join(
                lab.select(F.col("id").alias("dst"), F.col("label").alias("_c"))
                .hint(join_hint),
                "dst",
            )
            .select(F.col("src").alias("id"), "_c", "_w")
        )
        stay = lab.select("id", F.col("label").alias("_c"), F.lit(0.0).alias("_w"))
        cand = (
            msgs.unionByName(stay)
            .groupBy("id", "_c")
            .agg(F.sum("_w").alias("_kvc"))
        )
        scored = (
            cand.join(sc.withColumnRenamed("label", "_c").hint(join_hint), "_c")
            .join(lab.hint(join_hint), "id")
            .join(strength.hint(join_hint), "id")
            .select(
                "id",
                "_c",
                (
                    F.col("_kvc")
                    - F.col("_k")
                    * (
                        F.col("_tot")
                        - F.when(F.col("_c") == F.col("label"), F.col("_k"))
                        .otherwise(F.lit(0.0))
                    )
                    / F.lit(2.0 * W)
                ).alias("_gain"),
            )
        )
        picked = scored.groupBy("id").agg(
            F.max(F.struct(F.col("_gain"), (-F.col("_c")).alias("_neg"))).alias("top")
        )
        if alternate:
            # half the vertices hold each round: (id + round) parity
            return lab.join(picked, "id", "left").select(
                "id",
                F.when(
                    (F.col("id") + F.lit(_round)) % 2 == 0,
                    F.coalesce((-F.col("top._neg")), F.col("label")),
                )
                .otherwise(F.col("label"))
                .alias("label"),
            )
        return picked.select(
            "id", (-F.col("top._neg")).alias("label"),
        )

    # an unchanged (id, label) xor: no vertex moved, a local optimum of
    # the sweep; round 1 is compared to nothing
    sig = Probe(h=F.bit_xor(F.xxhash64("id", "label")))
    out, _rounds, _done = iterate(
        lab0, _step, sig.unchanged(after=1), max_iter, probe=sig
    )
    sym.unpersist()
    return out.select("id", "label")


def louvain(
    edges: DataFrame,
    max_levels: int = 5,
    moves_per_level: int = 4,
    weight_col: str | None = None,
    alternate: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Full multi-level Louvain community detection (Blondel et al.
    2008, "Fast unfolding of communities in large networks") —
    ``DataFrame[id, label]`` on ORIGINAL vertex ids.

    Each level runs a synchronous local-move sweep
    (:func:`greedy_modularity_moves` with exact self-loop gain
    semantics), then contracts communities to super-vertices
    (:func:`contract_graph`, keeping intra-community weight as
    self-loops) and recurses on the coarse graph; the level stack's
    label mappings compose back so every original vertex carries its
    final community. Stops when a sweep merges nothing (no vertex
    left its own community — the pass-yields-no-improvement fixpoint,
    which is idempotent: extra levels would replay identically, the
    property the unrolled ANSI oracle relies on) or after
    ``max_levels``.

    Fully deterministic (ties break to the smallest community label at
    every step), so the whole pipeline is replayable in ANSI SQL.

    Scale shape: level L's graph has one super-vertex per level-(L-1)
    community — coarse graphs collapse geometrically on community-
    structured inputs, so the level-0 sweep dominates and costs one
    O(E) message aggregation per round over a hash-partitioned,
    persisted edge table (see :func:`greedy_modularity_moves`); the
    compose step is one O(V) join per level.
    """
    g = edges
    wc = weight_col
    mapping: DataFrame | None = None
    from pagerank_spark.operators.cooccur import contract_graph

    for _level in range(max_levels):
        lab = greedy_modularity_moves(
            g,
            max_iter=moves_per_level,
            weight_col=wc,
            alternate=alternate,
            num_partitions=num_partitions,
            include_self_loops=True,
        ).localCheckpoint()
        if mapping is None:
            mapping = lab
        else:
            # re-point every original vertex at its community's new
            # label; the left join + coalesce is belt-and-braces for a
            # community absent from the coarse sweep (cannot happen —
            # every label survives contraction as a vertex — but a
            # dropped row would silently lose vertices)
            mapping = (
                mapping.join(
                    lab.select(
                        F.col("id").alias("label"), F.col("label").alias("_nl")
                    ),
                    "label",
                    "left",
                )
                .select("id", F.coalesce("_nl", "label").alias("label"))
                .localCheckpoint()
            )
        if lab.where(F.col("id") != F.col("label")).count() == 0:
            break
        if wc is None:
            # the unweighted sweep scored the DISTINCT simple
            # projection (each parallel edge once) — contract that
            # same graph, not the raw multi-edge table, or levels >= 1
            # would optimize a multiplicity-weighted graph level 0
            # never saw (nonuniform duplication would skew the coarse
            # gains)
            from pagerank_spark.operators.triangles import (
                _simple_undirected,
            )

            base = _simple_undirected(g).select(
                F.col("a").alias("src"), F.col("b").alias("dst")
            )
        else:
            base = g
        g = contract_graph(base, lab, weight_col=wc).localCheckpoint()
        wc = "weight"
    assert mapping is not None  # max_levels >= 1
    return mapping


def conductance(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community conductance over the undirected simple graph —
    ``DataFrame[label, n_vertices, volume, cut, conductance]``:

        φ(S) = cut(S, S̄) / min(vol(S), vol(S̄))

    (Shi & Malik 2000 normalized-cut numerator; the community-quality
    score Leskovec et al. 2009's NCP plots made standard — LOW
    conductance = a well-separated community, the metric to read NEXT
    to modularity, which famously hides small communities). ``vol`` =
    sum of member degrees; communities spanning the whole graph (S̄
    empty, denominator 0) report NULL. Accepts ``label`` or
    ``component`` label columns like :func:`modularity`.

    Shape: two label joins against the O(V) side, one edge-level
    same/cross flag aggregation (map-side combinable into ≤
    #communities rows), one degree fold per community — every
    downstream row count is #communities, never the graph.
    """
    lab_col = "label" if "label" in labels.columns else "component"
    lab = labels.select("id", F.col(lab_col).alias("_c")).localCheckpoint()
    from pagerank_spark.operators.triangles import (
        _simple_degrees,
        _simple_undirected,
    )

    simple = _simple_undirected(edges).localCheckpoint()
    deg = _simple_degrees(simple)
    vol = (
        deg.join(lab, "id")
        .groupBy("_c")
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.sum("deg").alias("volume"),
        )
    )
    flagged = (
        simple.join(
            lab.select(F.col("id").alias("a"), F.col("_c").alias("_ca")), "a"
        )
        .join(
            lab.select(F.col("id").alias("b"), F.col("_c").alias("_cb")), "b"
        )
        .where(F.col("_ca") != F.col("_cb"))
    )
    cut = (
        flagged.select(F.col("_ca").alias("_c"))
        .union(flagged.select(F.col("_cb").alias("_c")))
        .groupBy("_c")
        .agg(F.count(F.lit(1)).alias("cut"))
    )
    total = simple.agg((2 * F.count(F.lit(1))).alias("_tv"))
    return (
        vol.join(cut, "_c", "left")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("_c").alias("label"),
            "n_vertices",
            "volume",
            F.coalesce("cut", F.lit(0)).alias("cut"),
            F.when(
                F.least("volume", F.col("_tv") - F.col("volume")) > 0,
                F.coalesce("cut", F.lit(0))
                / F.least("volume", F.col("_tv") - F.col("volume")),
            ).alias("conductance"),
        )
    )
