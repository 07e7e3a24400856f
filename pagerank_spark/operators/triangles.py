"""Triangle counts by neighbour-list intersection.

Extension mandated by BASELINE.json.north_star (SURVEY.md §2.3).
Counts triangles of the UNDIRECTED SIMPLE projection (self-loops
dropped, duplicates and direction collapsed) — the oracle is
trace(A³)/6 on that projection (FIXTURES.md F1: DEMO → 4).

Every count is a sum of per-edge supports sup(a, b) = |N(a) ∩ N(b)|
(triangle counting as set intersection, HERO, SIGMOD 2024): one groupBy
into neighbour arrays, one join, ``array_intersect``. No wedge and no
triangle is ever a row. The total is Σsup/3, the corner count is
T(v) = Σ_b sup(v, b)/2, the degree is ``size(nbrs)``, and
``cores.k_truss`` peels on the same support.

Out of scope: ``trussness``, ``edge_embeddedness``, ``edge_dispersion``,
``burt_constraint`` and ``four_profile`` need triangle identities and
keep ``_triangles``, the degree-oriented wedge join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _simple_undirected(edges: DataFrame) -> DataFrame:
    """``(a, b)`` with a < b — the distinct simple undirected edge set."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def _simple_degrees(simple: DataFrame) -> DataFrame:
    """``(id, deg)`` — neighbor counts of the simple undirected graph."""
    return (
        simple.select(F.col("a").alias("id"))
        .union(simple.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def _orient(simple: DataFrame, deg: DataFrame) -> DataFrame:
    # Orient low (deg, id) -> high (deg, id): total order, no 2-cycles.
    return (
        simple.join(deg.select(F.col("id").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("deg").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
    )


def _triangles(o: DataFrame) -> DataFrame:
    """``(x, y, z)`` triangle corner triples from a (checkpointed)
    degree-oriented edge table: wedge self-join + closing-edge join."""
    wedges = o.alias("e1").join(
        o.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(
        F.col("e1.u").alias("x"),
        F.col("e1.v").alias("y"),
        F.col("e2.v").alias("z"),
    )
    return wedges.join(
        o.select(F.col("u").alias("x"), F.col("v").alias("z")), ["x", "z"]
    )


def _corner_counts(tris: DataFrame) -> DataFrame:
    """``(id, triangles)`` per corner. ONE scan of the triangle join: a
    3-branch union would recompute the two self-joins once per corner
    position (measured 2.2x slower at sf0.1); explode emits the three
    corners per triangle in place."""
    corners = tris.select(F.explode(F.array("x", "y", "z")).alias("id"))
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))


def _neighbours(edges: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """``(id, nbrs)`` — the neighbour set of every non-isolated vertex of
    the simple undirected graph on columns ``a``/``b`` of ``edges``: one
    groupBy, whose set aggregate also collapses duplicates and direction."""
    pairs = edges.where(F.col(a) != F.col(b)).select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias("id"), F.col(b).alias("nb")),
                F.struct(F.col(b).alias("id"), F.col(a).alias("nb")),
            )
        ).alias("_p")
    )
    return pairs.groupBy("_p.id").agg(F.collect_set("_p.nb").alias("nbrs"))


def _support(nbrs: DataFrame) -> DataFrame:
    """``(a, b, sup)`` (a < b) — every simple edge and the number of
    triangles closing on it, ``|N(a) ∩ N(b)|``. The edges are exploded out
    of the lower endpoint's array, which they carry to one join with the
    upper endpoint's: that shuffle moves Σ_{a<b} |N(a)| ids, O(Σ deg²) at
    worst. ``array_intersect`` hashes one array and probes the other, so
    arrays need no order."""
    # the planner sizes an array as one element, so it would broadcast the
    # carrying side (out of driver memory on a 500k-edge R-MAT); the hint
    # makes the neighbour table the hashed side
    upper = nbrs.select(F.col("id").alias("b"), F.col("nbrs").alias("nb"))
    return (
        nbrs.select(
            F.col("id").alias("a"),
            F.explode("nbrs").alias("b"),
            F.col("nbrs").alias("na"),
        )
        .where(F.col("a") < F.col("b"))
        .join(upper.hint("shuffle_hash"), "b")
        .select("a", "b", F.size(F.array_intersect("na", "nb")).alias("sup"))
    )


def _total(sup: DataFrame) -> DataFrame:
    """One row ``triangles``: Σsup/3, 0 on a graph without edges."""
    return sup.agg(
        F.coalesce((F.sum("sup") / 3).cast("long"), F.lit(0)).alias("triangles")
    )


def _vertex_triangles(sup: DataFrame) -> DataFrame:
    """``(id, triangles)`` for every corner of a triangle: T(v) =
    Σ_b sup(v, b)/2."""
    return (
        sup.where(F.col("sup") > 0)
        .select(F.explode(F.array("a", "b")).alias("id"), "sup")
        .groupBy("id")
        .agg((F.sum("sup") / 2).cast("long").alias("triangles"))
    )


def _degrees(nbrs: DataFrame) -> DataFrame:
    return nbrs.select("id", F.size("nbrs").cast("long").alias("deg"))


def triangle_count(edges: DataFrame, per_vertex: bool = False) -> DataFrame:
    """Total triangle count (``DataFrame[triangles: long]``, one row),
    or per-vertex corner counts (``DataFrame[id, triangles]``, the
    vertices with at least one triangle)."""
    sup = _support(_neighbours(edges))
    return _vertex_triangles(sup) if per_vertex else _total(sup)


def clustering_coefficient(
    edges: DataFrame, per_vertex: bool = True
) -> DataFrame:
    """Clustering coefficient of the undirected simple graph.

    Per-vertex (``DataFrame[id, coeff]``): closed-wedge fraction
    ``2·T(v) / (deg(v)·(deg(v)−1))``, 0.0 for degree-<2 vertices;
    every vertex of the simple graph gets a row. Global
    (``DataFrame[coeff]``, one row): transitivity ``3·T / W`` with
    ``W = Σ deg·(deg−1)/2`` open+closed wedges (0.0 on a wedgeless
    graph).

    The triangle counts and the degrees come from the same neighbour
    arrays, so the only work over a triangle count is one O(V) join
    (per vertex) or one O(V) aggregate (global).
    """
    nbrs = _neighbours(edges)
    sup = _support(nbrs)
    deg = _degrees(nbrs)
    if per_vertex:
        return (
            deg.join(_vertex_triangles(sup), "id", "left")
            .select(
                "id",
                F.when(
                    F.col("deg") >= 2,
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                )
                .otherwise(F.lit(0.0))
                .alias("coeff"),
            )
        )
    wedges = deg.agg(
        (F.sum(F.col("deg") * (F.col("deg") - 1)) / 2).alias("w")
    )
    return _total(sup).crossJoin(wedges).select(
        F.when(F.col("w") > 0, 3.0 * F.col("triangles") / F.col("w"))
        .otherwise(F.lit(0.0))
        .alias("coeff")
    )


def effective_size(edges: DataFrame) -> DataFrame:
    """Burt's structural-hole metrics on the unweighted undirected
    simple graph — ``DataFrame[id, deg, effective_size, efficiency]``,
    one row per non-isolated vertex.

    ``effective_size(v) = deg(v) − 2·T(v)/deg(v)`` — the Borgatti 1997
    simplification of Burt 1992's redundancy formula for unweighted
    ego networks: each triangle through v makes one alter redundant
    with another, so the ego's non-redundant contact count is degree
    minus the mean alter-alter tie count. ``efficiency`` divides by
    degree ([1/deg, 1]; 1 = no two contacts know each other — the
    broker position). The standard ego-level complement of the
    edge-level Backstrom-Kleinberg dispersion already in the engine.

    Cost: exactly the per-vertex triangle count plus the O(V) degree
    join :func:`clustering_coefficient` already pays.
    """
    nbrs = _neighbours(edges)
    tri = _vertex_triangles(_support(nbrs))
    es = F.col("deg") - 2.0 * F.coalesce("triangles", F.lit(0)) / F.col("deg")
    return _degrees(nbrs).join(tri, "id", "left").select(
        "id",
        "deg",
        es.alias("effective_size"),
        (es / F.col("deg")).alias("efficiency"),
    )


def burt_constraint(edges: DataFrame) -> DataFrame:
    """Burt's network constraint (Burt 1992, "Structural Holes", eq.
    2.4; unweighted undirected ego networks) — ``DataFrame[id,
    constraint]``, one row per non-isolated vertex:

        c(v) = Σ_{j∈N(v)} ( p_vj + Σ_{q∈N(v)∩N(j)} p_vq · p_qj )²

    with ``p_xy = 1/deg(x)`` (equal investment across an ego's ties).
    Low constraint = the ego brokers structural holes (contacts don't
    know each other); high = the ego is locked inside one dense group.
    The scalar that, with :func:`effective_size`, completes the
    standard structural-holes pair.

    Shape: the indirect term is a per-ORDERED-edge weighted
    common-neighbor sum — each triangle (x, y, z) contributes to all
    six ordered (v, j) corner pairs with weight 1/(deg_v · deg_q) —
    i.e. the SAME oriented triangle kernel `edge_dispersion` uses
    (Σ min-deg join rows, hub-safe), plus two O(V) degree joins and
    one per-vertex fold. No wedge join, no Σ deg² term.
    """
    simple = _simple_undirected(edges).localCheckpoint()
    deg = _simple_degrees(simple).localCheckpoint()
    o = _orient(simple, deg).localCheckpoint()
    # ordered-edge frame (v, j): both directions of every simple edge
    ordered = simple.select(
        F.col("a").alias("v"), F.col("b").alias("j")
    ).union(simple.select(F.col("b").alias("v"), F.col("a").alias("j")))
    # triangle corner contributions: for ordered pair (v, j), q is the
    # third corner; weight 1/(deg_v * deg_q)
    tris = _triangles(o)
    corner = tris.select(
        F.explode(
            F.array(
                F.struct(F.col("x").alias("v"), F.col("y").alias("j"),
                         F.col("z").alias("q")),
                F.struct(F.col("y").alias("v"), F.col("x").alias("j"),
                         F.col("z").alias("q")),
                F.struct(F.col("x").alias("v"), F.col("z").alias("j"),
                         F.col("y").alias("q")),
                F.struct(F.col("z").alias("v"), F.col("x").alias("j"),
                         F.col("y").alias("q")),
                F.struct(F.col("y").alias("v"), F.col("z").alias("j"),
                         F.col("x").alias("q")),
                F.struct(F.col("z").alias("v"), F.col("y").alias("j"),
                         F.col("x").alias("q")),
            )
        ).alias("_t")
    ).select("_t.v", "_t.j", "_t.q")
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("_dv"))
    dq = deg.select(F.col("id").alias("q"), F.col("deg").alias("_dq"))
    indirect = (
        corner.join(dv, "v")
        .join(dq, "q")
        .groupBy("v", "j")
        .agg(
            F.sum(1.0 / (F.col("_dv") * F.col("_dq"))).alias("_ind")
        )
    )
    per_tie = (
        ordered.join(indirect, ["v", "j"], "left")
        .join(dv, "v")
        .select(
            "v",
            (
                (1.0 / F.col("_dv") + F.coalesce("_ind", F.lit(0.0)))
                ** 2
            ).alias("_c"),
        )
    )
    return per_tie.groupBy(F.col("v").alias("id")).agg(
        F.sum("_c").alias("constraint")
    )
