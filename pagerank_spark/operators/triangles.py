"""Triangle counts by neighbour-list intersection.

Extension mandated by BASELINE.json.north_star (SURVEY.md §2.3).
Counts triangles of the UNDIRECTED SIMPLE projection (self-loops
dropped, duplicates and direction collapsed) — the oracle is
trace(A³)/6 on that projection (FIXTURES.md F1: DEMO → 4).

Every count is a sum of per-edge supports sup(a, b) = |N(a) ∩ N(b)|
(triangle counting as set intersection, HERO, SIGMOD 2024): one groupBy
into neighbour arrays, one join, ``array_intersect``. No count makes a
wedge or a triangle a row. The total is Σsup/3, the corner count is
T(v) = Σ_b sup(v, b)/2, the degree is ``size(nbrs)``, and
``cores.k_truss`` peels on the same support. The operators that need
more than counts (``cores.trussness``, ``burt_constraint``,
``linkpred.edge_embeddedness``, ``edge_dispersion`` and
``four_profile``) read the same intersection row (``_common``): the
sizes of its neighbour arrays are the degrees, and exploding it gives
the triangles as ``(a, b, w)`` rows, w the third corner, or the pairs
of third corners of one edge.
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


def _common(nbrs: DataFrame) -> DataFrame:
    """``(a, b, na, nb, cn)`` (a < b) — every simple edge, the neighbour
    arrays of its endpoints and their common neighbours ``cn = N(a) ∩
    N(b)``, the third corners of the triangles closing on it. The edges
    are exploded out of the lower endpoint's array, which they carry to
    one join with the upper endpoint's: that shuffle moves Σ_{a<b} |N(a)|
    ids, O(Σ deg²) at worst. ``array_intersect`` hashes one array and
    probes the other, so arrays need no order. This is the one triangle
    kernel: a count reads ``size(cn)``, a caller that needs the triangles
    themselves explodes ``cn``."""
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
        .select(
            "a", "b", "na", "nb", F.array_intersect("na", "nb").alias("cn")
        )
    )


def _support(nbrs: DataFrame) -> DataFrame:
    """``(a, b, sup)`` (a < b) — every simple edge and the number of
    triangles closing on it, ``|N(a) ∩ N(b)|``."""
    return _common(nbrs).select("a", "b", F.size("cn").alias("sup"))


def _corner_pairs(
    common: DataFrame, nbrs: DataFrame, adjacent: bool
) -> DataFrame:
    """``(a, b)`` once per pair of common neighbours of the edge (a, b)
    that are adjacent (``adjacent=True``: a K4 on the edge) or are not
    (an open pair, Backstrom-Kleinberg dispersion). The pairs come from
    the edge's own ``cn``, each element with the ones after it — Σ C(sup,
    2) rows, no self-join — and the adjacency test is one semi- or
    anti-join with the edge set. ``slice`` keeps the pair generation in
    generated code (a ``filter`` lambda, which Spark interprets, was 4x
    slower on the sf0.01 canonical graph's 21M pairs)."""
    after = F.slice("cn", F.col("i") + 2, F.size("cn"))
    pairs = (
        common.select("a", "b", "cn", F.posexplode("cn").alias("i", "w"))
        .select("a", "b", "w", F.explode(after).alias("w2"))
        .select(
            "a",
            "b",
            F.least("w", "w2").alias("w"),
            F.greatest("w", "w2").alias("w2"),
        )
    )
    simple = nbrs.select(
        F.col("id").alias("w"), F.explode("nbrs").alias("w2")
    ).where(F.col("w") < F.col("w2"))
    how = "left_semi" if adjacent else "left_anti"
    return pairs.join(simple, ["w", "w2"], how).select("a", "b")


def _total(sup: DataFrame) -> DataFrame:
    """One row ``triangles``: Σsup/3, 0 on a graph without edges."""
    return sup.agg(
        F.coalesce((F.sum("sup") / 3).cast("long"), F.lit(0)).alias("triangles")
    )


def _triangles_per_vertex(sup: DataFrame) -> DataFrame:
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
    return _triangles_per_vertex(sup) if per_vertex else _total(sup)


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
            deg.join(_triangles_per_vertex(sup), "id", "left")
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
    tri = _triangles_per_vertex(_support(nbrs))
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
    common-neighbour sum: every edge (a, b) with third corner q (one
    element of its intersection) contributes to the ordered pairs
    (a, b) and (b, a) with weight 1/(deg_v · deg_q). The degree of v
    rides on the intersection row (the ``size`` of its neighbour
    array), so the only join past the kernel is one O(Σ sup) degree
    lookup for q, followed by two folds.
    """
    nbrs = _neighbours(edges)
    deg = _degrees(nbrs).select(
        F.col("id").alias("q"), F.col("deg").alias("_dq")
    )
    # one row per ordered edge (v, j) and common neighbour q; an edge in no
    # triangle keeps one row with q NULL, so its indirect term sums to NULL
    corner = (
        _common(nbrs)
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("v"), F.col("b").alias("j"),
                             F.size("na").cast("long").alias("_dv")),
                    F.struct(F.col("b").alias("v"), F.col("a").alias("j"),
                             F.size("nb").cast("long").alias("_dv")),
                )
            ).alias("_o"),
            "cn",
        )
        .select("_o.*", F.explode_outer("cn").alias("q"))
    )
    per_tie = (
        corner.join(deg, "q", "left")
        .groupBy("v", "j", "_dv")
        .agg(F.sum(1.0 / (F.col("_dv") * F.col("_dq"))).alias("_ind"))
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
