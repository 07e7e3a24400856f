"""Link prediction by neighborhood overlap — common-neighbors /
Jaccard / Adamic-Adar scores for non-adjacent vertex pairs.

Extension beyond the C reference (SURVEY.md §2.3 family): the standard
feature set a link-graph pipeline computes for edge recommendation and
graph-ML training labels (Liben-Nowell & Kleinberg, "The Link
Prediction Problem for Social Networks", CIKM'03).

Shape: one wedge self-join of the symmetrized simple edge table
generates every common-neighbor triple (a, w, b) exactly once
(a < b), a single groupBy(a, b) folds all three scores, and a left-anti
join removes already-connected pairs. The wedge join is Σ deg(w)² rows
— the inherent 2-hop cost. At 100 TB that sum is dominated by hub
vertices, so ``max_degree`` caps the common-neighbor role: vertices
above the cap generate no wedges (the standard approximation — a hub's
Adamic-Adar contribution 1/ln(deg) is negligible anyway, and the cap
bounds the join at |V|·cap² instead of Σ deg²). The DEFAULT is the
finite cap 10_000 — a first call at 100 TB must not go quadratic on a
hub; pass ``max_degree=None`` to opt out for exact small-graph runs
(exact either way while no vertex exceeds the cap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.triangles import (
    _common,
    _corner_pairs,
    _neighbours,
    _simple_degrees,
    _simple_undirected,
)


def link_prediction(
    edges: DataFrame,
    min_common: int = 1,
    max_degree: int | None = 10_000,
) -> DataFrame:
    """``DataFrame[a, b, common, jaccard, adamic_adar, resource_alloc,
    pref_attach]`` with a < b for every NON-adjacent pair sharing >=
    ``min_common`` neighbors.

    ``jaccard = |Γa∩Γb| / |Γa∪Γb|``; ``adamic_adar = Σ_w 1/ln(deg w)``
    over common neighbors (degree-1 common neighbors are impossible by
    construction, so ln(deg) >= ln 2 > 0); ``resource_alloc =
    Σ_w 1/deg w`` (Zhou, Lü & Zhang 2009 — like Adamic-Adar but
    penalizing hub intermediaries linearly, the strongest of the
    classical local indices in their benchmark); ``pref_attach =
    deg a · deg b`` (Barabási-Albert growth likelihood). Both new
    scores ride the SAME single wedge join and degree joins the first
    three already pay — zero extra shuffles. Undirected simple-graph
    semantics, like the triangle family.
    """
    simple = _simple_undirected(edges).localCheckpoint()
    deg = _simple_degrees(simple).localCheckpoint()
    sym = simple.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        simple.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    center_deg = deg.withColumnRenamed("id", "v")
    if max_degree is not None:
        center_deg = center_deg.where(F.col("deg") <= max_degree)
    # (a, w, b): w adjacent to both, each unordered pair once via a < b;
    # the center's degree rides along so Adamic-Adar needs no post-join
    wedges = (
        sym.join(center_deg, "v")
        .select("u", F.col("v").alias("w"), "deg")
        .alias("l")
        .join(
            sym.select(F.col("u").alias("w"), F.col("v").alias("b")).alias(
                "r"
            ),
            "w",
        )
        .where(F.col("u") < F.col("b"))
        .select(
            F.col("u").alias("a"),
            "b",
            (1.0 / F.log(F.col("deg"))).alias("aa_w"),
            (1.0 / F.col("deg")).alias("ra_w"),
        )
    )
    scored = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common"),
        F.sum("aa_w").alias("adamic_adar"),
        F.sum("ra_w").alias("resource_alloc"),
    )
    non_adjacent = scored.join(simple, ["a", "b"], "left_anti")
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("_db"))
    return (
        non_adjacent.where(F.col("common") >= min_common)
        .join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common",
            (
                F.col("common")
                / (F.col("_da") + F.col("_db") - F.col("common"))
            ).alias("jaccard"),
            "adamic_adar",
            "resource_alloc",
            (F.col("_da") * F.col("_db")).alias("pref_attach"),
        )
    )


def four_cycles(
    edges: DataFrame, max_degree: int | None = 10_000
) -> DataFrame:
    """Global 4-cycle (rectangle) count on the undirected simple graph
    — ``DataFrame[n_four_cycles: long]`` with one row. Rectangles are
    the next motif after triangles for clustering/spam structure
    (bipartite cores and link farms are rectangle-dense while being
    triangle-free, Kumar et al. 1999 "Trawling the Web for emerging
    cyber-communities").

    Count: every 4-cycle ``u-w-v-x-u`` is fixed by an opposite pair
    ``{u, v}`` plus 2 of their common neighbors, and each cycle has
    exactly two opposite pairs, so ``C4 = Σ_{u<v} C(codeg(u,v), 2) / 2``.

    Shape: the SAME single wedge self-join as :func:`link_prediction`
    (Σ deg² rows — ``max_degree`` is the same hub cap), one
    groupBy(a, b) to co-degree counts, one scalar agg. No pair ever
    carries more state than one long.
    """
    simple = _simple_undirected(edges)
    sym = simple.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        simple.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    center = sym.select(F.col("v").alias("w"), F.col("u"))
    if max_degree is not None:
        capped = (
            sym.groupBy(F.col("v").alias("w"))
            .agg(F.count(F.lit(1)).alias("_d"))
            .where(F.col("_d") <= max_degree)
            .select("w")
        )
        center = center.join(capped, "w", "left_semi")
    codeg = (
        center.join(
            sym.select(F.col("u").alias("w"), F.col("v").alias("b")), "w"
        )
        .where(F.col("u") < F.col("b"))
        .groupBy("u", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return codeg.agg(
        (
            F.coalesce(
                F.sum(F.col("c") * (F.col("c") - 1) / 2), F.lit(0.0)
            )
            / 2
        )
        .cast("long")
        .alias("n_four_cycles")
    )


def edge_embeddedness(edges: DataFrame) -> DataFrame:
    """``DataFrame[a, b, common, embeddedness]`` (a < b) — one row per
    EXISTING simple undirected edge: ``common`` = number of shared
    neighbors (the edge's triangle support) and ``embeddedness`` =
    ``common / (deg a + deg b − 2 − common)`` — the neighborhood
    Jaccard with the endpoints themselves excluded (Easley & Kleinberg
    2010 ch. 3 tie strength; Granovetter's local-bridge test is
    ``common == 0``). 0.0 when both endpoints have no other neighbors.

    Unlike :func:`link_prediction` (which scores NON-adjacent pairs
    via the full wedge join), every term is read off the triangle
    kernel's intersection row of the edge (``triangles._common``):
    ``common`` is the size of the intersection and the degrees are the
    sizes of the two neighbour arrays. The kernel's shuffle carries
    Σ_{a<b} |N(a)| ids; nothing is joined past it.
    """
    common = F.size("cn").cast("long")
    denom = F.size("na") + F.size("nb") - F.lit(2) - common
    return _common(_neighbours(edges)).select(
        "a",
        "b",
        common.alias("common"),
        F.when(denom > 0, common / denom)
        .otherwise(F.lit(0.0))
        .alias("embeddedness"),
    )


def edge_dispersion(
    edges: DataFrame, max_common: int | None = 10_000
) -> DataFrame:
    """``DataFrame[a, b, common, dispersion]`` (a < b) — absolute
    dispersion per EXISTING edge: the number of pairs of common
    neighbors of (a, b) that are NOT adjacent to each other (Backstrom
    & Kleinberg 2014, "Romantic partnerships and the dispersion of
    social ties"). High dispersion = the tie bridges otherwise
    unconnected contexts — their best single predictor of the partner
    relationship, where embeddedness fails.

    Shape: the common neighbours of every edge come from the triangle
    kernel's intersection (``triangles._common``, as in
    :func:`edge_embeddedness`); each edge's pairs of them are exploded
    from its own array into C(common, 2) candidate rows, then one
    anti-join against the edge set removes adjacent pairs. The pairs
    are Σ_edges common² rows — ``max_common`` caps them (edges above
    the cap get ``dispersion = NULL`` instead of a quadratic blow-up;
    their common count still reports). Defaults to 10_000 so the
    uncapped quadratic needs an explicit ``max_common=None`` opt-out;
    exact either way while no edge exceeds the cap.
    """
    nbrs = _neighbours(edges)
    common = _common(nbrs).withColumn("common", F.size("cn").cast("long"))
    capped = common
    if max_common is not None:
        capped = common.where(F.col("common") <= max_common)
    disp = (
        _corner_pairs(capped, nbrs, adjacent=False)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("dispersion"))
    )
    dispersion = F.coalesce("dispersion", F.lit(0).cast("long"))
    if max_common is not None:
        dispersion = F.when(
            F.col("common") > max_common, F.lit(None).cast("long")
        ).otherwise(dispersion)
    return common.join(disp, ["a", "b"], "left").select(
        "a", "b", "common", dispersion.alias("dispersion")
    )


def four_profile(
    edges: DataFrame,
    max_degree: int | None = 10_000,
    max_common: int | None = 10_000,
) -> DataFrame:
    """Induced 4-vertex graphlet census of the undirected simple graph
    — one row ``DataFrame[n_path4, n_3star, n_cycle4, n_tailed_tri,
    n_diamond, n_k4]`` (counts of INDUCED connected 4-vertex
    subgraphs by isomorphism class). The full 4-profile is the
    standard structural fingerprint above the triangle level (Ahmed,
    Neville, Rossi & Duffield, "Efficient graphlet counting for large
    networks", ICDM 2015; Pinar, Seshadhri & Vishal's ESCAPE) —
    link-farm bipartite cores light up diamonds/C4s while organic webs
    are tailed-triangle-heavy.

    Combinatorial decomposition, NOT subgraph enumeration: every term
    but the 4-cycles is a sum over the triangle kernel's intersection
    rows (``triangles._common``: per edge, its endpoints' degrees
    ``d_a``/``d_b`` and common neighbours, ``sup`` of them) —

    - NON-induced counts first: triangles ``T = Σ_e sup/3``; 3-stars
      ``Σ_v C(d,3) = Σ_e ((d_a−1)(d_a−2)+(d_b−1)(d_b−2))/6``; tailed
      triangles ``Σ_v t_v·(d_v−2) = Σ_e sup·(d_a+d_b−4)/2``; paths
      ``Σ_e (d_a−1)(d_b−1)−3T``; diamonds ``Σ_e C(sup_e, 2)`` (one
      aggregate for all five); 4-cycles from the co-degree wedge join
      (``max_degree`` hub cap, as :func:`four_cycles`); K4s = adjacent
      common-neighbor pairs per edge / 6 (``max_common`` caps the
      per-edge pairs, as :func:`edge_dispersion`).
    - then the exact inclusion-exclusion down-conversion (each
      induced class contains a known number of spanning copies of
      each sparser pattern): i_k4 = n_k4; i_dia = n_dia − 6·i_k4;
      i_paw = n_paw − 4·i_dia − 12·i_k4; i_c4 = n_c4 − i_dia −
      3·i_k4; i_star = n_star − i_paw − 2·i_dia − 4·i_k4; i_p4 =
      n_p4 − 4·i_c4 − 2·i_paw − 6·i_dia − 12·i_k4.

    All scalar sums widen to decimal(38,0) before summing (Σ d³-scale
    terms wrap int64 on hub-dense graphs — the s_metric precedent);
    outputs are exact longs while each count < 2⁶³. The caps make the
    two inherently quadratic terms (C4 wedges, K4/diamond pairs)
    hub-safe by default; with no vertex above the caps the census is
    exact. Density caveat: on a NEAR-CLIQUE region the K4 pairs are
    Σ_e C(sup_e, 2) ~ n⁵ by nature (every 4-profile algorithm pays
    it, ESCAPE included) — ``max_common`` is the honest knob there,
    trading K4/diamond exactness on over-embedded edges for bounded
    work. Brute-force-verified by pytest over all C(n,4) induced
    subgraphs on random graphs.
    """
    nbrs = _neighbours(edges)
    common = _common(nbrs).select(
        "a",
        "b",
        "cn",
        F.size("na").cast("long").alias("da"),
        F.size("nb").cast("long").alias("db"),
        F.size("cn").cast("long").alias("sup"),
    )
    da, db, sup = F.col("da"), F.col("db"), F.col("sup")
    keep = F.lit(True) if max_common is None else sup <= max_common

    def total(c):
        return F.coalesce(
            F.sum(c.cast("decimal(19,0)")), F.lit(0).cast("decimal(38,0)")
        )

    r = common.agg(
        total(sup).alias("_t3"),
        total((da - 1) * (da - 2) + (db - 1) * (db - 2)).alias("_s3x6"),
        total(sup * (da + db - 4)).alias("_tail2"),
        total((da - 1) * (db - 1)).alias("_pp"),
        total(F.when(keep, sup * (sup - 1))).alias("_d2"),
    ).collect()[0]
    n_T = int(r["_t3"]) // 3
    n_star = int(r["_s3x6"]) // 6
    n_paw = int(r["_tail2"]) // 2
    n_p4 = int(r["_pp"]) - 3 * n_T
    n_dia = int(r["_d2"]) // 2
    # 4-cycles (non-induced) — reuse the capped co-degree kernel
    n_c4 = four_cycles(edges, max_degree=max_degree).collect()[0][
        "n_four_cycles"
    ]
    n_k4 = _corner_pairs(common.where(keep), nbrs, adjacent=True).count() // 6
    # induced down-conversion
    i_k4 = n_k4
    i_dia = n_dia - 6 * i_k4
    i_paw = n_paw - 4 * i_dia - 12 * i_k4
    i_c4 = n_c4 - i_dia - 3 * i_k4
    i_star = n_star - i_paw - 2 * i_dia - 4 * i_k4
    i_p4 = n_p4 - 4 * i_c4 - 2 * i_paw - 6 * i_dia - 12 * i_k4
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(i_p4, i_star, i_c4, i_paw, i_dia, i_k4)],
        "n_path4 long, n_3star long, n_cycle4 long, n_tailed_tri long, "
        "n_diamond long, n_k4 long",
    )
