"""One-call graph profile — the first query anyone runs on a new
edge table.

Composes the engine's own operators (degrees, triangles, transitivity,
reciprocity, connected components) into a single one-row DataFrame; at
100 TB each constituent is the already-scale-audited implementation,
and the driver only ever holds the handful of scalars. Doubles are
derived from exact integer aggregates with one IEEE division each, so
an ANSI oracle reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.operators.components import connected_components
from pagerank_spark.operators.degrees import reciprocity
from pagerank_spark.operators.triangles import (
    _degrees,
    _neighbours,
    _support,
    _total,
)


def graph_summary(edges: DataFrame) -> DataFrame:
    """``DataFrame`` with ONE row:

    ``n_vertices, n_edges, n_simple_edges, density, max_degree,
    avg_degree, triangles, transitivity, reciprocity, n_components``

    where degree/triangle/component figures are over the undirected
    simple projection (matching the triangle/CC family), ``n_edges``
    counts raw rows (duplicate-edge multiplicity preserved), and
    ``density = 2·e_s / (n·(n−1))``, ``avg_degree = 2·e_s / n``.
    """
    # ONE materialized pass over the source, then the neighbour arrays
    # are shared by every simple-graph figure: the edge count and the
    # degree figures are sums of their sizes, and the triangle count (the
    # costly constituent) is the support sum over them.
    edges = edges.select("src", "dst").localCheckpoint()
    nbrs = _neighbours(edges).localCheckpoint()
    # The scalar figures are INDEPENDENT actions over shared
    # checkpointed frames — submit them from a small thread pool so
    # the cheap counts back-fill executors freed by the triangle
    # join's tail instead of serializing behind it (each value is a
    # deterministic scalar, so concurrency cannot change the row).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_ne = pool.submit(edges.count)
        f_deg = pool.submit(
            _degrees(nbrs).agg(
                F.sum("deg").alias("sumd"),
                F.max("deg").alias("maxd"),
                F.sum(F.col("deg") * (F.col("deg") - 1)).alias("w2"),
            ).collect
        )
        f_n = pool.submit(
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .count
        )
        f_tri = pool.submit(_total(_support(nbrs)).collect)
        f_rec = pool.submit(reciprocity(edges).collect)
        f_ncomp = pool.submit(
            lambda: connected_components(edges)
            .select("component")
            .distinct()
            .count()
        )
        n_edges = f_ne.result()
        deg_row = f_deg.result()[0]
        e_s = (deg_row["sumd"] or 0) // 2
        n = int(f_n.result())
        tri = int(f_tri.result()[0]["triangles"])
        rec = float(f_rec.result()[0]["reciprocity"])
        ncomp = int(f_ncomp.result())
    # same operand order as the clustering_global oracle: 3.0*t / (W/2)
    wedges = (deg_row["w2"] or 0) / 2
    trans = (3.0 * tri / wedges) if wedges > 0 else 0.0
    spark = edges.sparkSession
    return spark.createDataFrame(
        [
            (
                n,
                n_edges,
                e_s,
                (2.0 * e_s / (n * (n - 1))) if n > 1 else 0.0,
                int(deg_row["maxd"] or 0),
                (2.0 * e_s / n) if n else 0.0,
                tri,
                trans,
                rec,
                ncomp,
            )
        ],
        "n_vertices long, n_edges long, n_simple_edges long, "
        "density double, max_degree long, avg_degree double, "
        "triangles long, transitivity double, reciprocity double, "
        "n_components long",
    )
