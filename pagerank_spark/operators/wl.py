"""Weisfeiler-Leman color refinement (1-WL) — vertex role discovery
and graph fingerprinting.

Extension beyond the C reference: iterated neighborhood hashing
(Weisfeiler & Leman 1968; the graph-isomorphism workhorse and the
expressiveness ceiling of message-passing GNNs, Xu et al. ICLR'19).
Vertices with the same color after r rounds have locally isomorphic
r-hop neighborhoods — the standard structural-role signature, and the
sorted color multiset is a graph-level fingerprint.

Scale shape: the textbook formulation hashes the SORTED neighbor-color
multiset, which needs a per-vertex ``collect_list`` — O(degree) state
at hubs. This implementation uses the order-insensitive combine
instead: each neighbor color is re-hashed, the per-vertex (sum, count)
of those hashes is a multiset signature computed by plain map-side-
combinable aggregates (sum carried as decimal(38,0) — exact, no
overflow, order-independent), and the next color is the hash of
``own|sum|count``. Same fixpoint partition as the multiset form up to
hash collisions (2^-64-scale, the engine's standard soundness class),
with no per-vertex array state anywhere — hub-safe at 100 TB.

``hash_fn="md5"`` makes every round ANSI-replayable (the engine's
portable-twin pattern); xxhash64 is the production default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.functions.text import hash64


def wl_colors(
    edges: DataFrame,
    rounds: int = 3,
    directed: bool = False,
    hash_fn: str = "xxhash64",
    num_partitions: int | None = None,
) -> DataFrame:
    """``DataFrame[id: long, color: long]`` after ``rounds`` of 1-WL
    refinement from a uniform initial color (round 1 therefore
    separates by degree, with parallel edges counting multiplicity —
    the engine's degree convention).
    """
    spark = edges.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    sym = edges.select("src", "dst")
    if not directed:
        sym = sym.union(
            sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    sym = sym.repartition(P, "src").persist()
    vertices = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n = vertices.count()
    hint = "broadcast" if n <= 2_000_000 else "shuffle_hash"
    colors = vertices.select("id", F.lit(0).cast("long").alias("color"))
    for _ in range(rounds):
        msgs = sym.join(
            colors.select(F.col("id").alias("src"), "color").hint(hint), "src"
        ).select(
            F.col("dst").alias("id"),
            # decimal(28,0) per message: Spark widens the SUM to
            # decimal(38,0), honoring the documented exact-no-overflow
            # guarantee up to ~10^10 same-sign messages per vertex
            # (decimal(19,0) summed only to (29,0), which a massive hub
            # could overflow to NULL -> silently corrupted color)
            hash64(F.col("color").cast("string"), hash_fn)
            .cast("decimal(28,0)")
            .alias("_h"),
        )
        agg = msgs.groupBy("id").agg(
            F.sum("_h").alias("_s"), F.count(F.lit(1)).alias("_c")
        )
        colors = (
            colors.join(agg.hint(hint), "id", "left")
            .select(
                "id",
                hash64(
                    F.concat_ws(
                        "|",
                        F.col("color").cast("string"),
                        F.coalesce(
                            F.col("_s").cast("string"), F.lit("0")
                        ),
                        F.coalesce(F.col("_c"), F.lit(0)).cast("string"),
                    ),
                    hash_fn,
                ).alias("color"),
            )
            .localCheckpoint()
        )
    sym.unpersist()
    return colors


def wl_fingerprint(
    edges: DataFrame, rounds: int = 3, directed: bool = False,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One row ``(fingerprint, n_colors)`` — an order-insensitive hash
    of the final color multiset (xor of per-color hashes of
    ``color|count``) plus the distinct-color count. Two isomorphic
    graphs always agree; unequal fingerprints prove non-isomorphism
    (the converse holds up to 1-WL expressiveness and hash
    collisions)."""
    colors = wl_colors(edges, rounds, directed, hash_fn)
    per = colors.groupBy("color").agg(F.count(F.lit(1)).alias("_c"))
    return per.agg(
        F.bit_xor(
            hash64(
                F.concat_ws(
                    "|", F.col("color").cast("string"),
                    F.col("_c").cast("string"),
                ),
                hash_fn,
            )
        ).alias("fingerprint"),
        F.count(F.lit(1)).alias("n_colors"),
    )
