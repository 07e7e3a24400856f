"""Degree-preserving null models.

The configuration model is the standard null hypothesis behind
modularity, assortativity and rich-club normalization (Newman, "The
structure and function of complex networks", SIAM Rev. 2003 §4.2.1;
Maslov & Sneppen, Science 2002 use the equivalent edge-swap form):
"what would this metric look like on a random graph with exactly this
degree sequence?" This module draws one deterministic sample from the
directed configuration model by hash-shuffling edge stubs — no RNG
state, so the same input produces the same rewiring on any partition
layout, executor count, or engine (the md5 mode replays bit-exact in
ANSI SQL).

Reference parity note: the C reference (see SURVEY.md §2.1) has no
null-model stage; this extends the §2.3 analytics surface the same way
``rich_club``/``assortativity`` already do — those metrics' published
forms are *ratios against exactly this null*.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.functions.text import hash64


def configuration_rewire(
    edges: DataFrame,
    id_col: str = "eid",
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One deterministic draw from the directed configuration model.

    Every edge contributes one OUT-stub (its ``src``) and one IN-stub
    (its ``dst``). Each stub list is put in hash order — key
    ``hash(eid, side, seed)`` with the stub's edge id as tie-break —
    and the i-th out-stub is paired with the i-th in-stub. The result
    has exactly the original out-degree and in-degree multiset (every
    stub is used exactly once), with the joint (src, dst) structure
    randomized: self-loops and parallel edges may appear, as the
    standard configuration model allows.

    ``id_col`` must hold a unique id per edge row (it seeds the
    per-stub hash and breaks ties, making the draw total-ordered and
    reproducible). ``hash_fn="md5"`` uses the portable 60-bit md5 hash
    so the pairing replays bit-exact in ANSI SQL.

    Returns ``(rn, src, dst)`` — ``rn`` is the 1-based pair index.

    Scale shape: two range-partitioned sorts of skinny ``(hash, id,
    endpoint)`` rows (Spark's sort shuffle — the same machinery a
    sort-merge join pays) and one co-partitioned join on the dense
    rank. Nothing is ever collected; no vertex or edge state beyond
    the two stub frames.
    """
    sside = lambda tag: F.concat_ws(  # noqa: E731
        "-", F.col("_eid").cast("string"), F.lit(tag), F.lit(str(seed))
    )

    def ranked(endpoint: str, tag: str) -> DataFrame:
        # sort + JVM-side global numbering (plans.rank.zip_with_index:
        # per-partition counts + broadcast offsets; NO single-partition
        # window, no driver collect, no Python row pass)
        from pagerank_spark.plans.rank import zip_with_index

        stubs = (
            edges.select(F.col(id_col).alias("_eid"), F.col(endpoint))
            .withColumn("h", hash64(sside(tag), hash_fn))
            .sort("h", "_eid")
            .select(endpoint)
        )
        return zip_with_index(stubs, out="rn", start=1).select(
            F.col("rn").cast("long"), F.col(endpoint).cast("long")
        )

    return (
        ranked("src", "o")
        .join(ranked("dst", "i"), "rn")
        .select("rn", "src", "dst")
    )


def triangle_null_samples(
    edges: DataFrame,
    id_col: str = "eid",
    n_samples: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Motif significance: the observed triangle count against
    configuration-model null draws — the published form of "is this
    graph MORE clustered than its degree sequence implies" (Maslov &
    Sneppen, Science 2002; Milo et al., Science 2002 network motifs).
    A link-farm core lights up here: its triangles survive the
    degree-preserving rewire only at the null rate.

    Returns ONE row ``(observed, null_mean, null_std, z_score,
    sample_0 … sample_{n-1})`` — every count an exact integer (each
    sample is one deterministic :func:`configuration_rewire` draw with
    seed ``seed + i``, so the whole row replays bit-exact), with the
    mean/std/z the standard-form floats derived from them
    (sample std, ddof=1; z = NULL when std = 0).

    Scale shape: n_samples × (one rewire = two skinny sorts + a rank
    join, one triangle count = one neighbour-list intersection join) —
    independent bounded jobs; nothing beyond the scalar counts ever
    reaches the driver.
    """
    import math as _math

    from pagerank_spark.operators.triangles import triangle_count

    spark = edges.sparkSession
    obs = int(
        triangle_count(edges.select("src", "dst")).first()["triangles"]
    )
    samples = []
    for i in range(n_samples):
        rw = configuration_rewire(
            edges, id_col=id_col, seed=seed + i, hash_fn=hash_fn
        ).select("src", "dst")
        samples.append(int(triangle_count(rw).first()["triangles"]))
    mean = sum(samples) / n_samples
    var = (
        sum((s - mean) ** 2 for s in samples) / (n_samples - 1)
        if n_samples > 1
        else 0.0
    )
    std = _math.sqrt(var)
    z = (obs - mean) / std if std > 0 else None
    cols = "observed long, null_mean double, null_std double, z_score double"
    cols += "".join(f", sample_{i} long" for i in range(n_samples))
    return spark.createDataFrame(
        [tuple([obs, mean, std, z] + samples)], cols
    )
