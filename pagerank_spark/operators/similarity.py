"""Similarity search over an embedding column (``array<float>``).

- ``cosine_topk`` — brute-force cosine top-k against a query vector.
  The dot product and norm are ``F.aggregate``/``F.zip_with`` over the
  array column: whole-stage codegen, no Python. This is the exact
  baseline; at 100 TB it is a single scan + a k-row ordered reduce
  (Spark's top-k is a per-partition heap + driver merge, no full
  sort).
- ``knn_pairs_bruteforce`` — all-pairs top-k neighbors (test scale).
- ``lsh_cosine_buckets`` / ``cosine_topk_lsh`` — random-hyperplane
  (sign-LSH) bucketing computed in one vectorized Arrow kernel; at
  scale candidates are restricted to the query's bucket (and optional
  multi-probe neighbors), turning the scan into a partition-pruned
  bucket lookup. The scale path mandated by the build brief (IVF/LSH
  variant).
- ``embedding_near_duplicates`` — pairs with cosine >= threshold via
  LSH bucket join + exact verification (embedding-cosine near-dup).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.kernel import list_values, map_arrow


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_similarity_col(vec_col, query: list[float]):
    """Column expression: cosine(vec_col, literal query vector).

    Zero-norm rows (or a zero query) get cosine 0.0, NOT NaN — Spark
    orders NaN above every double, so an unguarded division would rank
    degenerate vectors first in every descending top-k.
    """
    q = F.array(*[F.lit(float(x)) for x in query])
    qn = float(np.linalg.norm(query))
    if qn == 0.0:
        return F.lit(0.0)
    n = _norm(vec_col)
    return F.when(n > 0, _dot(vec_col, q) / (n * F.lit(qn))).otherwise(
        F.lit(0.0)
    )


def cosine_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``: ``(vec_id, cosine)``.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — a
    per-partition heap, never a global sort.
    """
    ec = F.col(vec_col).cast("array<double>")
    return (
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            cosine_similarity_col(ec, query).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def md5_planes(nbits: int, dim: int, seed: int = 42) -> np.ndarray:
    """±1 hyperplanes from md5 parity — the portable twin of the
    gaussian planes (same strategy as the MinHash/SimHash md5 twins).

    Entry (p, j) is +1 iff the 60-bit md5 hash of ``"{seed}:{p}:{j}"``
    (``functions.text.hash64`` md5 mode) is even — an expression any
    ANSI engine recomputes, so the whole sign-LSH bucketing becomes
    value-checkable cross-engine. For sign-LSH, Rademacher (±1) planes
    are a standard drop-in for gaussians (Achlioptas-style sparse/signed
    random projections preserve the angle-based collision analysis);
    gaussian stays the production default.
    """
    import hashlib

    m = np.empty((nbits, dim), dtype=np.float64)
    for p in range(nbits):
        for j in range(dim):
            h = int(
                hashlib.md5(f"{seed}:{p}:{j}".encode()).hexdigest()[:15], 16
            )
            m[p, j] = 1.0 if h % 2 == 0 else -1.0
    return m


def _plane_matrix(nbits: int, dim: int, seed: int, planes) -> np.ndarray:
    if isinstance(planes, np.ndarray):
        return planes
    if planes == "gaussian":
        rng = np.random.RandomState(seed)
        return rng.normal(size=(nbits, dim))
    if planes == "md5":
        return md5_planes(nbits, dim, seed)
    raise ValueError(f"planes must be 'gaussian', 'md5' or an array: {planes!r}")


def _bucket_expr(vec_col, plane_m: np.ndarray):
    """Whole-stage-codegen bucket id: Σ_p 2^p · (v · plane_p > 0).

    The projection is a sequential left fold ``((0 + v0·s0) + v1·s1)…``
    — the exact IEEE evaluation order of an explicitly parenthesized
    SQL sum, so with ±1 planes the bucket is PROVABLY bit-identical to
    the DuckDB oracle (multiplying by ±1.0 is exact; float addition in
    the same order is deterministic).
    """
    total = F.lit(0)
    for p in range(plane_m.shape[0]):
        plane = F.array(*[F.lit(float(s)) for s in plane_m[p]])
        proj = F.aggregate(
            F.zip_with(vec_col, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        total = total + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return total.cast("long")


def _seq_dot(q, signs) -> float:
    """Driver-side projection with the SAME left-fold order as
    ``_bucket_expr`` / the SQL oracle (a BLAS dot may sum in a
    different order and could disagree on a sign at FP-noise scale)."""
    acc = 0.0
    for x, s in zip(q, signs):
        acc += float(x) * float(s)
    return acc


def _hyperplane(batches, *, planes: np.ndarray):
    nbits, dim = planes.shape
    weights = np.ascontiguousarray(planes.T)  # (dim, nbits)
    shifts = np.arange(nbits, dtype=np.uint64)
    for batch in batches:
        ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
        _, flat = list_values(batch.column("embedding"), np.float64)
        mat = flat.reshape(batch.num_rows, dim)  # fixed-dim embeddings
        proj = mat @ weights  # (n, nbits) — one BLAS call per batch
        bits = (proj > 0).astype(np.uint64)
        bucket = (bits << shifts[None, :]).sum(axis=1, dtype=np.uint64)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids), pa.array(bucket.astype(np.int64))],
            ["vec_id", "bucket"],
        )


def lsh_cosine_buckets(
    embeddings: DataFrame,
    dim: int,
    nbits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes="gaussian",
    method: str | None = None,
) -> DataFrame:
    """``(vec_id, bucket)`` — random-hyperplane sign buckets (2^nbits).

    ``planes="md5"`` selects the portable ±1 hyperplanes (value-
    checkable cross-engine); an explicit ndarray is used as-is.
    ``method`` picks the physical path: ``"kernel"`` (one BLAS matmul
    per Arrow batch — the production scale path) or ``"expr"`` (pure
    whole-stage-codegen fold, bit-reproducible in ANSI SQL). Default:
    expr for md5 planes (exactness), kernel otherwise (throughput);
    a pytest pins the two paths bucket-identical on the test corpus.
    """
    plane_m = _plane_matrix(nbits, dim, seed, planes)
    if method is None:
        method = "expr" if (isinstance(planes, str) and planes == "md5") else "kernel"
    src = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    if method == "expr":
        return src.select(
            "vec_id",
            _bucket_expr(F.col("embedding").cast("array<double>"), plane_m).alias(
                "bucket"
            ),
        )
    if method == "kernel":
        return map_arrow(
            src, _hyperplane, "vec_id long, bucket long", planes=plane_m
        )
    raise ValueError(f"method must be 'kernel' or 'expr': {method!r}")


def cosine_topk_lsh(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    nbits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes="gaussian",
) -> DataFrame:
    """Approximate top-k: exact rerank inside the query's LSH bucket.

    Recall < 1 by construction (single-probe); the bucket predicate is
    pushable, so at scale this reads ~1/2^nbits of the data. Increase
    recall with lower nbits or by multi-probing neighbor buckets.
    """
    dim = len(query)
    plane_m = _plane_matrix(nbits, dim, seed, planes)
    # the query's bucket must follow the same physical path as the
    # table side: sequential fold for md5 planes (the expr path — FP
    # order provably matches the SQL oracle), the SAME 1-row BLAS
    # matmul for gaussian/ndarray planes (the kernel path; a fold
    # could sign-flip a projection at FP-noise scale and drop the
    # query's own bucket from the candidate join)
    if isinstance(planes, str) and planes == "md5":
        qbucket = sum(
            (1 << p) for p in range(nbits) if _seq_dot(query, plane_m[p]) > 0
        )
    else:
        proj = np.asarray([query], dtype=np.float64) @ np.ascontiguousarray(
            plane_m.T
        )
        qbucket = int(
            ((proj[0] > 0).astype(np.uint64)
             << np.arange(nbits, dtype=np.uint64)).sum()
        )
    buckets = lsh_cosine_buckets(
        embeddings, dim, nbits, seed, id_col, vec_col, planes=plane_m
        if not isinstance(planes, str)
        else planes,
    )
    in_bucket = buckets.where(F.col("bucket") == qbucket).select(
        F.col("vec_id").alias("__bucket_id")
    )
    cand = embeddings.join(
        in_bucket, embeddings[id_col] == F.col("__bucket_id"), "left_semi"
    )
    return cosine_topk(cand, query, k, id_col, vec_col)


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic SPHERICAL Lloyd k-means centroids for an IVF index.

    Vectors are L2-normalized before clustering/assignment: the rerank
    metric is cosine, so clustering must live on the unit sphere too —
    Euclidean k-means on raw vectors would route a high-magnitude vector
    with perfect cosine similarity into a far cluster the probe misses.

    Init: the n_centroids vectors whose xxhash64(id, seed) is smallest —
    a deterministic pseudo-random sample, partition-order independent.
    Each Lloyd round is one assignment kernel (BLAS per Arrow batch) +
    one map-side-combinable sum/count aggregate; centroids stay driver-
    side NumPy (k × dim is tiny by construction).
    """
    dim_row = embeddings.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:
        raise ValueError("empty embeddings table")
    init = (
        embeddings.select(
            vec_col, F.xxhash64(F.col(id_col), F.lit(seed)).alias("h")
        )
        .orderBy("h")
        .limit(n_centroids)
        .collect()
    )
    centroids = _unit_rows(
        np.array([list(r[vec_col]) for r in init], dtype=np.float64)
    )
    src = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    for _ in range(iters):
        # One pass per Lloyd round: the kernel assigns AND emits
        # per-centroid (sum-vector, count) partials per Arrow batch —
        # O(batches * k) skinny rows to the driver, independent of both
        # dim (no per-dimension expressions in the plan) and row count.
        partials = map_arrow(
            src, _lloyd_partials, "centroid int, cnt long, vsum array<double>",
            centroids=centroids,
        ).collect()
        k, dim = centroids.shape
        sums = np.zeros((k, dim), dtype=np.float64)
        cnts = np.zeros(k, dtype=np.int64)
        for r in partials:
            sums[r["centroid"]] += np.asarray(r["vsum"], dtype=np.float64)
            cnts[r["centroid"]] += r["cnt"]
        new = centroids.copy()
        nonempty = cnts > 0
        new[nonempty] = sums[nonempty] / cnts[nonempty, None]
        new = _unit_rows(new)
        if np.allclose(new, centroids, atol=1e-12):
            break
        centroids = new
    return centroids


def _unit_rows(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return m / norms


def _nearest(batches, centroids: np.ndarray):
    """Per batch: (ids, unit rows, nearest centroid). Spherical
    assignment: normalize rows, argmax cosine with the unit centroids —
    magnitude must not influence routing (the rerank metric is cosine)."""
    cT = np.ascontiguousarray(centroids.T)
    for batch in batches:
        _, flat = list_values(batch.column("embedding"), np.float64)
        unit = _unit_rows(flat.reshape(batch.num_rows, centroids.shape[1]))
        ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
        yield ids, unit, (unit @ cT).argmax(axis=1)


def _lloyd_partials(batches, *, centroids: np.ndarray):
    """Assign + partial-aggregate in one pass: per batch, emit one row
    per non-empty centroid with (count, sum of normalized vectors)."""
    k, dim = centroids.shape
    for _, unit, best in _nearest(batches, centroids):
        cnts = np.bincount(best, minlength=k)
        sums = np.zeros((k, dim), dtype=np.float64)
        np.add.at(sums, best, unit)
        nz = np.flatnonzero(cnts)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(nz.astype(np.int32)),
                pa.array(cnts[nz].astype(np.int64)),
                pa.array(list(sums[nz])),
            ],
            ["centroid", "cnt", "vsum"],
        )


def _assign(batches, *, centroids: np.ndarray):
    for ids, _, best in _nearest(batches, centroids):
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids), pa.array(best.astype(np.int32))],
            ["vec_id", "centroid"],
        )


@dataclass
class IvfIndex:
    """A materialized IVF index: unit centroids + the cluster column.

    ``assignments`` is ``(vec_id, centroid)``, computed ONCE at build
    time. Probes filter it by centroid and semi-join — they never rerun
    the assignment kernel over the table. With ``path`` set at build
    time the assignment lives in a parquet directory PARTITIONED BY
    centroid, so a probe's ``centroid IN (...)`` predicate is partition
    pruning: it reads ~nprobe/n_centroids of the index files.
    """

    centroids: np.ndarray
    assignments: DataFrame
    path: str | None = None

    def probe_ids(self, query: list[float], nprobe: int) -> list[int]:
        """The ``nprobe`` centroid ids nearest (by cosine) to ``query``."""
        q = np.asarray(query, dtype=np.float64)
        qn = np.linalg.norm(q) or 1.0
        # centroids are unit vectors: cosine order == dot-product order
        order = np.argsort(-(self.centroids @ (q / qn)))
        return [int(c) for c in order[:nprobe]]


def ivf_index(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    path: str | None = None,
    centroids: np.ndarray | None = None,
) -> IvfIndex:
    """Build the IVF index once; every subsequent ``ivf_topk`` probe
    reuses it (the at-scale ANN path: assignment is paid once per
    corpus, not once per query).

    ``path=None`` keeps the assignment as a persisted DataFrame
    (memory-and-disk); with ``path`` it is written as parquet
    partitioned by ``centroid`` and read back, making probe pruning a
    physical partition prune.
    """
    if centroids is None:
        centroids = ivf_centroids(
            embeddings, n_centroids, iters, seed, id_col, vec_col
        )
    src = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    assigned = map_arrow(
        src, _assign, "vec_id long, centroid int", centroids=centroids
    )
    if path is not None:
        assigned.write.mode("overwrite").partitionBy("centroid").parquet(path)
        assigned = embeddings.sparkSession.read.parquet(path)
    else:
        # materialize so probes never re-assign; localCheckpoint (not
        # persist) so transient indexes are freed by the ContextCleaner
        # on GC rather than leaking a registered cache per ivf_topk call
        assigned = assigned.localCheckpoint()
    return IvfIndex(centroids=centroids, assignments=assigned, path=path)


def ivf_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
    index: IvfIndex | None = None,
) -> DataFrame:
    """IVF approximate top-k: exact cosine rerank within the ``nprobe``
    centroids nearest to the query.

    Pass a prebuilt ``index`` (from ``ivf_index``) for repeated
    lookups — the probe then prunes the stored cluster column instead
    of scanning the table. Without one, a transient index is built
    first (one assignment pass), so even the one-shot path never runs
    the assignment kernel more than once.
    """
    if index is None:
        index = ivf_index(
            embeddings, n_centroids, iters, seed, id_col, vec_col,
            centroids=centroids,
        )
    probe = index.probe_ids(query, nprobe)
    assigned = index.assignments.where(F.col("centroid").isin(probe))
    cand = embeddings.join(
        assigned.select(F.col("vec_id").alias("__ivf_id")),
        embeddings[id_col] == F.col("__ivf_id"),
        "left_semi",
    )
    return cosine_topk(cand, query, k, id_col, vec_col)


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    nbits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes="gaussian",
) -> DataFrame:
    """Pairs ``(a, b, cosine)`` with cosine >= threshold, LSH-blocked.

    Near-identical vectors land in the same sign bucket with high
    probability; the quadratic join runs only within buckets.
    """
    dim_row = embeddings.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:
        raise ValueError("empty embeddings table")
    dim = int(dim_row["d"])
    buckets = lsh_cosine_buckets(
        embeddings, dim, nbits, seed, id_col, vec_col, planes=planes
    )
    src = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("v")
    ).join(buckets, "vec_id")
    a = src.select(F.col("vec_id").alias("a"), F.col("v").alias("va"), "bucket")
    b = src.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"), "bucket")
    pairs = a.join(b, "bucket").where(F.col("a") < F.col("b"))
    # zero-norm guard: degenerate vectors get cosine 0 (never NaN,
    # which Spark sorts above all doubles and >= treats as true-ish)
    denom = _norm(F.col("va")) * _norm(F.col("vb"))
    cos = F.when(
        denom > 0, _dot(F.col("va"), F.col("vb")) / denom
    ).otherwise(F.lit(0.0))
    return pairs.select("a", "b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    method: str = "kmeans",
    n_centroids: int = 16,
    nbits: int = 8,
    iters: int = 5,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes="gaussian",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering embeddings and removing, within each cluster, all but
    one member of every group of vectors whose pairwise cosine
    similarity reaches ``threshold``. Returns the keep set — one
    ``[vec_id]`` row per surviving vector (the minimum id of each
    near-duplicate component; deterministic across partitionings).

    ``method="kmeans"`` (production): deterministic spherical Lloyd
    centroids (``ivf_centroids``) + one BLAS assignment kernel.
    ``method="lsh"``: sign-hyperplane buckets as the clustering —
    with ``planes="md5"`` the entire pipeline (bucketing, pairing,
    component collapse) is replayable in ANSI SQL, which is what the
    driver gate value-checks.

    Scale shape: the quadratic pair join is confined WITHIN clusters —
    that bound is the point of SemDeDup's design (cluster count scales
    with corpus size, cluster width stays ~constant). The shuffle
    carries (cluster, id, vector) once; the duplicate-pair graph is
    tiny (near-dups only) and collapses through the same distributed
    connected-components used by text near-dedup.
    """
    from pagerank_spark.operators.components import connected_components

    dim_row = embeddings.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:
        raise ValueError("empty embeddings table")
    dim = int(dim_row["d"])
    src0 = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if method == "kmeans":
        cents = ivf_centroids(
            embeddings, n_centroids, iters, seed, id_col, vec_col
        )
        clusters = map_arrow(
            embeddings.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
            ),
            _assign, "vec_id long, centroid int", centroids=cents,
        ).select("vec_id", F.col("centroid").cast("long").alias("cluster"))
    elif method == "lsh":
        clusters = lsh_cosine_buckets(
            embeddings, dim, nbits, seed, id_col, vec_col, planes=planes
        ).select("vec_id", F.col("bucket").alias("cluster"))
    else:
        raise ValueError(f"method must be 'kmeans' or 'lsh': {method!r}")
    src = src0.join(clusters, "vec_id")
    a = src.select(F.col("vec_id").alias("a"), F.col("v").alias("va"), "cluster")
    b = src.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"), "cluster")
    cand = a.join(b, "cluster").where(F.col("a") < F.col("b"))
    denom = _norm(F.col("va")) * _norm(F.col("vb"))
    cos = F.when(
        denom > 0, _dot(F.col("va"), F.col("vb")) / denom
    ).otherwise(F.lit(0.0))
    dup_pairs = cand.select("a", "b", cos.alias("cosine")).where(
        F.col("cosine") >= threshold
    )
    edges = dup_pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).localCheckpoint()
    labels = connected_components(edges)
    return (
        src0.select("vec_id")
        .join(labels.select(F.col("id").alias("vec_id"), "component"), "vec_id", "left")
        .select(
            "vec_id", F.coalesce("component", "vec_id").alias("_comp")
        )
        .groupBy("_comp")
        .agg(F.min("vec_id").alias("vec_id"))
        .select("vec_id")
    )


def embedding_covariance(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Upper-triangular covariance of an embedding column —
    ``DataFrame[i, j, cov]`` for 0 ≤ i ≤ j < d (population covariance,
    E[x_i x_j] − E[x_i]E[x_j]) plus the count baked into every
    engine's replay. The d×d second-moment structure is the input to
    PCA/whitening/Mahalanobis — the standard embedding-column health
    check (collapsed dimensions, correlated axes) before ANN indexing.

    Shape: NO self-join and NO row ids — each row expands to its own
    d(d+1)/2 upper-triangle products via nested higher-order
    ``transform`` (whole-stage codegen), which partial-aggregates
    map-side to at most d(d+1)/2 rows per task before the single
    skinny shuffle; the per-dimension mean pass rides a posexplode of
    the same column. For d=64 that is 2080 accumulators per task —
    constant state however many rows flow through.
    """
    d_pairs = F.expr(
        f"flatten(transform({vec_col}, (x, i) -> "
        f"transform(slice({vec_col}, i + 1, size({vec_col}) - i), "
        f"(y, k) -> struct(i AS i, i + k AS j, "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS xy))))"
    )
    prods = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.explode(d_pairs).alias("_p"))
        .select("_p.i", "_p.j", "_p.xy")
        .groupBy("i", "j")
        .agg(F.sum("xy").alias("_sxy"), F.count(F.lit(1)).alias("_n"))
    )
    sums = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.posexplode(vec_col).alias("i", "v"))
        .groupBy("i")
        .agg(F.sum(F.col("v").cast("double")).alias("_s"))
    )
    return (
        prods.join(
            F.broadcast(sums.select(F.col("i"), F.col("_s").alias("_si"))),
            "i",
        )
        .join(
            F.broadcast(
                sums.select(F.col("i").alias("j"), F.col("_s").alias("_sj"))
            ),
            "j",
        )
        .select(
            "i",
            "j",
            (
                F.col("_sxy") / F.col("_n")
                - (F.col("_si") / F.col("_n")) * (F.col("_sj") / F.col("_n"))
            ).alias("cov"),
        )
    )


def embedding_pca(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Principal-component projection of an embedding column —
    ``DataFrame[<id_col>, pc: array<double>]`` with the top-``k``
    component scores per vector (centered data · eigenvectors of the
    covariance, eigenvalue-descending order).

    The Spark-first split of work: the d×d covariance comes from
    :func:`embedding_covariance` (one skinny distributed pass), the
    d×d eigendecomposition runs on the DRIVER (NumPy ``eigh`` — d is
    tens-to-thousands, never data-sized), and the projection broadcasts
    the k×d component matrix back as literal arrays folded with
    ``aggregate``/``zip_with`` — zero Python in the row path. Sign
    convention: each component's largest-|loading| entry is positive
    (eigenvectors are sign-ambiguous; this pins a deterministic
    choice). Eigendecomposition is not ANSI-SQL-expressible, so the
    driver gate is rows-only; correctness is pinned by pytest against
    a NumPy PCA replay.
    """
    import numpy as np

    cov_rows = embedding_covariance(df, vec_col).collect()
    d = max(r["j"] for r in cov_rows) + 1
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r["i"], r["j"]] = C[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(C)
    order = np.argsort(vals)[::-1][: int(k)]
    comps = vecs[:, order].T  # k × d
    for row in comps:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1.0
    means = np.zeros(d)
    sums = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.posexplode(vec_col).alias("i", "v"))
        .groupBy("i")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .collect()
    )
    for r in sums:
        means[r["i"]] = r["m"]
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.array(*[F.lit(float(m)) for m in means]),
        lambda x, m: x - m,
    )
    projections = [
        F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(w)) for w in comp]),
                lambda x, w: x * w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for comp in comps
    ]
    return df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.array(*projections).alias("pc")
    )
