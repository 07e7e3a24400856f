"""HyperANF — approximate neighborhood function via per-vertex
HyperLogLog sketches (Boldi, Rosa & Vigna, "HyperANF: approximating
the neighbourhood function of very large graphs on a budget",
WWW 2011; register-per-vertex ANF from Palmer et al. KDD'02).

The exact keyed-BFS form (``paths.neighborhood_function``) carries
O(V·reached) state — right for gates and sampled pivots, wrong for a
full 100 TB graph. This is the scale path: every vertex holds one
2^p-register HLL sketch (one byte per register), each round merges in
the out-neighbors' sketches (element-wise max — associative,
commutative, idempotent), and N̂(r) = Σ_v estimate(sketch_v) after r
rounds. State is exactly V·2^p bytes, distribution-friendly, and the
per-round motion is one sketch-sized message per edge plus a
segment-reduced merge.

Execution shape: sketches and messages are ``binary`` columns;
merging is a ``mapInArrow`` pass over id-repartitioned rows — batches
are sorted by id and reduced with ONE ``np.maximum.reduceat`` over the
stacked register matrix (no per-row Python), with a tiny carry dict
for ids spanning batch boundaries. Estimates are per-partition NumPy
partials summed by one aggregate. Deterministic end to end: the
register index and rho come from xxhash64 of the vertex id — no RNG.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.kernel import map_arrow, sketch_column, sketch_matrix

# HLL bias-correction constants (Flajolet et al. 2007)
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def _hll_estimate_rows(reg_mat: np.ndarray) -> np.ndarray:
    """Row-wise HLL estimate of an (n, m) uint8 register matrix, with
    the standard small-range (linear counting) correction."""
    n, m = reg_mat.shape
    est = _alpha(m) * m * m / np.power(2.0, -reg_mat.astype(np.float64)).sum(axis=1)
    zeros = (reg_mat == 0).sum(axis=1)
    small = (est <= 2.5 * m) & (zeros > 0)
    with np.errstate(divide="ignore"):
        lin = m * np.log(m / np.maximum(zeros, 1).astype(np.float64))
    return np.where(small, lin, est)


def _init_sketches(
    vertices: DataFrame, p: int, hash_fn: str = "xxhash64"
) -> DataFrame:
    """Singleton sketch per vertex: register j(v) = rho(v), rest 0 —
    j from the low p bits of the id hash, rho = leading-zero rank of
    the remaining bits (computed JVM-side then packed in Arrow).

    ``hash_fn="md5"`` uses the portable 60-bit md5 hash of the id
    string (``functions.text.hash64``) so register placement is
    ANSI-recomputable — the twin pattern every sketch gate uses;
    xxhash64 (hashing the raw long) stays the production default."""
    if hash_fn == "md5":
        from pagerank_spark.functions.text import hash64

        hashed = vertices.select(
            "id", hash64(F.col("id").cast("string"), "md5").alias("_h")
        )
        bits = 60
    else:
        hashed = vertices.select("id", F.xxhash64(F.col("id")).alias("_h"))
        bits = 64
    return map_arrow(hashed, _pack, "id long, sk binary", p=p, bits=bits)


def _pack(batches, *, p: int, bits: int):
    m = 1 << p
    for batch in batches:
        ids = batch.column("id").to_numpy(zero_copy_only=False)
        h = batch.column("_h").to_numpy(zero_copy_only=False).astype(np.uint64)
        j = (h & np.uint64(m - 1)).astype(np.int64)
        rest = h >> np.uint64(p)
        # rho = position of the first 1-bit of `rest` (1-based) =
        # trailing-zero count + 1, computed exactly: isolate the
        # lowest set bit (two's complement trick) and take its
        # log2 — powers of two are exact in fp64 for any exponent
        lowbit = rest & (np.uint64(0) - rest)
        with np.errstate(divide="ignore"):
            rho = (
                np.log2(np.maximum(lowbit, np.uint64(1)).astype(np.float64))
                + 1.0
            ).astype(np.uint8)
        rho[rest == 0] = np.uint8(bits - p + 1)
        mat = np.zeros((len(ids), m), dtype=np.uint8)
        mat[np.arange(len(ids)), j] = rho
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids), sketch_column(mat)], ["id", "sk"]
        )


def _merge(batches, *, m: int):
    carry_id = None
    carry_sk = None
    for batch in batches:
        ids = batch.column("id").to_numpy(zero_copy_only=False)
        sk = sketch_matrix(batch.column("sk"), m)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        sk = sk[order]
        if carry_id is not None:
            ids = np.concatenate([[carry_id], ids])
            sk = np.vstack([carry_sk, sk])
        starts = np.flatnonzero(
            np.concatenate([[True], ids[1:] != ids[:-1]])
        )
        merged = np.maximum.reduceat(sk, starts, axis=0)
        uids = ids[starts]
        # hold back the LAST group: it may continue in the next batch
        carry_id = uids[-1]
        carry_sk = merged[-1]
        if len(uids) > 1:
            yield pa.RecordBatch.from_arrays(
                [pa.array(uids[:-1]), sketch_column(merged[:-1])], ["id", "sk"]
            )
    if carry_id is not None:
        yield pa.RecordBatch.from_arrays(
            [pa.array([carry_id]), sketch_column(carry_sk[None, :])],
            ["id", "sk"],
        )


def _estimate(batches, *, m: int):
    for batch in batches:
        sk = sketch_matrix(batch.column("sk"), m)
        yield pa.RecordBatch.from_arrays(
            [pa.array([float(_hll_estimate_rows(sk).sum())])], ["s"]
        )


def _merge_by_id(df: DataFrame, m: int, num_partitions: int) -> DataFrame:
    """Element-wise-max merge of sketches per id: repartition by id,
    then one vectorized segment reduce per Arrow batch (carry dict for
    ids spanning batches — bounded by one sketch per boundary id)."""

    # sortWithinPartitions is load-bearing: repartition alone does NOT
    # order rows, so an id could appear mid-batch in two batches and be
    # emitted twice with partially-merged sketches; with the partition
    # sorted, every id is contiguous and the single-group carry at each
    # batch boundary is exact.
    #
    # (A two-stage map-side partial merge — bit-identical since max is
    # associative/idempotent — was A/B-measured in r6 and LOST slightly
    # at this vertex count: the extra local sort + Arrow pass outweighs
    # the shuffle saving when distinct ids ≪ messages-per-partition.
    # At a 10⁹-vertex scale where per-partition id cardinality is
    # large, revisit the combiner.)
    return map_arrow(
        df.repartition(num_partitions, "id").sortWithinPartitions("id"),
        _merge, "id long, sk binary", m=m,
    )


def _total_estimate(sketches: DataFrame, m: int) -> float:
    """Σ_v estimate(sketch_v) via per-partition NumPy partials."""

    parts = map_arrow(sketches, _estimate, "s double", m=m)
    row = parts.agg(F.sum("s").alias("t")).collect()[0]
    return float(row["t"] or 0.0)


def hyper_anf(
    edges: DataFrame,
    p: int = 10,
    max_iter: int = 50,
    rel_tol: float = 1e-4,
    num_partitions: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Approximate neighborhood function:
    ``DataFrame[radius: long, pairs_est: double]`` — N̂(r) for r = 0
    until the estimate stabilizes (relative growth < ``rel_tol``, the
    HyperANF stopping rule) or ``max_iter``.

    ``p`` trades accuracy for state: 2^p one-byte registers per vertex
    (relative error ≈ 1.04/√2^p; p=10 → ~3%, 1 KB/vertex).
    ``rel_tol=float("-inf")`` disables the adaptive stop (exactly
    ``max_iter`` rounds — the fixed-unroll form the md5-twin gate
    pins); ``hash_fn="md5"`` makes register placement ANSI-replayable.
    """
    spark = edges.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    m = 1 << p
    # sketch merge is an idempotent element-wise max, so parallel
    # (src, dst) rows are exactly redundant: distinct is
    # result-identical and divides the per-round message volume (each
    # message carries a 2^p-byte sketch) by the duplication factor
    e = edges.select("src", "dst").distinct().repartition(P, "dst").persist()
    try:
        e.count()
        vertices = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        sketches = _merge_by_id(
            _init_sketches(vertices, p, hash_fn), m, P
        ).localCheckpoint()
        rows = [(0, _total_estimate(sketches, m))]
        for r in range(1, max_iter + 1):
            msgs = e.join(
                sketches.withColumnRenamed("id", "dst"), "dst"
            ).select(F.col("src").alias("id"), "sk")
            merged = _merge_by_id(
                sketches.unionByName(msgs.select("id", "sk")), m, P
            ).localCheckpoint()
            est = _total_estimate(merged, m)
            sketches = merged
            prev = rows[-1][1]
            rows.append((r, est))
            if prev > 0 and (est - prev) / prev < rel_tol:
                break
    finally:
        e.unpersist()
    return spark.createDataFrame(rows, "radius long, pairs_est double")
