"""Deduplication operators for large-scale training-data pipelines.

Four strategies over a document table ``(doc_id: long, text: string)``,
ordered by cost/recall tradeoff:

- ``exact_duplicates`` / ``dedup_exact`` — md5 content hash, one
  map-side-combinable groupBy. The 100 TB workhorse: the shuffle
  carries (hash, doc_id) pairs only, never the text.
- ``minhash_lsh_pairs`` — shingle → MinHash signature → banded LSH
  bucket join. Shingling and string hashing stay JVM-side
  (``transform`` + ``xxhash64`` inside whole-stage codegen); the K
  permutations are computed in ONE vectorized Arrow kernel per batch
  (universal hashing over the shingle-hash array — zero per-row
  Python, no K-fold explode). The only shuffle is on (band,
  band_hash), i.e. O(docs * bands) skinny rows.
- ``simhash_fingerprints`` — 64-bit SimHash packed from token-hash
  arrays in the same Arrow-kernel style; near-dup candidates = equal
  fingerprint (or banded 16-bit chunks for Hamming<=k).
- ``ngram_jaccard_pairs`` — exact n-gram Jaccard verification on
  candidate pairs (array_intersect/array_union, JVM-side); used to
  confirm LSH candidates or as the small-scale brute-force baseline.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.kernel import list_values, map_arrow

# Mersenne prime for universal hashing of 64-bit shingle hashes.
_MERSENNE = (1 << 61) - 1


def _fanout(docs: DataFrame) -> DataFrame:
    """Repartition a too-narrow input up to the cluster parallelism.

    A small parquet scan can yield 1-2 partitions, serializing every
    downstream Arrow kernel onto as many cores; one round-robin
    shuffle of the (skinny) document table restores full parallelism.
    At production scale the scan already has >= defaultParallelism
    splits and this is a no-op — no shuffle is added on the 100 TB
    path. Row-local kernels are partitioning-independent, so results
    are unchanged. Streaming inputs pass through untouched (micro-batch
    parallelism is the source's concern, and ``.rdd`` is illegal on a
    streaming frame).
    """
    if docs.isStreaming:
        return docs
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        return docs.repartition(target)
    return docs


def content_hashes(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("content_hash")
    )


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: ``[content_hash, n_dups, keep_id]``.

    ``keep_id`` is the minimum doc id of the group (the canonical
    survivor) — deterministic across partitionings.
    """
    return (
        content_hashes(docs, id_col, text_col)
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id"))
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Documents with exact duplicates removed (min id survives)."""
    keep = exact_duplicates(docs, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return docs.join(keep, id_col, "left_semi")


def _content_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(doc_id, rep)`` — byte-identical-content groups.

    ``rep`` is the minimum doc id among documents with the same md5
    content hash (the canonical group representative). This is the
    degenerate-bucket guard shared by the MinHash-LSH family: running
    the band self-join at REP granularity means a flood of N
    byte-identical boilerplate documents contributes ONE row per band
    bucket instead of N (which would make the within-bucket join
    O(N^2) before any ``distinct``). The shuffle here carries only
    (hash, id) skinny rows — document text never moves.
    """
    ch = content_hashes(docs, id_col, text_col)
    reps = ch.groupBy("content_hash").agg(F.min("doc_id").alias("rep"))
    return ch.join(reps, "content_hash").select("doc_id", "rep")


def _shingle_hashes(
    docs: DataFrame, id_col: str, text_col: str, k: int,
    hash_fn: str = "xxhash64",
):
    """``(doc_id, hashes: array<long>)`` — k-token shingle hashes, all JVM-side.

    ``hash_fn="md5"`` selects the portable 60-bit md5 hash (see
    ``functions.text.hash64``) so the whole MinHash pipeline becomes
    DuckDB-value-checkable; xxhash64 stays the production default.
    """
    from pagerank_spark.functions.text import hash64, shingles

    return _fanout(docs).select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            shingles(F.col(text_col), k), lambda s: hash64(s, hash_fn)
        ).alias("hashes"),
    )


def _shingle_hash_rows(
    docs: DataFrame, id_col: str, text_col: str, k: int,
    hash_fn: str = "xxhash64",
):
    """``(doc_id, h)`` — one row per k-token shingle occurrence,
    hashed AFTER the explode. Semantically identical to exploding
    :func:`_shingle_hashes`, but the hash runs on a flat column inside
    whole-stage codegen; a hash inside ``F.transform`` evaluates
    interpreted per array element (measured ~2x slower for the md5
    path at sf0.1). Use this whenever the caller wants rows anyway;
    the array form remains for the MinHash/SimHash Arrow kernels."""
    from pagerank_spark.functions.text import hash64, shingles

    return _fanout(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), k)).alias("_s"),
    ).select("doc_id", hash64(F.col("_s"), hash_fn).alias("h"))


def minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """The (a, b) coefficients of the MinHash permutation family
    ``h -> (h*a + b) mod 2^64``: 64-bit odd multipliers from a seeded
    RandomState — adequate as a permutation family, and exposed so an
    external oracle can recompute signatures (the map is plain modular
    arithmetic, expressible in any 128-bit-capable SQL dialect)."""
    rng = np.random.RandomState(seed)
    am = (rng.randint(0, 1 << 62, size=num_perm).astype(np.uint64) << np.uint64(1)) | np.uint64(1)
    bm = rng.randint(0, 1 << 62, size=num_perm).astype(np.uint64)
    return am, bm


def _minhash(batches, *, am: np.ndarray, bm: np.ndarray, bands: int):
    num_perm = len(am)
    rows_per_band = num_perm // bands
    for batch in batches:
        nrows = batch.num_rows
        ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
        offsets, vals = list_values(batch.column("hashes"), np.uint64)
        counts = np.diff(offsets)
        # Vectorized per permutation (cache-friendly 1-D temporaries
        # instead of one (E, K) matrix): per-doc segment min via
        # minimum.reduceat — zero per-row (and per-doc) Python.
        # A +inf sentinel is appended so a trailing empty document's
        # start index stays valid WITHOUT clamping (clamping would
        # truncate the previous document's segment); empty-doc rows
        # are overwritten by the counts==0 mask below.
        sig = np.empty((nrows, num_perm), dtype=np.uint64)
        if len(vals):
            starts = offsets[:-1].astype(np.intp)
            sentinel = np.uint64(0xFFFFFFFFFFFFFFFF)
            for k in range(num_perm):
                hk = np.append(vals * am[k] + bm[k], sentinel)
                sig[:, k] = np.minimum.reduceat(hk, starts)
        sig[counts == 0] = np.uint64(0xFFFFFFFFFFFFFFFF)
        if rows_per_band == 1:
            # one row per band: the band hash IS the signature value
            # (keeps the bands=num_perm configuration portable — an
            # unmixed MinHash signature is SQL-recomputable)
            acc = sig
        else:
            # band hashes: fold each band's rows with a splitmix finalizer
            band_sig = sig.reshape(nrows, bands, rows_per_band)
            acc = np.zeros((nrows, bands), dtype=np.uint64)
            for r in range(rows_per_band):
                acc ^= band_sig[:, :, r] + np.uint64(0x9E3779B97F4A7C15) + (acc << np.uint64(6)) + (acc >> np.uint64(2))
        out_ids = np.repeat(ids, bands)
        out_band = np.tile(np.arange(bands, dtype=np.int32), nrows)
        out_hash = acc.reshape(-1).astype(np.int64)
        yield pa.RecordBatch.from_arrays(
            [pa.array(out_ids), pa.array(out_band), pa.array(out_hash)],
            ["doc_id", "band", "band_hash"],
        )


def minhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """``(doc_id, band, band_hash)`` — LSH bucket keys, bands rows per doc."""
    sh = _shingle_hashes(docs, id_col, text_col, shingle_k, hash_fn)
    return _bands_from_hashes(sh, num_perm, bands, seed)


def _bands_from_hashes(
    sh: DataFrame, num_perm: int, bands: int, seed: int
) -> DataFrame:
    """Signature kernel over a prepared ``(doc_id, hashes)`` frame —
    the single implementation behind minhash_bands and the pair join."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    am, bm = minhash_params(num_perm, seed)
    return map_arrow(
        sh, _minhash, "doc_id long, band int, band_hash long",
        am=am, bm=bm, bands=bands,
    )


def _lsh_rep_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    num_perm: int,
    bands: int,
    seed: int,
    verify_threshold: float | None,
    hash_fn: str,
) -> tuple[DataFrame, DataFrame | None]:
    """Raw LSH band-join pairs over an (assumed content-distinct) doc
    frame: ``(pairs, nonempty)``.

    ``pairs`` is ``(a, b)`` (or ``(a, b, jaccard)`` when verifying);
    ``nonempty`` lists doc ids with a non-empty shingle set (needed by
    callers to decide whether byte-identical copies of a doc verify at
    Jaccard exactly 1.0 or at NULL — i.e. never), computed only on the
    verify path.

    The shingle-hash table feeds BOTH the signature kernel and the
    verify join, so it is materialized once via ``localCheckpoint``
    (shingling + hashing dominated the headline pair query when
    recomputed). Checkpoint, not ``persist``: the blocks are released
    by Spark's ContextCleaner when the result is garbage-collected,
    instead of leaking one registered cache entry per call. This makes
    the verified path eager (one job runs at call time).
    """
    sh_base = _shingle_hashes(docs, id_col, text_col, shingle_k, hash_fn)
    if verify_threshold is not None:
        sh_base = sh_base.localCheckpoint()
    bands_df = _bands_from_hashes(sh_base, num_perm, bands, seed)
    left = bands_df.select(F.col("doc_id").alias("a"), "band", "band_hash")
    right = bands_df.select(F.col("doc_id").alias("b"), "band", "band_hash")
    cand = (
        left.join(right, ["band", "band_hash"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    if verify_threshold is None:
        return cand, None
    sh = sh_base.select("doc_id", F.array_distinct("hashes").alias("hset"))
    verified = (
        cand.join(sh.select(F.col("doc_id").alias("a"), F.col("hset").alias("ha")), "a")
        .join(sh.select(F.col("doc_id").alias("b"), F.col("hset").alias("hb")), "b")
        .select(
            "a",
            "b",
            (
                F.size(F.array_intersect("ha", "hb"))
                / F.size(F.array_union("ha", "hb"))
            ).alias("jaccard"),
        )
    )
    nonempty = sh_base.where(F.size("hashes") > 0).select("doc_id")
    return verified.where(F.col("jaccard") >= verify_threshold), nonempty


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    verify_threshold: float | None = 0.7,
    hash_fn: str = "xxhash64",
    collapse_identical: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs ``(a, b, jaccard)`` with a < b.

    Pairs colliding in >=1 LSH band; when ``verify_threshold`` is set,
    candidates are verified with exact shingle-set Jaccard (JVM
    ``array_intersect``/``array_union``) and filtered.

    ``collapse_identical=True`` (the default, and the 100 TB shape) is
    the degenerate-bucket guard: byte-identical documents are collapsed
    to one representative per content hash (``_content_groups``), the
    band self-join runs at REP granularity, and surviving rep pairs are
    expanded back to doc pairs afterwards. A flood of N identical
    boilerplate docs therefore costs ONE band-join row instead of an
    O(N^2) within-bucket candidate blowup. The OUTPUT is bit-identical
    to the uncollapsed join (identical docs have identical signatures,
    so they always collide, and verify at Jaccard exactly 1.0 — or at
    NULL, i.e. never, when the shingle set is empty); if the pair
    output itself is quadratic (a million identical docs), that is
    inherent to the pairs contract — use ``dedup_near`` for the
    linear-output cluster form.
    """
    if not collapse_identical:
        pairs, _ = _lsh_rep_pairs(
            docs, id_col, text_col, shingle_k, num_perm, bands, seed,
            verify_threshold, hash_fn,
        )
        return pairs
    mapping = _content_groups(docs, id_col, text_col).localCheckpoint()
    rep_docs = docs.join(
        mapping.where(F.col("doc_id") == F.col("rep")).select(
            F.col("doc_id").alias(id_col)
        ),
        id_col,
        "left_semi",
    )
    rep_pairs, nonempty = _lsh_rep_pairs(
        rep_docs, id_col, text_col, shingle_k, num_perm, bands, seed,
        verify_threshold, hash_fn,
    )
    # cross-group expansion: every member of a's group pairs with every
    # member of b's group (identical docs share a's / b's signature and
    # hset, so collision and jaccard carry over bit-exactly)
    ga = mapping.select(F.col("rep").alias("a"), F.col("doc_id").alias("da"))
    gb = mapping.select(F.col("rep").alias("b"), F.col("doc_id").alias("db"))
    extra = ["jaccard"] if verify_threshold is not None else []
    cross = (
        rep_pairs.join(ga, "a")
        .join(gb, "b")
        .select(
            F.least("da", "db").alias("a"),
            F.greatest("da", "db").alias("b"),
            *extra,
        )
    )
    # within-group pairs: identical docs always collide (identical
    # signatures); on the verify path they score Jaccard exactly 1.0
    # when the shingle set is non-empty and NULL (filtered) otherwise
    x = mapping.select("rep", F.col("doc_id").alias("a"))
    y = mapping.select("rep", F.col("doc_id").alias("b"))
    within = x.join(y, "rep").where(F.col("a") < F.col("b"))
    if verify_threshold is not None:
        if 1.0 >= verify_threshold:
            within = within.join(
                nonempty.select(F.col("doc_id").alias("rep")), "rep", "left_semi"
            ).select("a", "b", F.lit(1.0).alias("jaccard"))
        else:
            within = within.select(
                "a", "b", F.lit(1.0).alias("jaccard")
            ).where(F.lit(False))
    else:
        within = within.select("a", "b")
    return cross.unionByName(within)


def _simhash(batches):
    bit_idx = np.arange(64, dtype=np.uint64)
    for batch in batches:
        nrows = batch.num_rows
        ids = batch.column("doc_id").to_numpy(zero_copy_only=False)
        offsets, vals = list_values(batch.column("hashes"), np.uint64)
        counts = np.diff(offsets)
        starts = offsets[:-1].astype(np.intp)
        if len(vals):
            # Bit matrix via unpackbits on the little-endian byte
            # view: (tokens, 64) uint8 — 64x smaller temporaries
            # than the previous int64 ±1 broadcast (large fresh
            # allocations dominated the kernel: first-touch page
            # faults cost seconds per task on this class of box).
            # The trailing zero row keeps a trailing-empty-doc
            # start index valid without clamping (clamping would
            # truncate the previous document's segment).
            # explicit little-endian view: on a big-endian host a
            # bare .view(np.uint8) would byte-swap every fingerprint
            bits = np.unpackbits(
                vals.astype("<u8", copy=False).view(np.uint8).reshape(-1, 8),
                axis=1,
                bitorder="little",
            )
            ones_ext = np.zeros((len(vals) + 1, 64), dtype=np.int32)
            ones_ext[:-1] = bits
            ones = np.add.reduceat(ones_ext, starts, axis=0)
        else:
            ones = np.zeros((nrows, 64), dtype=np.int32)
        ones[counts == 0] = 0
        # bit-majority: set iff strictly more than half the token
        # hashes have the bit (== sum of ±1 > 0; ties clear the
        # bit) — the exact rule the ANSI oracle recomputes.
        fp = (
            ((2 * ones > counts[:, None]).astype(np.uint64))
            << bit_idx[None, :]
        ).sum(axis=1, dtype=np.uint64)
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids), pa.array(fp.astype(np.int64))],
            ["doc_id", "simhash"],
        )


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """``(doc_id, simhash: long)`` — 64-bit SimHash over token hashes.

    With ``hash_fn="md5"`` token hashes carry 60 bits (top 4 are zero),
    so the fingerprint's bits 60..63 are always 0 — a 60-bit SimHash
    whose bit-majority arithmetic an ANSI oracle can recompute exactly.
    """
    from pagerank_spark.functions.text import hash64

    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    th = _fanout(docs).select(
        F.col(id_col).alias("doc_id"),
        F.transform(tokens, lambda t: hash64(t, hash_fn)).alias("hashes"),
    )
    return map_arrow(th, _simhash, "doc_id long, simhash long")


def simhash_duplicate_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Pairs with IDENTICAL SimHash (Hamming 0) — the conservative bucket.

    For Hamming<=k matching, band the 64 bits into k+1 chunks and join
    per chunk (pigeonhole); identical-fingerprint is the k=0 case and
    what the tests pin.
    """
    fp = simhash_fingerprints(docs, id_col, text_col)
    a = fp.select(F.col("doc_id").alias("a"), "simhash")
    b = fp.select(F.col("doc_id").alias("b"), "simhash")
    return a.join(b, "simhash").where(F.col("a") < F.col("b")).select("a", "b", "simhash")


def dedup_near(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Remove near-duplicates, keeping one canonical doc per cluster.

    Composition of the engine's own operators: MinHash-LSH candidate
    pairs (verified at ``threshold`` Jaccard) form a similarity graph;
    ``connected_components`` (small-star/large-star) clusters it; the
    minimum doc id of each cluster survives. Transitive near-duplicate
    chains (A~B~C with A!~C) therefore collapse to one representative —
    the behavior large-scale training-data dedup wants.

    LINEAR end-to-end — the shape to use at 100 TB: byte-identical
    documents collapse to one representative per content hash BEFORE
    the LSH band join (``_content_groups``), the similarity graph and
    its connected components live at rep granularity, and group members
    attach to their rep's cluster by a plain equi-join. A million
    identical boilerplate docs therefore cost one graph vertex and one
    group-by — never a pair expansion (unlike ``minhash_lsh_pairs``,
    whose pair OUTPUT is inherently quadratic on identical docs).
    Members join their rep's cluster only when identical copies
    actually verify (non-empty shingle set, since identical docs score
    Jaccard exactly 1.0 >= threshold); empty-shingle copies stay
    isolated and survive, matching the uncollapsed pair semantics.
    """
    mapping = _content_groups(docs, id_col, text_col).localCheckpoint()
    rep_docs = docs.join(
        mapping.where(F.col("doc_id") == F.col("rep")).select(
            F.col("doc_id").alias(id_col)
        ),
        id_col,
        "left_semi",
    )
    pairs, nonempty = _lsh_rep_pairs(
        rep_docs, id_col, text_col, shingle_k, num_perm, bands, seed,
        verify_threshold=threshold, hash_fn=hash_fn,
    )
    keep = _near_keep_ids(mapping, pairs, nonempty, threshold, id_col)
    return docs.join(keep, id_col, "left_semi")


def _near_keep_ids(
    mapping: DataFrame,
    pairs: DataFrame,
    nonempty: DataFrame,
    threshold: float,
    id_col: str,
) -> DataFrame:
    """The cluster tail shared by batch ``dedup_near`` and the
    streaming drain (``streaming.dedup.near_dedup_keep_set``):
    connected components over the verified rep-pair graph, group
    members attached to their rep's cluster, min doc id per cluster —
    one ``[id_col]`` keep row per surviving document."""
    from pagerank_spark.operators.components import connected_components

    # checkpoint the (tiny) pair frame: connected_components scans its
    # input once for vertices and once for the edge set, and each scan
    # would otherwise re-run the whole LSH bucket+verify pipeline
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).localCheckpoint()
    labels = connected_components(edges)
    # every doc's cluster: its rep's component (reps absent from the
    # near graph are their own cluster); a non-rep member merges into
    # the rep's cluster only if identical copies verify (rep shingle
    # set non-empty and 1.0 >= threshold) — otherwise it is isolated
    merge_ok = F.lit(1.0 >= threshold) & F.col("ne").isNotNull()
    doc_clusters = (
        mapping.join(
            labels.select(F.col("id").alias("rep"), "component"), "rep", "left"
        )
        .join(
            nonempty.select(
                F.col("doc_id").alias("rep"), F.lit(True).alias("ne")
            ),
            "rep",
            "left",
        )
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") == F.col("rep")) | merge_ok,
                F.coalesce("component", "rep"),
            )
            .otherwise(F.col("doc_id"))
            .alias("cluster"),
        )
    )
    return (
        doc_clusters.groupBy("cluster")
        .agg(F.min("doc_id").alias(id_col))
        .select(id_col)
    )


def _simhash_near_fp_pairs(
    fp_distinct: DataFrame, max_hamming: int
) -> DataFrame:
    """``(ha, hb, hamming)`` with ha < hb over DISTINCT fingerprints.

    Pigeonhole blocking: split the 64-bit fingerprint into
    ``max_hamming + 1`` chunks — any pair within distance k must agree
    on at least one chunk — then verify candidates exactly with
    ``bit_count(a XOR b)``. Joining distinct fingerprints (not docs) is
    the degenerate-bucket guard: a corpus with millions of identical
    near-empty documents contributes ONE row per chunk bucket here,
    instead of a quadratic within-bucket doc join.
    """
    chunks = max_hamming + 1
    bits = 64 // chunks
    mask = (1 << bits) - 1
    keys = fp_distinct.select(
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", c * bits).bitwiseAND(F.lit(mask))
                    for c in range(chunks)
                ]
            )
        ).alias("chunk", "key"),
    )
    a = keys.select(F.col("simhash").alias("ha"), "chunk", "key")
    b = keys.select(F.col("simhash").alias("hb"), "chunk", "key")
    cand = (
        a.join(b, ["chunk", "key"])
        .where(F.col("ha") < F.col("hb"))
        .select("ha", "hb")
        .distinct()
    )
    return cand.select(
        "ha",
        "hb",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Pairs with SimHash Hamming distance <= ``max_hamming``:
    ``(a, b, hamming)``.

    Two-level structure: the banded candidate join runs at DISTINCT-
    fingerprint granularity (``_simhash_near_fp_pairs``), then doc
    pairs are expanded by joining each side's doc list back; identical-
    fingerprint pairs (Hamming 0) bypass the candidate machinery
    entirely (one equi-self-join on the fingerprint). The candidate
    stage therefore never blows up on degenerate buckets — if the PAIR
    OUTPUT itself is quadratic (a million identical empty docs), that
    is inherent to the pairs contract; use ``simhash_dedup_near`` for
    the linear-output cluster form.
    """
    fp = simhash_fingerprints(docs, id_col, text_col, hash_fn).localCheckpoint()
    near_fp = _simhash_near_fp_pairs(fp.select("simhash").distinct(), max_hamming)
    cross = (
        near_fp.join(
            fp.select(F.col("simhash").alias("ha"), F.col("doc_id").alias("da")),
            "ha",
        )
        .join(
            fp.select(F.col("simhash").alias("hb"), F.col("doc_id").alias("db")),
            "hb",
        )
        .select(
            F.least("da", "db").alias("a"),
            F.greatest("da", "db").alias("b"),
            "hamming",
        )
    )
    eq = (
        fp.select(F.col("doc_id").alias("a"), "simhash")
        .join(fp.select(F.col("doc_id").alias("b"), "simhash"), "simhash")
        .where(F.col("a") < F.col("b"))
        .select("a", "b", F.lit(0).alias("hamming"))
    )
    return eq.unionByName(cross)


def simhash_dedup_near(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate removal by SimHash: keep one doc per Hamming-
    <=k cluster (min doc id survives). LINEAR output — the shape to use
    at 100 TB where identical-fingerprint groups (empty/boilerplate
    docs) would make the pairs form quadratic: clusters are connected
    components of the DISTINCT-fingerprint near graph, so a million
    identical docs cost one graph vertex and one group-by, never a
    pair expansion.
    """
    from pagerank_spark.operators.components import connected_components

    fp = simhash_fingerprints(docs, id_col, text_col, hash_fn).localCheckpoint()
    near_fp = _simhash_near_fp_pairs(fp.select("simhash").distinct(), max_hamming)
    # tiny frame (distinct-fingerprint near graph) checkpointed so CC's
    # vertex + edge scans don't re-run the banded candidate join
    labels = connected_components(
        near_fp.select(
            F.col("ha").alias("src"), F.col("hb").alias("dst")
        ).localCheckpoint()
    )
    doc_clusters = fp.join(
        labels.withColumnRenamed("id", "simhash"), "simhash", "left"
    ).select(
        "doc_id", F.coalesce("component", "simhash").alias("cluster")
    )
    keep = doc_clusters.groupBy("cluster").agg(
        F.min("doc_id").alias(id_col)
    ).select(id_col)
    return docs.join(keep, id_col, "left_semi")


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    block_bits: int = 0,
    max_bruteforce_rows: int = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs, ``(a, b, jaccard)``.

    ``block_bits`` > 0 blocks the quadratic join by a cheap prefix key
    (docs only compared within a block) — the scale knob. 0 is TRUE
    ALL-PAIRS and is gated: the table must have at most
    ``max_bruteforce_rows`` rows (checked eagerly) so a
    production-scale table can never silently become a cartesian
    product — callers must either pass ``block_bits`` or explicitly
    raise the ceiling for a deliberate small brute-force run.
    """
    sh = _shingle_hashes(docs, id_col, text_col, n).select(
        "doc_id", F.array_distinct("hashes").alias("hset")
    )
    if block_bits <= 0:
        n_docs = docs.count()
        if n_docs > max_bruteforce_rows:
            raise ValueError(
                f"block_bits=0 is an all-pairs cross join and the table has "
                f"{n_docs} rows (> max_bruteforce_rows={max_bruteforce_rows}); "
                "pass block_bits>0 (LSH-style blocking) or raise "
                "max_bruteforce_rows explicitly for a deliberate brute-force run"
            )
    if block_bits > 0:
        sh = sh.withColumn(
            "block", F.pmod(F.xxhash64(F.element_at("hset", 1)), F.lit(1 << block_bits))
        )
        join_cond = ["block"]
        a = sh.select(F.col("doc_id").alias("a"), F.col("hset").alias("ha"), "block")
        b = sh.select(F.col("doc_id").alias("b"), F.col("hset").alias("hb"), "block")
        pairs = a.join(b, join_cond).where(F.col("a") < F.col("b"))
    else:
        a = sh.select(F.col("doc_id").alias("a"), F.col("hset").alias("ha"))
        b = sh.select(F.col("doc_id").alias("b"), F.col("hset").alias("hb"))
        pairs = a.crossJoin(b).where(F.col("a") < F.col("b"))
    return pairs.select(
        "a",
        "b",
        (
            F.size(F.array_intersect("ha", "hb")) / F.size(F.array_union("ha", "hb"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def contamination(
    docs_eval: DataFrame,
    docs_train: DataFrame,
    shingle_k: int = 13,
    min_matches: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Train/eval overlap detection by n-gram collision — the standard
    LLM decontamination recipe (13-gram overlap, per GPT-3 appx C /
    PaLM): ``(doc_id, n_matches, n_shingles, overlap_ratio)`` for
    every EVAL document sharing at least ``min_matches`` distinct
    ``shingle_k``-gram hashes with ANY training document.

    Scale shape: both corpora reduce to DISTINCT (doc, shingle-hash) /
    (shingle-hash) skinny rows JVM-side; the only shuffle is the
    semi-join on the 8-byte hash — document text never moves. The
    train side collapses to its distinct hash set (vocabulary-sized),
    so eval cost is independent of training-corpus duplication.
    ``overlap_ratio`` = matched / total distinct shingles of the eval
    doc — the threshold knob decontamination pipelines tune.
    ``hash_fn="md5"`` keeps the whole check ANSI-replayable.
    """
    # checkpoint: the distinct (doc_id, hash) table feeds BOTH the
    # per-doc totals and the train semi-join — without materialization
    # the dominant shingling+hashing scan would run twice
    ev = (
        _shingle_hash_rows(docs_eval, id_col, text_col, shingle_k, hash_fn)
        .distinct()
        .localCheckpoint()
    )
    tr = (
        _shingle_hash_rows(docs_train, id_col, text_col, shingle_k, hash_fn)
        .select("h")
        .distinct()
    )
    totals = ev.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        ev.join(tr, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .where(F.col("n_matches") >= min_matches)
    )
    return hits.join(totals, "doc_id").select(
        "doc_id",
        "n_matches",
        "n_shingles",
        (F.col("n_matches") / F.col("n_shingles")).alias("overlap_ratio"),
    )


def duplicated_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
    max_docs: int = 1,
) -> DataFrame:
    """Lines that occur in more than ``max_docs`` distinct documents:
    ``(line_hash, n_docs)``.

    Line identity is the md5 of the lower-cased, trimmed line (CCNet's
    normalize-before-hash rule, Wenzek et al. 2019 §3.1); blank lines
    are never counted. Scale shape: after the split/explode the only
    shuffle carries DISTINCT (line_hash, doc_id) skinny rows — the
    line text itself never moves — and the doc count is a combinable
    ``count`` over those pairs.
    """
    import re as _re

    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), _re.escape(delim), -1)).alias("line"),
    )
    norm = F.lower(F.trim(F.col("line")))
    return (
        lines.where(norm != "")
        .select(F.md5(norm).alias("line_hash"), "doc_id")
        .distinct()
        .groupBy("line_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_docs)
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
    max_docs: int = 1,
) -> DataFrame:
    """Exact line-level deduplication (RefinedWeb, Penedo et al. 2023
    §"exact deduplication"; CCNet paragraph dedup): remove from EVERY
    document any line whose normalized form occurs in more than
    ``max_docs`` distinct documents, and reassemble the survivors in
    original order. Returns ``(doc_id, text, n_lines, n_removed)``;
    a document whose every line is duplicated keeps an empty text.

    Blank lines (empty after trim) are structural, not content: they
    are never counted as duplicates and always survive.

    Scale shape: the duplicate-line vocabulary is built from DISTINCT
    (line_hash, doc_id) skinny rows (see ``duplicated_lines``) — text
    never enters that shuffle. The flagging join keys on the 16-byte
    hash against the (usually small) over-threshold vocabulary, and
    reassembly is ONE groupBy(doc) with an in-memory array_sort on
    (pos, line) — per-doc state, never corpus-wide. No driver loop,
    no Python UDF; every expression is whole-stage-codegen eligible.
    """
    import re as _re

    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), _re.escape(delim), -1)).alias(
            "pos", "line"
        ),
    )
    norm = F.lower(F.trim(F.col("line")))
    dup = duplicated_lines(docs, id_col, text_col, delim, max_docs)
    flagged = (
        lines.withColumn("line_hash", F.when(norm != "", F.md5(norm)))
        .join(dup, "line_hash", "left")
        .withColumn("is_dup", F.col("n_docs").isNotNull())
    )
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("pos", "line", "is_dup"))),
                    lambda s: ~s["is_dup"],
                ),
                lambda s: s["line"],
            ),
            delim,
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("is_dup").cast("long")).alias("n_removed"),
    )


def duplicate_spans(
    docs: DataFrame,
    shingle_k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document duplicated-substring signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": exact
    substring dedup at 50-token granularity): for every document, the
    fraction of its ``shingle_k``-token spans whose hash occurs more
    than once in the corpus — in another document OR repeated within
    the same one. ``(doc_id, n_spans, n_dup_spans, dup_span_frac)``.

    This is the ranking/filtering form of substring dedup: pipelines
    drop or trim documents above a dup_span_frac threshold instead of
    surgically cutting the spans (which changes tokenization anyway).

    Scale shape: documents reduce to (span-hash, doc_id) skinny rows
    JVM-side (one ``transform`` over the token array, no explode of
    text); the span-occurrence count is ONE combinable groupBy on the
    8-byte hash, and the flagging join keys on the same hash against
    the over-threshold vocabulary, which AQE can broadcast when small.
    Document text never moves. ``hash_fn="md5"`` keeps every step
    ANSI-replayable (see ``functions.text.hash64``).
    """
    ex = _shingle_hash_rows(docs, id_col, text_col, shingle_k, hash_fn)
    dup = (
        ex.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") > 1)
        .select("h")
    )
    return (
        ex.join(dup.withColumn("_dup", F.lit(True)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("_dup").isNotNull().cast("long")).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans") / F.col("n_spans")).alias("dup_span_frac"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    shingle_k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Surgical exact-substring deduplication (Lee et al. 2022, the
    removal form next to :func:`duplicate_spans`' ranking form): cut
    from every document each token covered by a ``shingle_k``-token
    span whose hash occurs more than once in the corpus (cross-doc or
    within-doc), and reassemble the survivors in original order —
    ``(doc_id, text, n_tokens, n_removed)``. Whitespace is normalized
    to single spaces by reassembly (tokenization is the whitespace
    split the shingle hashes are built from, so coverage positions and
    token positions align exactly); documents shorter than
    ``shingle_k`` tokens hash as one padded span and are removed
    whole if that span is duplicated.

    Scale shape: the duplicate vocabulary comes from skinny
    (span-hash) rows; coverage expands each DUPLICATED span into k
    (doc, position) rows — O(dup-spans · k), not O(corpus · k) — and
    collapses them with one distinct; reassembly is ONE groupBy(doc)
    with an in-memory array_sort on (pos, token), per-doc state only.
    Text never shuffles except the final per-doc rebuild.
    ``hash_fn="md5"`` keeps every step ANSI-replayable.
    """
    from pagerank_spark.functions.text import hash64, shingles

    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), r"\s+")).alias("pos", "w"),
    )
    spans = (
        _fanout(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(shingles(F.col(text_col), shingle_k)).alias(
                "spos", "_s"
            ),
        )
        .select("doc_id", "spos", hash64(F.col("_s"), hash_fn).alias("h"))
        .localCheckpoint()
    )
    dup = (
        spans.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") > 1)
        .select("h")
    )
    covered = (
        spans.join(dup, "h", "left_semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.col("spos"), F.col("spos") + F.lit(shingle_k - 1)
                )
            ).alias("pos"),
        )
        .distinct()
    )
    flagged = toks.join(
        covered.withColumn("_c", F.lit(True)), ["doc_id", "pos"], "left"
    ).withColumn("is_cov", F.col("_c").isNotNull())
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w", "is_cov"))
                    ),
                    lambda s: ~s["is_cov"],
                ),
                lambda s: s["w"],
            ),
            " ",
        ).alias(text_col),
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.col("is_cov").cast("long")).alias("n_removed"),
    )
