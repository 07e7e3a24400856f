"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are ``binary`` columns moved through the
pipeline untouched; per-asset compute (decode, resize, frame-sample,
feature-extract) runs as Arrow-batched kernels over ``mapInArrow``
(``plans/kernel.py``) so bytes never round-trip through per-row Python.

The decode step itself is STUBBED in this environment (no image/audio
codecs in the container): ``decode_stub=True`` (default) derives a
deterministic fake feature vector from the payload bytes so the full
Spark plumbing — schema, batching, partition sizing, UDF signatures —
is real and tested; ``decode_stub=False`` raises ``NotImplementedError``
at the exact seam where a real codec (Pillow/ffmpeg/soundfile) plugs in.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pagerank_spark.plans.kernel import map_arrow

ASSET_SCHEMA = (
    "asset_id long, kind string, payload binary, media_type string, "
    "width int, height int, duration_ms long"
)

FEATURE_DIM = 16


def attach_payloads(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Build an asset table from a text table (test harness): payload =
    utf-8 bytes, metadata derived deterministically. Stands in for a
    real binary-ingest source with the exact production schema."""
    t = F.col(text_col)
    return docs.select(
        F.col(id_col).alias("asset_id"),
        F.when(F.col(id_col) % 2 == 0, F.lit("image")).otherwise(F.lit("audio")).alias("kind"),
        F.encode(t, "utf-8").alias("payload"),
        F.when(F.col(id_col) % 2 == 0, F.lit("image/png"))
        .otherwise(F.lit("audio/wav"))
        .alias("media_type"),
        (F.pmod(F.xxhash64(t), F.lit(1920)) + 1).cast("int").alias("width"),
        (F.pmod(F.xxhash64(t, F.lit(1)), F.lit(1080)) + 1).cast("int").alias("height"),
        (F.pmod(F.xxhash64(t, F.lit(2)), F.lit(60000)) + 1).alias("duration_ms"),
    )


def _decode_features(payload: bytes) -> np.ndarray:
    """Deterministic fake 'decoded feature' from payload bytes."""
    digest = hashlib.sha256(payload).digest()
    raw = np.frombuffer((digest * ((FEATURE_DIM * 4) // len(digest) + 1))[: FEATURE_DIM * 4], dtype=np.uint32)
    return (raw % 10_000).astype(np.float32) / 10_000.0


def _decode_unavailable(payload: bytes) -> np.ndarray:
    raise NotImplementedError(
        "real media decode requires image/audio codecs (Pillow/ffmpeg) "
        "not present in this environment; inject decode_fn= here"
    )


def extract_features(
    assets: DataFrame, decode_stub: bool = True, decode_fn=None
) -> DataFrame:
    """``(asset_id, kind, n_bytes, feature: array<float>)`` via an Arrow kernel.

    Real pipeline shape: one Arrow batch in, vectorized work, one batch
    out. ``decode_fn`` is the codec adapter — ``bytes -> feature
    vector``, called EXACTLY ONCE per asset (the only per-asset step;
    byte counts and frame assembly stay vectorized). Plug Pillow/ffmpeg
    in by injecting it; the default is the deterministic stub
    (``decode_stub=True``) or the honest ``NotImplementedError`` seam
    (``decode_stub=False``).
    """
    if decode_fn is None:
        decode_fn = _decode_features if decode_stub else _decode_unavailable
    return map_arrow(
        assets, _features,
        "asset_id long, kind string, n_bytes long, feature array<float>",
        decode_fn=decode_fn,
    )


def _features(batches, *, decode_fn):
    for batch in batches:
        payload = batch.column("payload")
        # the injected codec call is inherently per-asset; keep it —
        # and ONLY it — inside the comprehension
        feats = [
            np.asarray(decode_fn(p), dtype=np.float32)
            for p in payload.to_pylist()
        ]
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("asset_id"),
                batch.column("kind"),
                pc.binary_length(payload).cast(pa.int64()),
                pa.array(feats, type=pa.list_(pa.float32())),
            ],
            ["asset_id", "kind", "n_bytes", "feature"],
        )


def resize_images(assets: DataFrame, max_side: int = 256, decode_stub: bool = True) -> DataFrame:
    """Resize metadata transform (aspect-preserving): plumbing is real,
    pixel work stubbed. Non-image rows pass through unchanged."""
    scale = F.when(
        (F.col("kind") == "image")
        & (F.greatest("width", "height") > max_side),
        max_side / F.greatest("width", "height").cast("double"),
    ).otherwise(F.lit(1.0))
    # least(..., max_side) guards double-rounding overshoot: e.g.
    # ceil(265 * (200/265)) == 201 in IEEE arithmetic
    clamp = lambda c: F.least(
        F.greatest(F.ceil(F.col(c) * F.col("_s")), F.lit(1)), F.lit(max_side)
    ).cast("int")
    out = assets.withColumn("_s", scale).select(
        "asset_id",
        "kind",
        "payload",
        "media_type",
        F.when(F.col("_s") < 1.0, clamp("width"))
        .otherwise(F.col("width"))
        .alias("width"),
        F.when(F.col("_s") < 1.0, clamp("height"))
        .otherwise(F.col("height"))
        .alias("height"),
        "duration_ms",
    )
    if not decode_stub:
        raise NotImplementedError("actual pixel resampling needs an image codec")
    return out


def sample_frames(
    assets: DataFrame, every_ms: int = 1000, max_frames: int = 8
) -> DataFrame:
    """Frame-sampling plan for audio/video: one row per sampled offset.

    Generates (asset_id, frame_idx, offset_ms) via sequence+explode —
    pure JVM — leaving frame decode to the stubbed codec seam.
    """
    n_frames = F.least(
        F.ceil(F.col("duration_ms") / every_ms).cast("int"), F.lit(max_frames)
    )
    # guard phantom frames: sequence(0, -1) counts DOWN in Spark, and
    # least(NULL, k) skips nulls — only positive known durations sample
    return assets.where(
        F.col("kind") != "image"
    ).where(F.col("duration_ms").isNotNull() & (F.col("duration_ms") > 0)).select(
        "asset_id",
        F.posexplode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx", "_i"),
    ).select(
        "asset_id",
        "frame_idx",
        (F.col("frame_idx").cast("long") * every_ms).alias("offset_ms"),
    )
