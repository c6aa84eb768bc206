"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side machinery (schemas, batch shapes, partition sizing, UDF
signatures) is real and tested. Decoding is a deterministic stub
(`_decode_image_stub`): pixels are derived from the byte stream by integer
arithmetic, so the gate oracle reproduces every feature value exactly.
Audio and video frames are slices of the payload.

Design notes for 100 TB of media:
* binary payloads ride in their own column; `spark.sql.files.maxPartitionBytes`
  governs scan partition sizing, and metadata-only queries never touch the
  payload column (parquet column pruning).
* decode/feature steps are `mapInPandas` so one Arrow batch amortizes model
  setup; batch size is bounded by bytes not rows (`maxRecordsPerBatch` +
  payload size).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _decode_image_stub(payload: bytes, width: int, height: int) -> np.ndarray:
    """STUB decoder: deterministic fake pixels from the byte stream.

    Pixels are the payload bytes tiled to width x height, so the DuckDB
    gate oracle can replicate them with integer arithmetic and tests can
    assert exact feature values. No codec is parsed: the same bytes give
    the same pixels whatever their MIME type.
    """
    raw = np.frombuffer(payload, dtype=np.uint8)
    n = max(1, width * height)
    reps = int(np.ceil(n / max(1, raw.size)))
    return np.tile(raw, reps)[:n].reshape(max(1, height), max(1, width))


def extract_features(media: DataFrame, feat_dim: int = 16) -> DataFrame:
    """Decode → pooled feature vector, one Arrow batch at a time.

    Pooling is column-SUM / 256 (not mean): every pooled value is a dyadic
    rational exactly representable in float32 (colsum < 2^12, divided by a
    power of two), so downstream sums/rounds are bit-deterministic and the
    DuckDB gate oracle can reproduce them with integer arithmetic."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, nbytes = [], []
            for row in pdf.itertuples(index=False):
                img = _decode_image_stub(row.payload or b"", row.width or 4, row.height or 4)
                pooled = np.resize(img.astype(np.float64).sum(axis=0), feat_dim) / 256.0
                feats.append([float(x) for x in pooled])
                nbytes.append(len(row.payload or b""))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.array(nbytes, dtype="int32"),
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def resize_images(media: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Resize (nearest-neighbor over the decoded pixels) → new payload column.
    Plan shape: mapInPandas, payload in/payload out, metadata updated."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for row in pdf.itertuples(index=False):
                img = _decode_image_stub(row.payload or b"", row.width or 4, row.height or 4)
                ys = np.linspace(0, img.shape[0] - 1, out_h).astype(int)
                xs = np.linspace(0, img.shape[1] - 1, out_w).astype(int)
                payloads.append(img[np.ix_(ys, xs)].astype(np.uint8).tobytes())
            out = pdf.copy()
            out["payload"] = payloads
            out["width"] = np.int32(out_w)
            out["height"] = np.int32(out_h)
            yield out

    return media.mapInPandas(run, MEDIA_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video rows: one output row per sampled frame.
    (Stub derives frame bytes from slices of the payload.)"""
    frame_schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("t_ms", T.IntegerType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ts, payloads = [], [], [], []
            for row in pdf.itertuples(index=False):
                if row.kind != "video":
                    continue
                dur = int(row.duration_ms or 0)
                body = row.payload or b""
                n_frames = max(1, dur // every_ms)
                step = max(1, len(body) // n_frames)
                for i in range(n_frames):
                    ids.append(row.media_id)
                    idxs.append(i)
                    ts.append(i * every_ms)
                    payloads.append(body[i * step : (i + 1) * step])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": pd.array(idxs, dtype="int32"),
                 "t_ms": pd.array(ts, dtype="int32"), "payload": payloads}
            )

    return media.mapInPandas(run, frame_schema)


def media_from_documents(docs: DataFrame, n: int = 64) -> DataFrame:
    """Deterministic media table derived from the gate's `documents` table:
    payload = UTF-8 bytes of `text` (pure-ASCII in the gate corpus), metadata
    from doc_id arithmetic. Because every byte is reproducible as
    ``ascii(substr(text, k, 1))`` in SQL, the DuckDB oracle can replicate the
    stub decode end-to-end — this is what upgrades the mm_* gate entries from
    rows-only to full value-hash PASS."""
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    mimes = F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4"))
    idx = (F.col("doc_id") % 3 + 1).cast("int")
    return (
        docs.filter((F.col("doc_id") < n) & (F.length("text") > 0))
        .select(
            F.concat(F.lit("m"), F.lpad(F.col("doc_id").cast("string"), 4, "0")).alias(
                "media_id"
            ),
            F.element_at(kinds, idx).alias("kind"),
            F.element_at(mimes, idx).alias("mime"),
            (F.col("doc_id") % 8 + 4).cast("int").alias("width"),
            (F.floor(F.col("doc_id") / 2) % 8 + 4).cast("int").alias("height"),
            ((F.col("doc_id") % 7) * 1500).cast("int").alias("duration_ms"),
            F.encode("text", "UTF-8").alias("payload"),
        )
    )


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests (no external data)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        payload = bytes(rng.integers(0, 256, size=64 + (i % 5) * 32, dtype=np.uint8))
        rows.append(
            (
                f"m{i:04d}",
                kind,
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                4 + i % 8,
                4 + (i // 2) % 8,
                (i % 7) * 1500,
                payload,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
