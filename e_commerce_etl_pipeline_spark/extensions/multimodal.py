"""Multimodal columns: opaque binary payloads + typed metadata, with
decode / feature-extract / frame-sample as Arrow-batched Pandas
transforms over mapInPandas.

Real here: the schema (binary + metadata struct), partitioning-safe
mapInPandas plumbing, Arrow batch shapes, and deterministic byte-level
features. STUBBED (clearly): actual image/audio codecs — the container
has no PIL/ffmpeg, so ``decode_image``/``decode_audio`` raise
NotImplementedError unless given the deterministic fake codec, which
tests and the query use. On a real cluster you'd swap ``_fake_decode``
for PIL/torchvision inside the same mapInPandas shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.queries import load_table

MEDIA_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ])),
])


def attach_binary(docs: DataFrame) -> DataFrame:
    """documents -> media table: utf-8 payload bytes + derived metadata
    (deterministic stand-in for real image/audio blobs)."""
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.lit("image/fake").alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            F.lit("fake-v1").alias("codec"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes) -> dict:
    """Deterministic fake codec: byte-level stats standing in for pixel
    decoding. Replace with a real decoder on a cluster with codecs."""
    n = len(payload)
    return {
        "n_bytes": n,
        "sum_bytes": int(sum(payload)),
        "max_byte": int(max(payload)) if n else 0,
    }


def decode_image(payload: bytes):  # pragma: no cover - stub
    raise NotImplementedError(
        "real image decoding needs PIL/libjpeg (not in this container); "
        "use codec=_fake_decode for the deterministic test path"
    )


FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("sum_bytes", T.LongType()),
    T.StructField("max_byte", T.LongType()),
])


def extract_features(media: DataFrame, codec=_fake_decode) -> DataFrame:
    """Arrow-batched feature extraction. mapInPandas keeps the operator
    partition-parallel: each task decodes its own batch iterator, nothing
    collects to the driver. The default fake codec runs a vectorized
    numpy path (r13, guide §4.3: the per-byte Python ``sum(payload)``
    loop was the kernel's cost — same exact integers, byte values sum in
    int64 with no overflow); a caller-supplied codec keeps the per-row
    shape, since a real decoder owns its own batching."""

    import numpy as np

    def np_features(pays: pd.Series) -> dict:
        arrs = [np.frombuffer(p, dtype=np.uint8) for p in pays]
        k = len(arrs)
        return {
            "n_bytes": np.fromiter(
                (a.size for a in arrs), dtype=np.int64, count=k),
            "sum_bytes": np.fromiter(
                (int(a.sum()) for a in arrs), dtype=np.int64, count=k),
            "max_byte": np.fromiter(
                (int(a.max()) if a.size else 0 for a in arrs),
                dtype=np.int64, count=k),
        }

    def codec_features(pays: pd.Series) -> dict:
        feats = [codec(p) for p in pays]
        return {c: [f[c] for f in feats]
                for c in ("n_bytes", "sum_bytes", "max_byte")}

    features = np_features if codec is _fake_decode else codec_features

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # a NULL payload yields NULL features (the SQL form's answer
            # for a NULL text) instead of failing the whole batch
            pays = pdf["payload"].dropna()
            out = pd.DataFrame(
                features(pays), index=pays.index, dtype="Int64"
            ).reindex(pdf.index)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return media.select("doc_id", "payload").mapInPandas(
        run, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ])),
])


def _fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic fake resample: stride-sample the byte stream down to
    width×height bytes (stand-in for pixel resampling). Replace with a
    real resize (PIL/cv2) on a cluster with codecs."""
    target = max(width * height, 1)
    n = len(payload)
    if n <= target:
        return payload
    stride = n / target
    return bytes(payload[int(i * stride)] for i in range(target))


def resize_images(media: DataFrame, width: int = 32, height: int = 32,
                  resizer=_fake_resize) -> DataFrame:
    """Arrow-batched resize: one mapInPandas pass re-emits (payload, meta)
    with the target dimensions — the exact plumbing (schema, batch shape,
    partition-parallelism) a real thumbnailing stage uses; only the
    ``resizer`` kernel is a stand-in."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [resizer(p, width, height) for p in pdf["payload"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "payload": resized,
                "meta": [
                    {"n_bytes": len(p), "width": width, "height": height,
                     "codec": "fake-v1-resized"}
                    for p in resized
                ],
            })

    return media.select("doc_id", "payload").mapInPandas(run, RESIZED_SCHEMA)


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sampling plumbing for video-ish payloads: split the payload
    into n_frames equal byte-slices (stand-in for timestamps), one row
    per (doc_id, frame_idx). Pure column ops — no Python in the loop."""
    n = F.col("meta.n_bytes")
    frame_len = F.greatest((n / n_frames).cast("long"), F.lit(1))
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_idx")
    out = media.select("doc_id", "payload", frame_len.alias("flen"), idx)
    return out.select(
        "doc_id",
        "frame_idx",
        F.substring(
            F.col("payload").cast("string"),
            (F.col("frame_idx") * F.col("flen") + 1).cast("int"),
            8,
        ).alias("frame_preview"),
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: documents -> binary media -> mapInPandas features.
    Oracle: byte sums are reproducible in SQL because the fake payload is
    the utf-8 text (ascii in testdata)."""
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary(docs)
    return extract_features(media)


MULTIMODAL_FEATURES_SQL = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(list_sum(list_transform(generate_series(1, length(text)),
                                    i -> ascii(substr(text, i, 1)))) AS BIGINT) AS sum_bytes,
       CAST(list_max(list_transform(generate_series(1, length(text)),
                                    i -> ascii(substr(text, i, 1)))) AS BIGINT) AS max_byte
FROM documents
"""


EXT_QUERIES = {
    "multimodal_features": (multimodal_features, MULTIMODAL_FEATURES_SQL),
}
