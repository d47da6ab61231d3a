"""Multimodal column plumbing: media spans as opaque binary + metadata.

The container has no image/audio codecs, so the DECODE step is a
deterministic stub behind the real Spark plumbing (schema, batch shape,
partitioning): `mapInPandas` over binary payloads with typed outputs.
Swap `_fake_decode` for a real pillow/ffmpeg call in production — the
Spark side does not change.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_FEATURE_DIM = 8

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_bytes", T.IntegerType()),
    T.StructField("checksum", T.LongType()),
    T.StructField("features", T.ArrayType(T.FloatType())),
])


def media_spans(documents: DataFrame) -> DataFrame:
    """Explode non-text spans: (doc_id, span_idx, kind, media_ref)."""
    ex = documents.select("doc_id", F.explode("spans").alias("s"))
    return ex.filter(F.col("s.kind") != "text").select(
        "doc_id",
        F.col("s.offset").alias("span_idx"),
        F.col("s.kind").alias("kind"),
        F.col("s.media_ref").alias("media_ref"),
    )


def attach_fake_payload(media: DataFrame) -> DataFrame:
    """Deterministic stand-in for fetching bytes from object storage:
    payload = utf-8 of the media_ref repeated (sized by ref hash).

    The repeat count derives from md5 (not an engine-specific hash) so
    the byte count — and hence the downstream metadata — is re-derivable
    in ANSI SQL for the DuckDB oracle."""
    reps = (F.pmod(
        F.conv(F.substring(F.md5("media_ref"), 1, 15), 16, 10).cast("bigint"),
        F.lit(64)) + 8).cast("int")
    payload = F.encode(F.concat_ws("", F.array_repeat(F.col("media_ref"), reps)), "utf-8")
    return media.withColumn("payload", payload)


def _fake_decode(kind: str, payload: bytes) -> np.ndarray:
    """STUB decoder — replace with pillow / torchaudio / ffmpeg.

    Deterministic features from the payload bytes so tests are stable.
    Raises for unknown kinds exactly as a real decoder would.
    """
    if kind not in ("image", "video", "audio"):
        raise NotImplementedError(f"no decoder for media kind {kind!r}")
    h = zlib.crc32(payload)
    rng = np.random.default_rng(h)
    return rng.normal(size=MEDIA_FEATURE_DIM).astype(np.float32)


def extract_media_features(media_with_payload: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract over binary payloads."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        from phonlp_spark.kernel.runtime import drop_zip_importers, tune_worker_runtime
        tune_worker_runtime()
        for pdf in it:
            feats, sizes, sums = [], [], []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                data = bytes(payload)
                feats.append([float(x) for x in _fake_decode(kind, data)])
                sizes.append(len(data))
                # portable 60-bit checksum: same arithmetic as SQL's
                # ('0x' || substr(md5(payload), 1, 15))::BIGINT
                sums.append(int(hashlib.md5(data).hexdigest()[:15], 16))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "media_ref": pdf["media_ref"].values,
                "kind": pdf["kind"].values,
                "n_bytes": sizes,
                "checksum": sums,
                "features": feats,
            })
        drop_zip_importers()

    return media_with_payload.mapInPandas(batches, schema=MEDIA_META_SCHEMA)


RESIZE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("thumb_checksum", T.LongType()),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_checksum", T.LongType()),
])


def _h60(data: bytes) -> int:
    import hashlib
    return int(hashlib.md5(data).hexdigest()[:15], 16)


def resize_media(media_with_payload: DataFrame, width: int = 64,
                 height: int = 64) -> DataFrame:
    """Decode + resize stub with the real Spark plumbing.

    A production decoder (pillow/ffmpeg) replaces the body of the
    per-row step; the Arrow batch shape, schema, and partitioning are
    what this pins down.  The stub derives source dims and the resized
    thumbnail's checksum deterministically from the payload bytes, so
    the op is oracle-checkable end to end.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from phonlp_spark.kernel.runtime import drop_zip_importers, tune_worker_runtime
        tune_worker_runtime()
        for pdf in it:
            sums = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                data = bytes(payload)
                # stands in for: decode(data).resize((width, height))
                sums.append(_h60(data + f":{width}x{height}".encode()))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "media_ref": pdf["media_ref"].values,
                "kind": pdf["kind"].values,
                "width": [width] * len(pdf),
                "height": [height] * len(pdf),
                "thumb_checksum": sums,
            })
        drop_zip_importers()

    return media_with_payload.mapInPandas(batches, schema=RESIZE_SCHEMA)


def sample_frames(media_with_payload: DataFrame, every_n: int = 1) -> DataFrame:
    """Frame sampling stub for video spans (real plumbing, fake codec).

    The stub's frame count is payload_len % 7 + 2 and each frame's
    checksum hashes (payload, frame index) — deterministic and
    SQL-derivable.  A real ffmpeg step changes only the inner loop; the
    one-row-in/many-rows-out Arrow shape is the point.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from phonlp_spark.kernel.runtime import drop_zip_importers, tune_worker_runtime
        tune_worker_runtime()
        for pdf in it:
            docs, refs, idxs, sums = [], [], [], []
            for doc, ref, kind, payload in zip(
                    pdf["doc_id"], pdf["media_ref"], pdf["kind"], pdf["payload"]):
                if kind != "video":
                    continue
                data = bytes(payload)
                n_frames = len(data) % 7 + 2
                for k in range(0, n_frames, every_n):
                    docs.append(doc)
                    refs.append(ref)
                    idxs.append(k)
                    sums.append(_h60(data + f":f{k}".encode()))
            yield pd.DataFrame({"doc_id": docs, "media_ref": refs,
                                "frame_idx": idxs, "frame_checksum": sums})
        drop_zip_importers()

    return media_with_payload.mapInPandas(batches, schema=FRAME_SCHEMA)


def media_kind_stats(documents: DataFrame) -> DataFrame:
    """(kind, n_spans, n_docs) over media spans — pure JVM aggregate."""
    m = media_spans(documents)
    return (
        m.groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n_spans"),
             F.countDistinct("doc_id").alias("n_docs"))
    )
