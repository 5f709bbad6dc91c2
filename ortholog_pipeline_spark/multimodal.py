"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with typed
metadata, processed in Arrow batches via ``mapInPandas``.

The Spark-side plumbing — schemas, partitioning, Pandas-UDF signatures, batch
iteration — is real and tested. The codec step itself is STUBBED: this container has
no image/audio libraries, so ``decode_*`` tries the real library first
(``PIL`` / ``soundfile``) and otherwise falls back to a clearly-marked deterministic
fake derived from the payload bytes (``_FAKE_DECODE=True`` in the output marks rows
produced by the stub). Swapping in the real codec changes ONE function body; the
distributed plan — scan → mapInPandas → downstream joins — is unchanged.

Scale notes: payloads never pass through Python row-at-a-time — Arrow moves each
partition in columnar batches.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("is_fake_decode", T.BooleanType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_payload", T.BinaryType()),
    ]
)


def _payload_digest(payload: bytes) -> bytes:
    """md5 over the payload's LOWERCASE-HEX form (not the raw bytes): every engine
    can reproduce ``md5(lower(hex(payload)))`` in SQL, while blob-md5 is not portable
    (DuckDB's md5 is VARCHAR-only) — this keeps the stub decode oracle-checkable."""
    return hashlib.md5(bytes(payload).hex().encode()).digest()


def _try_real_image_decode(payload: bytes):
    """Attempt a real decode; None when the codec library is absent (this container)."""
    try:
        import io

        from PIL import Image  # noqa: PLC0415

        img = Image.open(io.BytesIO(bytes(payload)))
        arr = np.asarray(img)
        return arr
    except Exception:
        return None


def _fake_image_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in decode: a small RGB array whose pixels are the payload
    digest tiled to (h, w, 3). NOT a real decode — exists so the distributed plumbing
    is testable here. Pixels are pure md5 arithmetic (no RNG state) so an external
    SQL oracle can recompute the derived features (dims, mean intensity) exactly."""
    digest = _payload_digest(payload)
    seed = int.from_bytes(digest[:4], "big")
    h, w = 8 + seed % 8, 8 + (seed >> 4) % 8
    total = h * w * 3
    buf = (digest * (total // 16 + 1))[:total]
    return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)


def decode_image_features(media: DataFrame) -> DataFrame:
    """image payload → (dims, channels, mean intensity) via mapInPandas."""

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            out = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                arr = _try_real_image_decode(payload)
                fake = arr is None
                if fake:
                    arr = _fake_image_decode(payload)
                out.append(
                    {
                        "media_id": media_id,
                        "width": arr.shape[1],
                        "height": arr.shape[0],
                        "channels": 1 if arr.ndim == 2 else arr.shape[2],
                        "mean_intensity": float(arr.mean()),
                        "is_fake_decode": fake,
                    }
                )
            yield pd.DataFrame(out)

    return (
        media.filter(F.col("media_type") == "image")
        .select("media_id", "payload")
        .mapInPandas(batches, IMAGE_FEATURES_SCHEMA)
    )


def sample_frames(media: DataFrame, every_nth: int = 10) -> DataFrame:
    """video payload → sampled frame payloads (frame extraction stubbed: slices of
    the payload stand in for decoded frames). One output row per sampled frame."""

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for media_id, payload, n_frames in zip(
                pdf["media_id"], pdf["payload"], pdf["n_frames"]
            ):
                n = int(n_frames) if n_frames and not pd.isna(n_frames) else 0
                for idx in range(0, n, every_nth):
                    # STUB: a real impl decodes frame idx; we slice deterministically
                    lo = idx % max(len(payload) - 4, 1)
                    rows.append(
                        {
                            "media_id": media_id,
                            "frame_idx": idx,
                            "frame_payload": bytes(payload)[lo : lo + 4],
                        }
                    )
            yield pd.DataFrame(rows)

    return (
        media.filter(F.col("media_type") == "video")
        .select("media_id", "payload", F.col("meta.n_frames").alias("n_frames"))
        .mapInPandas(batches, FRAME_SCHEMA)
    )


def synthesize_media_from_documents(documents: DataFrame) -> DataFrame:
    """Build a deterministic media table from the driver's documents table (for tests
    and the registry): payload = md5(text) bytes ×16, type round-robins by doc_id."""
    payload = F.to_binary(F.repeat(F.md5("text"), 16), F.lit("hex"))
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return documents.select(
        F.col("doc_id").alias("media_id"),
        mt.alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.lit("synthetic").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.when(mt == "audio", F.lit(16000)).cast("int").alias("sample_rate"),
            F.when(mt == "video", (F.col("doc_id") % 50 + 10)).cast("int").alias(
                "n_frames"
            ),
        ).alias("meta"),
    )


AUDIO_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("start_ms", T.IntegerType()),
        T.StructField("chunk_payload", T.BinaryType()),
    ]
)


def chunk_audio(media: DataFrame, chunk_ms: int = 250) -> DataFrame:
    """audio payload → fixed-duration chunk payloads (decode stubbed: 16-byte
    payload slices stand in for resampled PCM windows). One output row per
    chunk; real Arrow-batched mapInPandas plumbing, same contract as
    ``sample_frames``. A real implementation would decode with soundfile/ffmpeg
    and emit `chunk_ms` of PCM per row — the schema, batching, and partition
    sizing are exactly what that version needs."""

    def batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                n_chunks = max(1, len(b) // 16)
                for c in range(n_chunks):
                    rows.append(
                        {
                            "media_id": media_id,
                            "chunk_idx": c,
                            "start_ms": c * chunk_ms,
                            "chunk_payload": b[c * 16 : (c + 1) * 16],
                        }
                    )
            yield pd.DataFrame(rows)

    return (
        media.filter(F.col("media_type") == "audio")
        .select("media_id", "payload")
        .mapInPandas(batches, AUDIO_CHUNK_SCHEMA)
    )
