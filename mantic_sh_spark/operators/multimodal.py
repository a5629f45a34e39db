"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decode / feature-extract / frame-sample as Arrow-batched pandas UDFs.

Decode support: a FAKE deterministic format for plumbing tests; every
real format (JPEG/PNG/MP4, ...) raises NotImplementedError with the
documented swap point — its codec libs (PIL/ffmpeg) are not installed
here, and dropping them in changes only the `_decode_dims` dispatch
body, never the Spark-side schema/batch plumbing.

Reference analog: the binary-artifact handling of the reference
(ONNX model / WASM downloads, src/semantic-scorer.ts:58-101 — S10):
payload bytes are opaque, metadata drives the pipeline.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = "doc_id long, kind string, payload binary, mime string, n_bytes long"

# magic prefix for the deterministic fake codec used in tests
FAKE_MAGIC = b"FAKE"

# formats whose decode needs codec libs absent from this container
COMPRESSED_FORMATS = {"image/jpeg", "image/png", "video/mp4"}


def as_media(docs: DataFrame, kind: str = "image") -> DataFrame:
    """documents-shaped df → media table: payload = FAKE header
    (width, height from doc stats) + utf-8 text bytes. Deterministic —
    stands in for a crawler's binary columns."""
    payload = F.concat(
        F.lit(FAKE_MAGIC),
        F.encode(F.format_string("%04d%04d", F.pmod(F.col("doc_id"), F.lit(640)) + 1,
                                 F.pmod(F.col("doc_id") * 7, F.lit(480)) + 1), "utf-8"),
        F.encode(F.col("text"), "utf-8"),
    )
    return docs.select(
        "doc_id",
        F.lit(kind).alias("kind"),
        payload.alias("payload"),
        F.lit(f"x-fake/{kind}").alias("mime"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def _decode_dims(payload: bytes) -> tuple[int, int]:
    """Dimension decode dispatch: FAKE (test), else the documented
    media-codec stub."""
    b = bytes(payload)
    if b.startswith(FAKE_MAGIC):
        return int(b[4:8]), int(b[8:12])
    raise NotImplementedError(
        "media codecs (PIL/ffmpeg) are not installed in this environment; "
        "only the FAKE test format decodes"
    )


def decode_metadata(media: DataFrame) -> DataFrame:
    """(doc_id, width, height, sha256, n_bytes): header decode + content
    hash, Arrow-batched."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf["payload"].map(_decode_dims)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                    "sha256": pdf["payload"].map(lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                }
            )

    return media.mapInPandas(fn, schema="doc_id long, width int, height int, sha256 string, n_bytes long")


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """(doc_id, features array<float>): deterministic byte-histogram
    'embedding' — the stub where a vision/audio encoder would batch.
    Shape (batch in, fixed-dim vector out) is the real contract."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf["payload"]:
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                hist = np.bincount(arr % dim, minlength=dim).astype(np.float64)
                total = hist.sum()
                feats.append((hist / total if total else hist).astype(np.float32).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return media.mapInPandas(fn, schema="doc_id long, features array<float>")


def sample_frames(media: DataFrame, every: int = 64, max_frames: int = 8) -> DataFrame:
    """(doc_id, frame_idx, frame binary): frame-sampling plumbing —
    slices payload bytes at a stride (a video decoder would seek
    keyframes instead; the explode/batch shape is identical)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for did, b in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(b)
                for i in range(min(max_frames, max(1, len(raw) // every))):
                    ids.append(did)
                    idxs.append(i)
                    frames.append(raw[i * every : (i + 1) * every])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": pd.array(idxs, dtype="int32"), "frame": frames})

    return media.mapInPandas(fn, schema="doc_id long, frame_idx int, frame binary")
