"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The reference routes image/scanned inputs to CV OCR engines (EasyOCR/
PaddleOCR/Qwen-VL — src/workflows/ingest/ocr/, out of scope for this
text-payload engine per SURVEY.md §7.2). This module provides the *Spark-
side* contract a large-scale multimodal pipeline needs — schema, Arrow batch
shape, partitioning, UDF signatures — with the actual codec stubbed:

* media rows: ``struct(media_type, mime, width, height, duration_ms,
  payload binary)``;
* ``decode_media`` raises ``NotImplementedError`` (image/audio libs are not
  in this container) — ``fake_decode=True`` substitutes a deterministic
  hash-derived feature vector so the distributed plumbing is fully testable;
* ``extract_features`` / ``frame_sample`` run over ``mapInPandas`` so each
  Arrow batch holds a bounded number of payloads (binary columns are
  memory-heavy: keep ``spark.sql.execution.arrow.maxRecordsPerBatch`` low
  for media tables).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ragstudio_spark.session import literal_table

MEDIA_SCHEMA = (
    "media_id bigint, media_type string, mime string, width int, height int, "
    "duration_ms int, payload binary"
)

FEATURE_DIM = 16

FEATURES_SCHEMA = (
    "media_id bigint, media_type string, n_bytes int, sha1 string, "
    "features array<float>"
)

FRAME_SCHEMA = (
    "media_id bigint, frame_idx int, frame_ts_ms int, frame_payload binary"
)


def decode_media(payload: bytes, mime: str):
    """Real decode (PIL/libav) — deliberately unimplemented in this
    container. Swap in a codec here on a cluster with the media libs."""
    raise NotImplementedError(
        "media codecs are not available in this environment; "
        "use fake_decode=True for plumbing tests"
    )


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real feature extractor: FEATURE_DIM
    floats derived from the sha1 of the payload."""
    digest = hashlib.sha1(payload or b"").digest()
    arr = np.frombuffer((digest * ((FEATURE_DIM * 4) // len(digest) + 1))[: FEATURE_DIM * 4],
                        dtype=np.uint32).astype(np.float64)
    return list((arr / np.float64(2**32)).astype(np.float32))


def extract_features(media: DataFrame, fake_decode: bool = False) -> DataFrame:
    """Distributed feature extraction over binary payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, shas, sizes = [], [], []
            for payload, mime in zip(pdf["payload"], pdf["mime"]):
                data = bytes(payload) if payload is not None else b""
                if not fake_decode:
                    decode_media(data, mime)  # raises: real codec required
                feats.append(_fake_features(data))
                shas.append(hashlib.sha1(data).hexdigest())
                sizes.append(len(data))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": sizes,
                    "sha1": shas,
                    "features": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int = 1000,
                 fake_decode: bool = False) -> DataFrame:
    """Sample frames from video payloads (1 row → N frames). The stub emits
    deterministic pseudo-frames (sliced payload bytes) at the requested
    cadence so downstream fan-out/explode plumbing is real."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame_ts_ms": [],
                   "frame_payload": []}
            for mid, mtype, dur, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["duration_ms"], pdf["payload"]
            ):
                if mtype != "video":
                    continue
                data = bytes(payload) if payload is not None else b""
                if not fake_decode:
                    decode_media(data, "video/*")
                n_frames = max(1, int(dur or 0) // every_ms)
                for i in range(n_frames):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_ts_ms"].append(i * every_ms)
                    sl = data[i % max(len(data), 1):] + bytes([i % 256])
                    out["frame_payload"].append(sl[:64])
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


RESIZED_SCHEMA = (
    "media_id bigint, media_type string, width int, height int, "
    "resized_payload binary"
)


def resize_images(media: DataFrame, target_w: int = 224, target_h: int = 224,
                  fake_decode: bool = False) -> DataFrame:
    """Distributed image resize (1 image row → 1 resized row). Real
    decode+resample (PIL) is the stub — ``fake_decode=True`` emits a
    deterministic payload of exactly ``ceil(target_w·target_h/16)`` bytes
    derived from the source sha1, so batch shape, output sizing, and the
    image-only filter are all real and tested. Non-image rows are dropped
    (resize is an image op; videos go through frame_sample first)."""
    if target_w <= 0 or target_h <= 0:
        raise ValueError(f"target dims must be positive: {target_w}x{target_h}")
    out_bytes = (target_w * target_h + 15) // 16

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "media_type": [], "width": [],
                   "height": [], "resized_payload": []}
            for mid, mtype, mime, payload in zip(
                pdf["media_id"], pdf["media_type"], pdf["mime"], pdf["payload"]
            ):
                if mtype != "image":
                    continue
                data = bytes(payload) if payload is not None else b""
                if not fake_decode:
                    decode_media(data, mime)  # raises: real codec required
                seed = hashlib.sha1(data + f":{target_w}x{target_h}".encode()).digest()
                fake = (seed * (out_bytes // len(seed) + 1))[:out_bytes]
                out["media_id"].append(mid)
                out["media_type"].append(mtype)
                out["width"].append(target_w)
                out["height"].append(target_h)
                out["resized_payload"].append(fake)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


def synthetic_media_df(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for plumbing tests."""
    kinds = [("image", "audio", "video")[i % 3] for i in range(n)]
    rows = [(i, t, f"{t}/x-fake", 64 + i, 48 + i,
             (i % 7 + 1) * 1500 if t == "video" else 0,
             hashlib.sha256(f"media:{i}".encode()).digest() * (4 + i % 5))
            for i, t in enumerate(kinds)]
    return literal_table(spark, rows, MEDIA_SCHEMA)
