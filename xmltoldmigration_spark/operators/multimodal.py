"""Multimodal decode / feature-extract plumbing (stubbed decoders).

The container has no image/audio/video libraries, so actual decoding is
stubbed: `decode_image`/`decode_audio` raise NotImplementedError with the
intended real implementation documented, while `fake_decode` provides a
deterministic stand-in so the distributed plumbing (binary columns, Arrow
batch shapes, mapInPandas schemas, partitioning) is fully testable.

At scale: payloads stay opaque `binary` columns (parquet/Iceberg store them
page-compressed); decode runs inside mapInPandas so each Arrow batch moves
once; frame/feature outputs explode rows *inside* the UDF, which keeps the
shuffle downstream of the explode sized by output rows, not input bytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

def decode_image(payload: bytes) -> "object":
    """STUB — real impl: PIL.Image.open(io.BytesIO(payload)) -> ndarray."""
    raise NotImplementedError(
        "image decoding requires PIL/opencv, not available in this container; "
        "use fake_decode() for plumbing tests"
    )


def decode_audio(payload: bytes) -> "object":
    """STUB — real impl: soundfile.read(io.BytesIO(payload)) -> (ndarray, sr)."""
    raise NotImplementedError(
        "audio decoding requires soundfile/librosa, not available in this container"
    )


def fake_decode(payload: bytes, every_n_bytes: int) -> list[tuple[int, str]]:
    """Deterministic decoder stand-in: 'frames' are md5 digests of
    consecutive byte windows — same shape as a real frame sampler."""
    frames = []
    for idx, off in enumerate(range(0, len(payload), every_n_bytes)):
        window = payload[off : off + every_n_bytes]
        frames.append((idx, hashlib.md5(window).hexdigest()))
    return frames


def sample_frames(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """media: DataFrame[doc_id, payload binary, mime_type] ->
    DataFrame[doc_id, frame_idx, frame_sig] (one row per sampled frame)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_sig = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for idx, sig in fake_decode(bytes(payload), every_n_bytes):
                    out_ids.append(doc_id)
                    out_idx.append(idx)
                    out_sig.append(sig)
            yield pd.DataFrame(
                {"doc_id": out_ids, "frame_idx": out_idx, "frame_sig": out_sig}
            )

    return media.mapInPandas(op, schema="doc_id long, frame_idx int, frame_sig string")


def resize_image(payload: bytes, target_w: int, target_h: int) -> bytes:
    """STUB-backed resize: the real implementation is
    PIL.Image.open(...).resize((target_w, target_h)).tobytes(); the
    deterministic stand-in treats the payload as a row-major byte grid
    and strides it to the target shape, preserving the real operator's
    contract (binary in -> binary of exactly target_w*target_h bytes)."""
    if not payload:
        return b"\x00" * (target_w * target_h)
    n = len(payload)
    side = max(int(n ** 0.5), 1)
    out = bytearray()
    for y in range(target_h):
        sy = min(y * side // target_h, side - 1)
        for x in range(target_w):
            sx = min(x * side // target_w, side - 1)
            out.append(payload[(sy * side + sx) % n])
    return bytes(out)


def resize_images(media: DataFrame, target_w: int = 16, target_h: int = 16) -> DataFrame:
    """media: DataFrame[doc_id, payload binary] ->
    DataFrame[doc_id, resized binary, width int, height int].

    Arrow moves the binary column once per batch; output payload size is
    fixed (target_w*target_h), so downstream partition sizing is exact."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "resized": [
                        resize_image(bytes(p), target_w, target_h)
                        for p in pdf["payload"]
                    ],
                    "width": target_w,
                    "height": target_h,
                }
            )

    return media.mapInPandas(
        op, schema="doc_id long, resized binary, width int, height int"
    )


def extract_features(media: DataFrame, n_bins: int = 16,
                     normalize: bool = True) -> DataFrame:
    """media: DataFrame[doc_id, payload binary] ->
    DataFrame[doc_id, features array<float>] — the byte-histogram is the
    deterministic stand-in for a real image/audio embedding model; the
    plumbing (one Arrow pass, fixed-width float vector output that feeds
    straight into the ANN operators) is the real thing.  Per document one
    vectorized np.bincount over its byte array — no per-byte Python.

    normalize=False returns exact integer counts (array<bigint>) — the
    driver-hashable / SQL-checkable twin of the float vector."""
    import numpy as np

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                b = np.frombuffer(bytes(p), dtype=np.uint8)
                if b.size == 0:
                    feats.append([0.0] * n_bins if normalize else [0] * n_bins)
                    continue
                # b * n_bins // 256 is exact for any n_bins (the old
                # bit-shift left the top bins permanently empty whenever
                # n_bins was not a power of two).
                bins = np.minimum(b.astype(np.int32) * n_bins // 256, n_bins - 1)
                hist = np.bincount(bins, minlength=n_bins)[:n_bins]
                if normalize:
                    feats.append((hist / b.size).astype("float32").tolist())
                else:
                    feats.append(hist.astype("int64").tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    elem = "float" if normalize else "bigint"
    return media.mapInPandas(op, schema=f"doc_id long, features array<{elem}>")
