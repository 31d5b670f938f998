"""Multimodal column plumbing: opaque binary payloads as feature vectors.

Design for a 100 TB training-data pipeline: media lives in parquet as
``binary`` columns (or object-store URIs); feature extraction and frame
sampling run as Arrow-batched ``mapInPandas`` stages so bytes never leave
the executor and Python sees whole record batches, not rows.

Codec libraries (PIL/ffmpeg/torchaudio) are NOT in this container, so
decoding is a ``decoder=`` hook:
- default → ``NotImplementedError`` with a clear message
- ``fake_image_decoder`` → deterministic md5-derived features for
  opaque bytes (the oracle-replayable stand-in).
Real image/video decoding belongs to a codec library passed as the hook.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FEATURE_DIM = 8

Decoder = Callable[[bytes], np.ndarray]


def _not_implemented_decoder(payload: bytes) -> np.ndarray:
    raise NotImplementedError(
        "media codecs are not available in this environment; pass an explicit "
        "decoder — fake_image_decoder is the opaque-bytes stand-in"
    )


def fake_image_decoder(payload: bytes) -> np.ndarray:
    """Deterministic stand-in: FEATURE_DIM floats derived from the md5 of
    the payload (stable across runs/partitions)."""
    digest = hashlib.md5(payload).digest()
    return np.frombuffer(digest[:FEATURE_DIM], dtype=np.uint8).astype(np.float64) / 255.0


def extract_features(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    *,
    decoder: Decoder = _not_implemented_decoder,
    batch_feature_dim: int = FEATURE_DIM,
) -> DataFrame:
    """Decode payloads → fixed-dim feature vectors via mapInPandas.

    Output: (id, n_bytes, features array<double>[batch_feature_dim]).
    Partitioning is preserved (no shuffle); each Arrow batch decodes in one
    Python call. Failures raise (fail-fast contract).
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            feats = [decoder(p).tolist() for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "n_bytes": [len(p) for p in pdf[payload_col]],
                    "features": feats,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        decode_batches,
        schema=f"id long, n_bytes long, features array<double>",
    )


def sample_frames(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    *,
    every_n_bytes: int = 1024,
    max_frames: int = 8,
) -> DataFrame:
    """Frame-sampling plumbing: emit (id, frame_idx, frame_digest) per
    sampled "frame" (byte-stride stand-in for real video frame extraction —
    one input row explodes to <= max_frames output rows, the shape a real
    ffmpeg-backed sampler would have)."""

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_id, out_idx, out_digest = [], [], []
            for rid, payload in zip(pdf[id_col], pdf[payload_col]):
                n = min(max_frames, max(1, len(payload) // every_n_bytes))
                for i in range(n):
                    chunk = payload[i * every_n_bytes : (i + 1) * every_n_bytes]
                    out_id.append(rid)
                    out_idx.append(i)
                    out_digest.append(hashlib.md5(chunk).hexdigest())
            if out_id:
                yield pd.DataFrame({"id": out_id, "frame_idx": out_idx, "frame_digest": out_digest})

    return df.select(id_col, payload_col).mapInPandas(
        sample_batches, schema="id long, frame_idx int, frame_digest string"
    )
