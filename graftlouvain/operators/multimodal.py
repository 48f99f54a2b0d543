"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Two decode paths through the same Arrow plumbing:

- ``fake=True`` — deterministic pseudo-features from the blob's sha256 (the
  codec-independent test path; any bytes decode).
- ``fake=False`` — a REAL decoder for binary PPM (P6), the self-describing
  image format implementable in pure numpy (header ``P6 <w> <h> <maxval>`` +
  raw RGB24): per-blob parse + per-channel mean/std features. No external
  image library is required or used; blobs that are not valid P6 raise
  ``ValueError`` with the media_id (fail-loud contract — a silent skip would
  mask corrupt blobs at scale). JPEG/PNG/audio codecs would slot in at the
  same ``_decode_ppm`` seam once their libraries exist in the image.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, sha string, features array<double>"
)


def media_from_docs(docs: DataFrame) -> DataFrame:
    """Demo media table: utf-8 blobs from document text (real binary column,
    real plumbing; contents are stand-ins for image/audio bytes)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("blob"),
        F.create_map(F.lit("codec"), F.lit("fake/utf8")).alias("meta"),
    )


def _fake_features(blob: bytes, n: int = 8) -> list[float]:
    h = hashlib.sha256(blob).digest()
    return [int.from_bytes(h[4 * i: 4 * i + 4], "big") / 2**32 for i in range(n)]


def ppm_encode(width: int, height: int, pixels: "np.ndarray") -> bytes:
    """Binary PPM (P6) encoder for test/synthesis: ``pixels`` is a
    (height, width, 3) uint8 array."""
    px = np.asarray(pixels, dtype=np.uint8).reshape(height, width, 3)
    return b"P6\n%d %d\n255\n" % (width, height) + px.tobytes()


def _decode_ppm(blob: bytes) -> "np.ndarray":
    """Parse a binary PPM (P6) blob → (h, w, 3) float64 array in [0, 1].
    Pure numpy; raises ValueError on anything that is not well-formed P6."""
    if not blob.startswith(b"P6"):
        raise ValueError("not a P6 PPM blob")
    # header = magic, width, height, maxval as whitespace-separated tokens
    # (comments '#...' allowed per spec), then ONE whitespace byte, then raw
    # RGB24 data.
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(blob) and blob[pos: pos + 1].isspace():
            pos += 1
        if blob[pos: pos + 1] == b"#":
            while pos < len(blob) and blob[pos: pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos: pos + 1].isspace():
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        fields.append(int(blob[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    if maxval <= 0 or maxval > 255:
        raise ValueError(f"unsupported PPM maxval {maxval}")
    need = w * h * 3
    data = np.frombuffer(blob, dtype=np.uint8, count=need, offset=pos)
    if data.size != need:
        raise ValueError("truncated PPM pixel data")
    return data.reshape(h, w, 3).astype(np.float64) / maxval


def _ppm_features(blob: bytes) -> list[float]:
    """[width, height, mean_r, mean_g, mean_b, std_r, std_g, std_b]."""
    px = _decode_ppm(blob)
    mean = px.mean(axis=(0, 1))
    std = px.std(axis=(0, 1))
    return [float(px.shape[1]), float(px.shape[0]), *map(float, mean), *map(float, std)]


def decode_features(media: DataFrame, fake: bool = False, n_features: int = 8) -> DataFrame:
    """Per-blob feature extraction over Arrow batches (mapInPandas — one
    pandas DataFrame per batch, vectorized iteration, no per-row Python UDF
    dispatch). ``fake=True`` → sha256 pseudo-features (any bytes);
    ``fake=False`` → the real pure-numpy P6 PPM decoder (8 image features:
    dims + per-channel mean/std)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["blob"]
            if fake:
                feats = blobs.map(lambda b: _fake_features(bytes(b), n_features))
            else:
                feats = pd.Series(
                    [
                        _ppm_features(bytes(b))
                        for b in blobs
                    ],
                    index=blobs.index,
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": blobs.map(len),
                    "sha": blobs.map(lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                    "features": feats,
                }
            )

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)
