"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

The container has no image/audio codecs, so the *decode* kernels are
deterministic fakes behind a clearly-marked seam (`_decode_image_stub`),
while everything Spark-side — schemas, batch iteration, partitioning,
output shapes — is real and tested.  Swapping the stub for PIL/ffmpeg is a
one-function change that does not touch any plan.

Batch bodies are vectorized: metadata (n_bytes, width, height) comes from
pandas column ops, and feature extraction runs as segment-reduced numpy over
one stacked pixel array per Arrow batch — the only per-item step is the
decode seam itself, which is per-item by nature (variable-shape outputs).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

FEATURE_DIM = 8


def _decode_image_stub(payload: bytes) -> np.ndarray:
    """STUB decode: deterministic fake 'pixels' from the payload bytes.

    Real deployment: ``PIL.Image.open(io.BytesIO(payload))``.  The fake keeps
    the contract (bytes -> HxWx3 uint8) so downstream feature extraction,
    resize, and batching are exercised for real.  Dimensions are a pure
    function of the byte length (h = len%7+2, w = len%5+2) so the metadata
    columns have an exact SQL oracle.
    """
    h = (len(payload) % 7) + 2
    w = (len(payload) % 5) + 2
    arr = np.frombuffer(
        (payload * ((h * w * 3) // max(len(payload), 1) + 1))[: h * w * 3], dtype=np.uint8
    )
    return arr.reshape(h, w, 3)


def _featurize_stacked(imgs: list[np.ndarray]) -> np.ndarray:
    """Batched channel-histogram features: one segment-reduced numpy pass
    over the batch's stacked pixels (no per-image python math).

    Per image: [mean(R,G,B), std(R,G,B), max(R), max(G)] / 255 as float32.
    """
    if not imgs:
        return np.zeros((0, FEATURE_DIM), np.float32)
    flats = [im.reshape(-1, 3) for im in imgs]
    lens = np.array([f.shape[0] for f in flats], dtype=np.int64)
    cat = np.concatenate(flats).astype(np.float64)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    sums = np.add.reduceat(cat, starts, axis=0)
    means = sums / lens[:, None]
    sqsums = np.add.reduceat(cat * cat, starts, axis=0)
    var = np.maximum(sqsums / lens[:, None] - means * means, 0.0)
    stds = np.sqrt(var)
    maxs = np.maximum.reduceat(cat, starts, axis=0)
    vec = np.concatenate([means, stds, maxs[:, :2]], axis=1)[:, :FEATURE_DIM]
    return (vec / 255.0).astype(np.float32)


def _as_bytes(payloads: pd.Series) -> pd.Series:
    """None -> b'' without per-row python (pandas fillna is columnar)."""
    out = payloads.copy()
    out = out.where(out.notna(), b"")
    return out


def decode_and_featurize(media: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """mapInPandas stage: binary payload -> (dims, bytes, feature vector).

    Arrow batches stream through the worker; metadata is computed with
    pandas column ops, features with one stacked segment-reduce per batch.
    Partitioning of the input is preserved — decode is embarrassingly
    parallel, so there is no shuffle at all.
    """

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = _as_bytes(pdf[payload_col])
            n_bytes = payloads.str.len().astype("int64")
            # the decode seam: per-item by nature (ragged output shapes)
            imgs = [_decode_image_stub(b) for b in payloads]
            feats = _featurize_stacked(imgs)
            # dims come from the DECODED images, not the stub's byte-length
            # formula — swapping the stub for a real codec keeps them honest
            # (the SQL oracle encodes the stub formula and must change with it)
            dims = (
                np.array([im.shape[:2] for im in imgs], dtype=np.int32)
                if imgs
                else np.zeros((0, 2), np.int32)
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64").to_numpy(),
                    "media_type": "image",
                    "width": dims[:, 1],
                    "height": dims[:, 0],
                    "n_bytes": n_bytes.to_numpy(),
                    "feature": list(feats),
                }
            )

    return media.mapInPandas(_batches, IMAGE_META_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 2, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """mapInPandas UDTF-style stage: one video payload -> N sampled frame rows
    (the multimodal analog of the reference's one-record->N-blocks enforcer,
    SURVEY.md §2.9).  Frame ids fan out via numpy repeat/concatenate; frame
    decode is the same stub seam."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("frame_idx", T.IntegerType(), False),
            T.StructField("feature", T.ArrayType(T.FloatType()), True),
        ]
    )

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = _as_bytes(pdf[payload_col])
            n_bytes = payloads.str.len().astype("int64").to_numpy()
            n_frames = np.maximum(n_bytes % 10, 1)
            n_sampled = (n_frames + every_n - 1) // every_n
            ids = np.repeat(pdf[id_col].astype("int64").to_numpy(), n_sampled)
            frame_idx = np.concatenate(
                [np.arange(0, nf, every_n, dtype=np.int32) for nf in n_frames]
            ) if len(n_frames) else np.zeros(0, np.int32)
            # decode seam (per sampled frame by nature)
            imgs = [
                _decode_image_stub(bytes(b) + bytes([f]))
                for b, k in zip(payloads, n_sampled)
                for f in range(0, int(k) * every_n, every_n)
            ]
            feats = _featurize_stacked(imgs)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": frame_idx, "feature": list(feats)}
            )

    return media.mapInPandas(_batches, out_schema)
