"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side mechanics are real and tested — schema, partitioning, Arrow
batch shape, iterator-of-batches UDF lifecycle; only the codec call is
stubbed (no image/audio libraries in this container), behind a
``decoder`` callable so a real decoder (PIL/torchaudio/ffmpeg) drops in
without touching the operator (same ModelProvider discipline as the NER /
embedding models).

Schema convention:
  media(doc_id long, media binary, media_type string,
        meta struct<width int, height int, sample_rate int, n_frames int>)

Scale notes: binary payloads dominate partition size — the operator
repartitions by payload-size ranges so one partition's batch fits Arrow
memory, and the decode UDF streams batches (mapInPandas iterator), never
materializing a partition's media in one list.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
    ]
)


def decode_image(payload: bytes) -> "np.ndarray":
    """Real decoder stub — this container ships no imaging libraries.
    Swap in PIL/opencv via the ``decoder`` arg of extract_features."""
    raise NotImplementedError(
        "image decoding requires an imaging library; pass decoder=... "
        "to extract_features (deterministic fake used in tests)"
    )


def fake_decoder(payload: bytes) -> np.ndarray:
    """Deterministic stand-in 'decode': byte histogram (16 bins) +
    length — stable features for testing the plumbing end-to-end."""
    arr = np.frombuffer(payload or b"", dtype=np.uint8)
    hist = np.bincount(arr >> 4, minlength=16).astype(np.float32)
    total = max(float(arr.size), 1.0)
    return np.concatenate([hist / total, [np.float32(arr.size)]])


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Derive a synthetic media table from the documents table (text bytes
    as the opaque payload) — fixture plumbing only."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.encode("text", "utf-8").alias("media"),
        F.lit("application/octet-stream").alias("media_type"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes], np.ndarray] = fake_decoder,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """media -> (doc_id, media_type, n_bytes, features array<float>
    [, passthrough...]).

    ``decoder`` runs once per payload inside an Arrow-batched iterator UDF;
    heavy per-worker state (a real model) would be initialized once before
    the batch loop, exactly like the NER/embedding stages.

    ``passthrough``: extra input columns carried through the UDF batch —
    metadata travels with the payload instead of a post-hoc self-join
    (one scan, no shuffle)."""
    schema = T.StructType(
        FEATURES_SCHEMA.fields
        + [media.schema[c] for c in passthrough]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # (real decoders initialize their model/codec state HERE, once)
        for pdf in batches:
            feats = [decoder(m) for m in pdf["media"]]
            out = {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": [
                    len(m) if m is not None else 0 for m in pdf["media"]
                ],
                # object dtype: an empty batch must not default this
                # array<float> column to float64 (Arrow can't convert
                # empty float64 -> list; see linking.empty_pandas)
                "features": pd.Series(
                    [f.astype(np.float32) for f in feats], dtype=object
                ),
            }
            for c in passthrough:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=schema)
