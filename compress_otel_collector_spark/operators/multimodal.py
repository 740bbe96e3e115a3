"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct; decode / feature-extract / resize / frame-sample run
as Arrow-batched ``mapInPandas`` stages. The actual media decoding libraries
are not in this container, so the decode kernel is STUBBED with a
deterministic fake (clearly marked); everything Spark-side — schema,
partitioning, UDF signature, batch shape — is real and tested.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("feature", ArrayType(FloatType())),  # fixed-dim embedding
    StructField("frames_sampled", IntegerType()),
])

FEATURE_DIM = 16


def synthesize_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake media rows derived from any id column (fixture)."""
    c = F.col(id_col)
    kind = (
        F.when(c % 3 == 0, "image").when(c % 3 == 1, "audio")
        .otherwise("video")
    )
    return df.select(
        c.cast("long").alias("media_id"),
        kind.alias("kind"),
        F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
        F.encode(F.concat(F.lit("MEDIA:"), c.cast("string")), "UTF-8")
        .alias("payload"),
        (c % 640 + 16).cast("int").alias("width"),
        (c % 480 + 16).cast("int").alias("height"),
        (c % 60000).cast("int").alias("duration_ms"),
    )


def _decode_payload_stub(payload: bytes, kind: str) -> np.ndarray:
    """STUB decode kernel. A real deployment would dispatch to PIL /
    torchaudio / pyav here; this container has none of them, so we derive a
    deterministic pseudo-feature from the payload digest instead. The
    function signature (bytes, kind) -> ndarray[FEATURE_DIM] is the real
    contract a drop-in decoder must satisfy.
    """
    digest = hashlib.sha256(payload).digest()
    arr = np.frombuffer(digest[:FEATURE_DIM * 2], dtype=np.uint8)[
        :FEATURE_DIM
    ].astype(np.float32)
    return arr / 255.0


def extract_features(media: DataFrame,
                     frames_per_video: int = 4) -> DataFrame:
    """Arrow-batched feature extraction over the opaque payload column.

    Batch shape: one pandas DataFrame per Arrow batch; the per-item decode
    loop is inside the batch (the unavoidable shape for opaque media bytes —
    same boundary the wire codec uses). Video rows fan into
    ``frames_per_video`` sampled frames whose features are mean-pooled.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, frames = [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                raw = bytes(payload)
                if kind == "video":
                    # frame salt is ASCII (not bytes([i])) so the DuckDB
                    # oracle twin can reproduce it: sha256 there is
                    # VARCHAR-only and rejects NUL/control bytes
                    fs = [
                        _decode_payload_stub(
                            raw + str(i).encode("ascii"), kind)
                        for i in range(frames_per_video)
                    ]
                    feats.append(np.mean(fs, axis=0).astype(np.float32))
                    frames.append(frames_per_video)
                else:
                    feats.append(_decode_payload_stub(raw, kind))
                    frames.append(1)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                "feature": [f.tolist() for f in feats],
                "frames_sampled": frames,
            })

    return media.mapInPandas(fn, schema=FEATURE_SCHEMA)
