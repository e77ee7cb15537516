"""Multimodal column plumbing: image/audio/video as opaque `binary`
columns with typed metadata, processed via Arrow-batched `mapInPandas`.

The Spark-side contract (schema, partition sizing, batch shape, UDF
signatures) is real and tested; the actual media decode is STUBBED —
the decode libraries (PIL/ffmpeg/torchaudio) are not in this container.
`decode_stub=True` (default) produces deterministic fake features from
the bytes (md5-derived), so downstream plumbing is fully exercisable;
`decode_stub=False` raises NotImplementedError at the decode site, which
is where a real decoder plugs in.

Scale notes: binary payloads dominate row size — keep
spark.sql.files.maxPartitionBytes at/below 128 MB so a partition's
Arrow batches fit executor memory; mapInPandas streams batches (never
materializes a whole partition); metadata-only transformations should
project the binary column away FIRST (column pruning reaches the parquet
scan, the bytes are never read).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        # double, not float: the stub features are 32-bit ints / 2^32 and
        # must round-trip exactly (float32's 24-bit mantissa would not)
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in feature vector: md5-chunk floats in [0,1)."""
    h = hashlib.md5(payload).digest()
    h = (h * ((dim * 4) // len(h) + 1))[: dim * 4]
    return [
        int.from_bytes(h[i * 4 : (i + 1) * 4], "big") / float(1 << 32)
        for i in range(dim)
    ]


def extract_features(
    media: DataFrame, dim: int = 8, decode_stub: bool = True
) -> DataFrame:
    """media(media_id, kind, payload, …) → (media_id, kind, n_bytes,
    feature array<float>) via mapInPandas (Arrow batches)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not decode_stub:
                raise NotImplementedError(
                    "real media decode requires PIL/ffmpeg — plug in here"
                )
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda b: 0 if b is None else len(b)
                    ),
                    "feature": pdf["payload"].map(
                        lambda b: None if b is None else _fake_feature(bytes(b), dim)
                    ),
                }
            )
            yield out

    return media.mapInPandas(run, FEATURE_SCHEMA)

