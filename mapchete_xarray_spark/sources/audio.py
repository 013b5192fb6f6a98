"""Deterministic synthetic audio table — raw little-endian PCM16
clips with typed metadata, the audio twin of ``sources.images``:

    (audio_id string, pcm binary, sample_rate int, n_samples int)

Each clip is a seeded two-tone sine mixture + noise; everything
derives from the integer index alone, so executors synthesize their
own partitions (``spark.range`` → ``mapInPandas``, zero driver data,
zero shuffle) and a serial oracle twin can re-derive any clip
bit-exactly (``clip_pcm``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import sizing

AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("audio_id", T.StringType(), False),
        T.StructField("pcm", T.BinaryType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
    ]
)

_RATES = (8000, 16000)


def clip_params(i: int) -> tuple[int, int]:
    """(sample_rate, n_samples) for clip i — pure index arithmetic."""
    sr = _RATES[i % 2]
    dur_ms = 500 + (i * 137) % 1500  # 0.5–2.0 s
    return sr, sr * dur_ms // 1000


def clip_pcm(i: int) -> bytes:
    """Seeded PCM16 synthesis for clip i: two sines (index-derived
    frequencies) + gaussian noise, clipped to int16."""
    sr, n = clip_params(i)
    rng = np.random.default_rng(900_000 + i)
    t = np.arange(n, dtype=np.float64) / sr
    f1 = 110.0 + (i * 61) % 1900
    f2 = 300.0 + (i * 97) % 3100
    x = (
        0.5 * np.sin(2 * np.pi * f1 * t)
        + 0.3 * np.sin(2 * np.pi * f2 * t)
        + 0.05 * rng.standard_normal(n)
    )
    return (
        np.clip(np.rint(x * 20000.0), -32768, 32767)
        .astype("<i2")
        .tobytes()
    )


def _gen_batch(idx: np.ndarray) -> pd.DataFrame:
    rows = []
    for i in idx.tolist():
        sr, n = clip_params(i)
        rows.append((f"aud{i:08d}", clip_pcm(i), sr, n))
    return pd.DataFrame(
        rows, columns=[f.name for f in AUDIO_SCHEMA.fields]
    )


def audio_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic audio table of n clips."""
    parts = partitions or sizing.source_partitions(spark, n, 500)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _gen_batch(b["id"].to_numpy())

    return spark.range(0, n, numPartitions=parts).mapInPandas(
        gen, AUDIO_SCHEMA
    )
