"""Deterministic synthetic image+caption table (the engine's primary
input, shape fixed by BASELINE.json input_hint):

    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash long)

plus derived geometry (lon/lat/ts) per FIXTURES.md §1.  Generation is
``spark.range(N)`` → ``mapInPandas`` — each executor synthesizes its
own partition from the row index alone (seeded per image), so the
generator scales to any N with zero driver-side data and zero
shuffle.  The same per-index rules are mirrored in portable SQL
(``functions/portable.synth_lon_sql``) so DuckDB oracles can re-derive
lon/lat exactly.

Design note (100 TB): at 10^12 rows this stage is the table itself —
on a real cluster it would be written once to Iceberg partitioned by
(tile_zoom, bucket(tile_id)); ``write_images_table`` mirrors that
layout in parquet (no Iceberg jar in sandbox).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import codecs, sizing
from ..functions import portable

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)

_W_CYCLE = (32, 64, 128, 256)
_H_CYCLE = (32, 64, 96, 256)
_WORDS = (
    "tile scan pyramid zoom raster vector mosaic band pixel chunk "
    "cloud field river city forest coast desert island valley ridge"
).split()

_TS_STEPS = ("2022-06-01", "2022-06-04", "2022-06-06", "2022-06-09", "2022-06-11")


def synth_pixels(i: int, h: int, w: int) -> np.ndarray:
    """Seeded per-image gradient+noise pattern, (h, w, 3) uint8."""
    rng = np.random.default_rng(i)
    yy, xx = np.mgrid[0:h, 0:w]
    grad = ((xx * 255 // max(w - 1, 1) + yy * 255 // max(h - 1, 1)) // 2).astype(
        np.uint8
    )
    noise = rng.integers(0, 64, size=(h, w, 3), dtype=np.uint8)
    return (grad[..., None] // 2 + noise * 2).astype(np.uint8)


def image_dims(i: np.ndarray):
    w = np.array(_W_CYCLE, dtype=np.int32)[i % 4]
    h = np.array(_H_CYCLE, dtype=np.int32)[(i // 4) % 4]
    return w, h


def image_fmt(i: np.ndarray) -> np.ndarray:
    return np.where(i % 10 == 0, "q8", "raw")


def _phash(arr: np.ndarray) -> int:
    """64-bit perceptual-ish hash: sign pattern of 8x8 downsampled
    luminance vs its mean (stable across lossless codecs)."""
    lum = arr.astype(np.float64).mean(axis=2)
    h, w = lum.shape
    blocks = lum[: h - h % 8, : w - w % 8].reshape(8, (h - h % 8) // 8, 8, -1).mean(
        axis=(1, 3)
    )
    bits = (blocks > blocks.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= 1 << 63 else val


def _gen_batch(idx: np.ndarray) -> pd.DataFrame:
    ws, hs = image_dims(idx)
    fmts = image_fmt(idx)
    rows = []
    for i, w, h, fmt in zip(idx.tolist(), ws.tolist(), hs.tolist(), fmts.tolist()):
        arr = synth_pixels(i, h, w)
        payload = codecs.encode_image(arr, fmt)
        rng = np.random.default_rng(i + 10_000_019)
        words = " ".join(rng.choice(_WORDS, size=4))
        rows.append(
            (
                f"img{i:012d}",
                payload,
                w,
                h,
                fmt,
                f"synthetic scene {i} {words}",
                _phash(codecs.decode_image(payload, w, h, fmt)),
            )
        )
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    )


def images_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic images table of n rows."""
    parts = partitions or sizing.source_partitions(spark, n, 2000)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _gen_batch(b["id"].to_numpy())

    return spark.range(0, n, numPartitions=parts).mapInPandas(gen, IMAGES_SCHEMA)


def with_geometry(df: DataFrame, zoom: int = 8) -> DataFrame:
    """Attach deterministic lon/lat/ts derived from the numeric part of
    image_id — same formulas as the DuckDB oracle (portable.py), pure
    Catalyst expressions."""
    key = "cast(substring(image_id, 4, 12) as bigint)"
    ps = 180.0 / 2**zoom / 256
    return (
        df.withColumn("lon", F.expr(portable.synth_lon_sql(key)))
        .withColumn("lat", F.expr(portable.synth_lat_sql(key)))
        .withColumn(
            "ts",
            F.expr(
                f"to_timestamp(element_at(array{_TS_STEPS}, "
                f"cast(({key}) % 5 + 1 as int)))"
            ),
        )
        .withColumn(
            "minx", F.expr(f"cast(greatest(lon - w * {ps!r} / 2, -180.0) as double)")
        )
        .withColumn(
            "maxx", F.expr(f"cast(least(lon + w * {ps!r} / 2, 180.0) as double)")
        )
        .withColumn(
            "miny", F.expr(f"cast(greatest(lat - h * {ps!r} / 2, -90.0) as double)")
        )
        .withColumn(
            "maxy", F.expr(f"cast(least(lat + h * {ps!r} / 2, 90.0) as double)")
        )
    )


def write_images_table(
    spark: SparkSession, path: str, n: int, zoom: int = 8, tile_buckets: int = 64
) -> None:
    """Materialize the table Iceberg-style: partitioned by a bucket of
    the tile id (hot cells spread across buckets), sorted by tile_id
    within files so tile-range scans prune row groups."""
    from ..functions import tiling

    df = with_geometry(images_df(spark, n), zoom)
    df = tiling.with_tile_columns(df, "lon", "lat", "geodetic", zoom)
    (
        df.withColumn("tile_bucket", F.pmod(F.hash("tile_id"), F.lit(tile_buckets)))
        .repartition("tile_bucket")
        .sortWithinPartitions("tile_id")
        .write.mode("overwrite")
        .partitionBy("tile_bucket")
        .parquet(path)
    )
