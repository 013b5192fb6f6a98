"""The engine's one sizing policy: every "is this small enough to
broadcast / pull to the driver / how many synthetic-source partitions"
decision reads its budget here, so the caps cannot drift apart between
operators.

- ``BROADCAST_MAX_BYTES`` (256 MiB): a payload-carrying join side
  (fingerprint arrays, embedding vectors, tile planes) is broadcast
  under it — comfortably inside an executor, measured ~2.5x over the
  shuffle plan at bench scale — and SHUFFLE_HASH-hinted past it, so
  Catalyst can't re-broadcast the oversized side from a stale size
  estimate.
- ``MAX_DRIVER_ROWS`` (5M): a key table or edge list of at most this
  many rows may be broadcast or finished on the driver (16-byte keys:
  5M rows ≈ 80 MB); past it the join is left unhinted and AQE picks
  from the real sizes.

Callers hold the size (an exact count or an upper bound they already
computed); nothing here runs a Spark job.  Tests force the other
branch by monkeypatching the constants on this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BROADCAST_MAX_BYTES = 256 << 20
MAX_DRIVER_ROWS = 5_000_000


def broadcast_or_shuffle(df: DataFrame, est_bytes: int) -> DataFrame:
    """Broadcast ``df`` while ``est_bytes`` fits the broadcast budget,
    else hint a SHUFFLE_HASH join on it (same rows either way)."""
    if est_bytes <= BROADCAST_MAX_BYTES:
        return F.broadcast(df)
    return df.hint("shuffle_hash")


def estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df`` in bytes (exact for a local
    relation, the file size for a scan; no job runs).  An unknown size
    reads as the session's huge default, so callers fall to the
    shuffle branch."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def broadcast_if_small(df: DataFrame, rows: int) -> DataFrame:
    """Broadcast a key table bounded by ``rows`` while it is within the
    driver row cap; past it, leave the join unhinted."""
    return F.broadcast(df) if rows <= MAX_DRIVER_ROWS else df


def source_partitions(spark: SparkSession, n: int, rows_per_part: int) -> int:
    """Partitions for a synthetic generator of ``n`` rows.  The
    generator IS the scan, so the count follows the session's
    parallelism (two waves) and grows with ``n`` past it — a pure
    ``n // rows_per_part`` sizing gave local[32] only 4 synth tasks at
    the sf0.1 bench."""
    return max(2 * spark.sparkContext.defaultParallelism, n // rows_per_part or 4)
