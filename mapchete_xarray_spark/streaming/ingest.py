"""Structured Streaming tile ingest.

The reference is batch-only (its incrementality = resume anti-join,
SURVEY §2.A #11, implemented in sources/tiledir.py).  This module
covers the streaming-ingest shape a live image feed would need:

    readStream → tile assignment (same Catalyst expressions as batch
    — code reuse is the point) → watermarked windowed counts per tile
    → sink (foreachBatch → TileDirectory manifest-style appends, or
    memory/console for tests).

The tile expressions are identical Columns to the batch path, so
correctness is inherited from the batch oracles; streaming tests
check plumbing (watermark, window, availableNow termination).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import portable
from ..functions.tiling import with_tile_columns

# per-batch stage timings appended by the tile-maintenance foreachBatch
# body (driver-side): {batch_id, upsert_s, refresh_s, compact_s}.
# Cleared/consumed by scripts/streaming_bench.py; bounded in production
# use by the caller (it is plain observability, never consulted by the
# pipeline itself).
STAGE_LOG: list[dict] = []


def rate_points(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Unbounded deterministic point stream: the rate source's value
    column feeds the same synth formulas as the batch fixtures."""
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return (
        src.withColumnRenamed("value", "key")
        .withColumn("lon", F.expr(portable.synth_lon_sql("key")))
        .withColumn("lat", F.expr(portable.synth_lat_sql("key")))
    )


def streaming_tile_counts(
    points: DataFrame,
    zoom: int = 6,
    grid: str = "geodetic",
    window: str = "10 seconds",
    watermark: str = "30 seconds",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Watermarked per-(window, tile) counts — late rows beyond the
    watermark are dropped by the engine, state is bounded."""
    t = with_tile_columns(points, "lon", "lat", grid, zoom)
    return (
        t.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col("tile_id"))
        .agg(F.count("*").alias("n_images"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "tile_id",
            "n_images",
        )
    )


def file_ingest_points(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source variant (parquet drop-folder → stream), the shape a
    real feed (S3 notifications / Iceberg incremental scan) plugs into."""
    return spark.readStream.schema(schema).parquet(path)


def streaming_first_seen(
    docs: DataFrame,
    fp_col: str = "fp",
    id_col: str = "doc_id",
) -> DataFrame:
    """Custom STATEFUL streaming operator: exactly-once first-seen
    dedup over an unbounded document stream via
    ``applyInPandasWithState`` (the brief's custom-stateful-operator
    surface).

    Groups by content fingerprint; per-key state is (emitted flag,
    duplicate count).  The FIRST row of a fingerprint is emitted,
    every later arrival — same micro-batch or any future one — only
    bumps the state counter.  State survives restarts through the
    checkpoint, so resuming the query never re-emits a fingerprint
    (tested: two availableNow runs over one checkpoint).

    At scale: state is partitioned by the same hash shuffle as a batch
    groupBy — 10^12 fingerprints shard across executors; per-key state
    is 16 bytes.  Emits (fp, doc_id, n_dups_so_far at emit = 0)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("fp", T.StringType(), False),
            T.StructField("doc_id", T.StringType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("emitted", T.BooleanType()),
            T.StructField("n_dups", T.LongType()),
        ]
    )

    def first_seen(key, pdfs, state):
        emitted, n_dups = state.get if state.exists else (False, 0)
        out = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            if not emitted:
                out.append(pdf.iloc[:1][[fp_col, id_col]])
                emitted = True
                n_dups += len(pdf) - 1
            else:
                n_dups += len(pdf)
        state.update((emitted, n_dups))
        for o in out:
            yield o.rename(columns={fp_col: "fp", id_col: "doc_id"})

    return (
        docs.select(F.col(fp_col), F.col(id_col))
        .groupBy(fp_col)
        .applyInPandasWithState(
            first_seen, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def run_to_memory(stream_df: DataFrame, query_name: str, timeout_sec: float = 60.0):
    """Drain all currently-available input (availableNow) into an
    in-memory table and stop — the deterministic test harness."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete" if stream_df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    return q


def streaming_pyramid_ingest(
    images: DataFrame,
    base_td,
    ov_tds,
    pyr,
    zoom: int,
    checkpoint_dir: str,
    merge: bool = False,
    compact_every: int = 0,
):
    """Streaming pyramid maintenance: per micro-batch, materialize the
    batch's tiles, UPSERT them into the base sink (tile-replacement
    semantics — the batch's rendering of a tile supersedes the
    previous one; pass ``merge=True`` for merge-paste semantics, where
    the batch's non-nodata pixels composite OVER the committed tile
    content instead of erasing it), then CASCADE an incremental
    refresh through the whole overview chain for exactly the changed
    tiles (operators/overviews.refresh_pyramid — each level's changed
    set shrinks ~4×, so the full cascade is O(changed chunks), not the
    pyramid; mapchete's baselevels workflow keeps every coarser zoom
    consistent the same way).

    ``ov_tds``: the overview sinks ordered base-1, base-2, … (a single
    sink is accepted for the one-level case).

    Exactly-once shape: foreachBatch + checkpoint gives at-least-once
    batch delivery, and the writes are idempotent under replay (the
    same rows re-commit as a newer attempt; readers see one attempt
    per chunk) — with ``merge=True`` replay composites a batch's
    pixels over content that already includes them, which is a no-op
    for the paste rule (new non-nodata pixels win) — so the sinks
    converge to the same pixel state (the ``n_sources`` provenance
    metric may double-count a replayed merge batch).  Returns the
    configured
    ``DataStreamWriter`` — caller picks the trigger and calls
    ``start()``.

    ``compact_every=k`` (0 = off) runs ``compact_manifest`` on the
    base and every overview sink each k batches: every micro-batch
    appends one manifest file per touched sink, so a long-running
    ingest otherwise pays an O(#batches) listing + manifest scan
    inside every upsert/refresh.  At 10-batch scale that cost is
    noise (BENCH/STREAMING.md — compaction's own ~1-2 s per
    compacting batch is the larger term there); the win is at
    hundreds of batches: BENCH/MANIFEST_COMPACTION.md measures a
    300-file manifest consulting ~2x slower than the compacted single
    file on local FS, with object storage paying per-file LIST/GET
    on top.  Compaction is duplicate-tolerant/
    crash-safe (see TileDirectory.compact_manifest) and replay-safe:
    re-running a compacted batch just compacts a 1-file manifest into
    itself (a no-op under min_files)."""
    from ..operators.overviews import refresh_pyramid

    chain = list(ov_tds) if isinstance(ov_tds, (list, tuple)) else [ov_tds]
    return _streaming_tile_maintenance(
        images,
        base_td,
        lambda spark, changed, _b: refresh_pyramid(
            spark, base_td, chain, changed
        ),
        pyr,
        zoom,
        checkpoint_dir,
        merge,
        compact_every=compact_every,
        maintain_sinks=[base_td, *chain],
    )


def _streaming_tile_maintenance(
    images, base_td, refresh_fn, pyr, zoom, checkpoint_dir, merge,
    compact_every: int = 0, maintain_sinks=None,
):
    """Shared foreachBatch body of the streaming maintenance family:
    materialize the batch → upsert into the base sink → hand the
    changed tile keys to ``refresh_fn(spark, changed, batch_id)``
    (pyramid cascade, cross-grid regrid, stencil, or materialized
    aggregate — the batch_id lets replay-sensitive publishers key
    their output idempotently).  One copy so a fix here (e.g. the
    persist/unpersist pairing) applies to every variant.

    ``compact_every``/``maintain_sinks``: periodic manifest compaction
    (commit-log checkpointing) so per-batch latency stays O(1) in the
    number of past batches instead of O(#manifest files)."""
    from ..operators.mosaic import materialize_tiles

    def handle(batch_df, batch_id):
        import time as _time

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        t0 = _time.perf_counter()
        tiles = materialize_tiles(batch_df, pyr, zoom).persist()
        try:
            base_td.upsert(tiles, merge=merge)
            t1 = _time.perf_counter()
            changed = tiles.select("tile_row", "tile_col").distinct()
            refresh_fn(spark, changed, batch_id)
            t2 = _time.perf_counter()
        finally:
            tiles.unpersist()
        t3 = _time.perf_counter()
        if compact_every and batch_id and batch_id % compact_every == 0:
            for td in maintain_sinks or [base_td]:
                td.compact_manifest(spark)
        # per-stage attribution (VERDICT r7 next #3) — handle() runs on
        # the driver, so a module list is safe; the streaming bench
        # reads it to tell an O(changed tiles) plateau from a hidden
        # O(total sink) growth term
        STAGE_LOG.append(
            {
                "batch_id": int(batch_id),
                "upsert_s": round(t1 - t0, 3),
                "refresh_s": round(t2 - t1, 3),
                "compact_s": round(_time.perf_counter() - t3, 3),
            }
        )

    return images.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )


def streaming_regrid_ingest(
    images: DataFrame,
    base_td,
    dst_td,
    pyr,
    zoom: int,
    checkpoint_dir: str,
    merge: bool = False,
):
    """Streaming CROSS-GRID maintenance: per micro-batch, materialize
    the batch's tiles on the source grid, upsert them into the base
    sink (``merge=True`` for merge-paste, as in
    ``streaming_pyramid_ingest``), then incrementally re-derive the
    destination-grid twin for exactly the changed tiles
    (operators/regrid.refresh_regrid — touched destination chunks
    only, chunk-pruned source reads).  Keeps e.g. a WebMercator
    serving archive continuously consistent with a geodetic ingest
    archive.

    Same exactly-once shape as the pyramid ingest: at-least-once batch
    delivery + idempotent refresh attempts converge readers to one
    attempt per chunk.  Returns the configured ``DataStreamWriter``."""
    from ..operators.regrid import refresh_regrid

    return _streaming_tile_maintenance(
        images,
        base_td,
        lambda spark, changed, _b: refresh_regrid(
            spark, base_td, dst_td, changed
        ),
        pyr,
        zoom,
        checkpoint_dir,
        merge,
    )


def streaming_focal_ingest(
    images: DataFrame,
    base_td,
    dst_td,
    pyr,
    zoom: int,
    checkpoint_dir: str,
    merge: bool = False,
    **focal_kw,
):
    """Streaming STENCIL maintenance: per micro-batch, materialize and
    upsert the batch's tiles into the base sink, then incrementally
    recompute the focal derivative (hillshade, smoothing, …) for the
    chunks the change can reach (operators/focal.refresh_focal — the
    changed set dilates by one tile before the chunk cover, because a
    tile's change perturbs its neighbors' outputs through their
    halos).  ``focal_kw`` is forwarded to ``refresh_focal`` and must
    match the parameters the destination was built with.

    Same exactly-once shape as the other maintenance variants:
    at-least-once batch delivery + idempotent refresh attempts
    converge readers to one attempt per chunk.  Returns the configured
    ``DataStreamWriter``."""
    from ..operators.focal import refresh_focal

    return _streaming_tile_maintenance(
        images,
        base_td,
        lambda spark, changed, _b: refresh_focal(
            spark, base_td, dst_td, changed, **focal_kw
        ),
        pyr,
        zoom,
        checkpoint_dir,
        merge,
    )


def streaming_xyz_ingest(
    images: DataFrame,
    base_td,
    cache_path: str,
    pyr,
    zoom: int,
    checkpoint_dir: str,
    merge: bool = False,
    fmt: str = "q8",
    band_order=None,
    ts_idx: int = 0,
):
    """Streaming SERVING-CACHE maintenance: per micro-batch,
    materialize and upsert the batch's tiles into the base sink, then
    re-render exactly the changed tiles into the static XYZ cache
    (operators/export.refresh_xyz) — a continuously-fresh web-map tile
    cache at O(changed tiles) object puts per batch.  The cache's
    ``metadata.json`` is written at wiring time, so every refresh
    binds to one declared fmt/band_order contract.

    Exactly-once shape: at-least-once batch delivery + per-object puts
    whose content is a pure function of the post-upsert base row —
    replays overwrite byte-identically.  Returns the configured
    ``DataStreamWriter``."""
    from ..operators.export import refresh_xyz, write_xyz_metadata

    nbands = len(base_td.cfg.resolved_band_names)
    bo = (
        [int(b) for b in band_order]
        if band_order is not None
        else ([0, 1, 2] if nbands >= 3 else [0, 0, 0])
    )
    write_xyz_metadata(
        base_td, cache_path, fmt=fmt, band_order=bo, ts_idx=ts_idx
    )

    return _streaming_tile_maintenance(
        images,
        base_td,
        lambda spark, changed, _b: refresh_xyz(
            spark, base_td, cache_path, changed
        ),
        pyr,
        zoom,
        checkpoint_dir,
        merge,
    )


def streaming_zonal_ingest(
    images: DataFrame,
    base_td,
    zones,
    store,
    pyr,
    zoom: int,
    checkpoint_dir: str,
    merge: bool = False,
    nodata: float | None = None,
    kind: str = "moments",
):
    """Streaming MATERIALIZED-AGGREGATE maintenance: per micro-batch,
    materialize and upsert the batch's tiles into the base sink, then
    splice-refresh the persisted zonal moment partials for exactly the
    changed chunks (operators/zonal.refresh_zonal) and publish the new
    generation to ``store`` (a ``zonal.ZonalStore``).  Keeps per-AOI
    statistics over a continuously-ingesting archive fresh at
    O(changed chunks) per batch — the streaming analog of an
    incrementally-maintained aggregate view.  ``kind='hist'``
    maintains the exact value-count partials instead (construct the
    store with ``schema=zonal._HIST_PARTIAL_SCHEMA`` and finalize
    with ``zonal_hist_finalize`` / ``zonal_percentiles``).

    Exactly-once shape: at-least-once batch delivery + idempotent
    refresh — the splice REPLACES the changed chunks' partial rows
    (recomputed from the post-upsert base), so replaying a batch
    recomputes identical rows, and the store publish keys its
    generation by ``batch_id`` (same-generation re-publish overwrites
    in place).  Readers call ``store.read(spark)`` +
    ``zonal.zonal_finalize`` (or keep a finalized copy) and always see
    one complete generation.  Returns the configured
    ``DataStreamWriter``."""
    from ..operators.zonal import refresh_zonal

    def _refresh(spark, changed, batch_id):
        cur = store.current_generation()
        if cur is not None and cur >= int(batch_id):
            # replay of a batch whose publish already landed (crash
            # between the pointer swap and the checkpoint commit):
            # the partials already include this batch's splice, and
            # re-splicing would lazily read the very generation the
            # publish overwrites — skip, the store is converged.
            return
        new_partials, _stats = refresh_zonal(
            spark, base_td, zones, store.read(spark), changed,
            nodata=nodata, kind=kind,
        )
        store.publish(new_partials, int(batch_id))

    return _streaming_tile_maintenance(
        images,
        base_td,
        _refresh,
        pyr,
        zoom,
        checkpoint_dir,
        merge,
    )
