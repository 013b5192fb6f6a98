"""Structured Streaming pyramid maintenance.

The reference is batch-only: its incrementality is the resume
anti-join (SURVEY §2.A #11, implemented in sources/tiledir.py).  The
one incremental workflow its host has is mapchete's baselevels zoom
descent, and ``streaming_pyramid_ingest`` is that workflow over an
unbounded image feed:

    readStream → foreachBatch (materialize the batch's tiles → upsert
    into the base sink → cascade the overview refresh for exactly the
    changed tiles) → checkpoint.

Run with ``trigger(availableNow=True)`` it drains the available input
and stops; a restart resumes from the checkpoint (replaying only a
batch that had not committed), and the idempotent sink writes
converge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# per-batch stage timings appended by the foreachBatch body
# (driver-side): {batch_id, upsert_s, refresh_s, compact_s}.
# Cleared/consumed by scripts/streaming_bench.py; bounded in production
# use by the caller (it is plain observability, never consulted by the
# pipeline itself).
STAGE_LOG: list[dict] = []


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

    ``ov_tds``: the list of overview sinks ordered base-1, base-2, ….

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
    from ..operators.mosaic import materialize_tiles
    from ..operators.overviews import refresh_pyramid

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
            refresh_pyramid(spark, base_td, ov_tds, changed)
            t2 = _time.perf_counter()
        finally:
            tiles.unpersist()
        t3 = _time.perf_counter()
        if compact_every and batch_id and batch_id % compact_every == 0:
            for td in [base_td, *ov_tds]:
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
