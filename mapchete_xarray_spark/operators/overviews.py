"""Zoom-pyramid overview building (mapchete baselevels analog).

mapchete core processes a zoom range by "baselevels": the base zoom is
computed from inputs and every coarser zoom is derived from the level
below it (mapchete/_processing.py — the reference plugin itself is
single-zoom, `_output.py:343-349`, but its host always builds the
pyramid this way; GDAL's BuildOverviews is the raster twin).

Spark shape (one shuffle per level, the canonical overview build):

- each (zoom, row, col, band, ts_idx) tile-band row maps to its
  parent (row//2, col//2) carrying its quadrant (row%2, col%2) —
  pure Catalyst arithmetic, no UDF;
- groupBy the parent key → ``applyInPandas`` over ≤4 child rows:
  decode the raw plane, 2× decimate (``average`` of each 2x2 block
  or ``nearest`` top-left), paste into the parent quadrant; absent
  children stay fill_value (empty tiles are absent by contract,
  reference ``_output.py:362-364``).

At 10^12 tiles each level is ~1/4 the rows of the level below, so the
whole pyramid costs ~4/3 of one extra pass over the base level; the
parent key is the shuffle key with the same skew properties as the
base tile key (hot city blobs shrink by 4x per level).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .mosaic import TILE_BANDS_SCHEMA


def overview_level(
    tiles: DataFrame,
    method: str = "average",
    fill_value: int = 0,
) -> DataFrame:
    """One pyramid level up: tile-band rows at zoom z → rows at z-1.

    Input/output schema is ``TILE_BANDS_SCHEMA`` (what
    ``materialize_tiles`` emits and ``TileDirectory.write`` accepts),
    so levels chain and every level is sink-compatible.  Tile planes
    must be square with an even edge (the 256/512 grid sizes always
    are); ``n_sources`` aggregates as the sum over present children.
    """
    if method not in ("average", "nearest"):
        raise ValueError(f"unknown overview method {method!r}")

    child = tiles.select(
        (F.col("tile_zoom") - F.lit(1)).alias("tile_zoom"),
        F.expr("tile_row div 2").cast("long").alias("p_row"),
        F.expr("tile_col div 2").cast("long").alias("p_col"),
        (F.col("tile_row") % 2).cast("int").alias("qr"),
        (F.col("tile_col") % 2).cast("int").alias("qc"),
        "band",
        "ts_idx",
        "height",
        "width",
        "dtype",
        "payload",
        "n_sources",
    )

    fv = int(fill_value)
    meth = method

    # r9 (guide §2.3, shuffle fewer bytes): each child's 2× decimation
    # depends only on that child, so it runs MAP-SIDE before the parent
    # exchange — the shuffle then carries quarter planes (payload/4)
    # instead of full child planes.  The assemble stage only pastes.
    import pandas as pd

    from typing import Iterator

    def decimate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "tile_zoom", "p_row", "p_col", "qr", "qc", "band", "ts_idx",
            "height", "width", "dtype", "payload", "n_sources",
        ]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                h, w = int(r.height), int(r.width)
                if h != w or h % 2:
                    raise ValueError(
                        f"overview needs square even-edge tiles, got {h}x{w}"
                    )
                dt = np.dtype(r.dtype)
                arr = np.frombuffer(r.payload, dtype=dt).reshape(h, w)
                half = h // 2
                if meth == "nearest":
                    ds = arr[::2, ::2]
                else:
                    # mean in float64, round-half-up back to the plane
                    # dtype (GDAL 'average' overview semantics for
                    # integer bands)
                    m = (
                        arr.reshape(half, 2, half, 2)
                        .astype(np.float64)
                        .mean(axis=(1, 3))
                    )
                    ds = (
                        np.floor(m + 0.5).astype(dt)
                        if np.issubdtype(dt, np.integer)
                        else m.astype(dt)
                    )
                rows.append(
                    (
                        int(r.tile_zoom), int(r.p_row), int(r.p_col),
                        int(r.qr), int(r.qc), int(r.band), int(r.ts_idx),
                        h, w, str(dt),
                        np.ascontiguousarray(ds).tobytes(), int(r.n_sources),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    from pyspark.sql import types as T

    quarter_schema = T.StructType(
        [
            T.StructField("tile_zoom", T.IntegerType(), False),
            T.StructField("p_row", T.LongType(), False),
            T.StructField("p_col", T.LongType(), False),
            T.StructField("qr", T.IntegerType(), False),
            T.StructField("qc", T.IntegerType(), False),
            T.StructField("band", T.IntegerType(), False),
            T.StructField("ts_idx", T.IntegerType(), False),
            # height/width are the PARENT canvas dims (the child's
            # original edge); the quarter payload is (height/2)²
            T.StructField("height", T.IntegerType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("dtype", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), False),
            T.StructField("n_sources", T.IntegerType(), False),
        ]
    )
    quarters = child.mapInPandas(decimate, quarter_schema)

    def assemble(key, pdf):
        zoom_v, row_v, col_v, band_v, ts_v = (int(k) for k in key)
        h = int(pdf.height.iloc[0])
        w = int(pdf.width.iloc[0])
        dt = np.dtype(pdf.dtype.iloc[0])
        canvas = np.full((h, w), fv, dtype=dt)
        n_src = 0
        half = h // 2
        for r in pdf.itertuples():
            ds = np.frombuffer(r.payload, dtype=dt).reshape(half, half)
            r0, c0 = int(r.qr) * half, int(r.qc) * half
            canvas[r0 : r0 + half, c0 : c0 + half] = ds
            n_src += int(r.n_sources)
        return (
            zoom_v,
            row_v,
            col_v,
            band_v,
            ts_v,
            h,
            w,
            str(dt),
            np.ascontiguousarray(canvas).tobytes(),
            n_src,
        )

    from .groupmap import batched_group_map

    # ≤4-child groups: batched per Arrow batch (groupmap), not
    # per-group applyInPandas — same single exchange on the parent key
    return batched_group_map(
        quarters,
        ["tile_zoom", "p_row", "p_col", "band", "ts_idx"],
        assemble,
        TILE_BANDS_SCHEMA,
    )


def refresh_overviews(
    spark,
    base_td,
    ov_td,
    changed_tiles: DataFrame,
    method: str = "average",
) -> dict:
    """Incremental pyramid maintenance: after some base tiles were
    re-written, recompute ONLY the overview chunks they touch and
    commit them with the sink's ``refresh`` mode (a new attempt per
    covered chunk; the reader's chunk-level last-writer-wins flips
    each chunk atomically, untouched chunks keep their attempts).

    ``changed_tiles``: (tile_row, tile_col) at the BASE zoom — e.g.
    the keys of a reprocessing job's output.  The refresh unit is the
    overview CHUNK (refresh writes must cover complete chunks), so
    every parent in a touched chunk is rebuilt from its children, read
    as a chunk-pruned base scan: at 10^12 tiles a k-tile change reads
    O(k) chunk neighborhoods, not the pyramid.  The chunk layout and
    the pull cap live in ``TileDirectory``'s refresh kernel; only the
    ``div 2`` parent geometry is this operator's.  Returns the sink
    write stats."""
    from ..sources.tiledir import TileDirError

    if int(ov_td.cfg.zoom) != int(base_td.cfg.zoom) - 1:
        raise TileDirError(
            f"refresh_overviews maintains one level: base zoom "
            f"{base_td.cfg.zoom}, overview zoom {ov_td.cfg.zoom}"
        )
    # write() checks only zoom and ts_idx: a sink on another grid or
    # tile layout would commit the parents in the wrong place
    for attr in ("grid_name", "tile_size", "metatiling"):
        b, o = getattr(base_td.cfg, attr), getattr(ov_td.cfg, attr)
        if b != o:
            raise TileDirError(
                f"refresh_overviews needs matching {attr}: base {b}, overview {o}"
            )
    ov_chunks = ov_td.touched_chunks(
        changed_tiles,
        "refresh_overviews",
        "run overview_level over the whole base and write with mode='overwrite' instead",
        rows="tile_row div 2",
        cols="tile_col div 2",
    )
    if not ov_chunks:
        return {"attempt_id": None, "chunks": 0, "tiles": 0}
    # an overview tile range's children: rows/cols [2·lo, 2·hi + 1]
    children = []
    for key in ov_chunks:
        r_lo, r_hi, c_lo, c_hi = ov_td.chunk_range(key)
        children.append((2 * r_lo, 2 * r_hi + 1, 2 * c_lo, 2 * c_hi + 1))
    kids = base_td.read_covering(spark, children)
    # fill belongs to the level being WRITTEN: absent-child quadrants
    # must carry the overview sink's nodata, not the base's
    lvl = overview_level(kids, method=method, fill_value=ov_td.cfg.fill_value)
    return ov_td.refresh_chunks(lvl, ov_chunks)


def refresh_pyramid(
    spark,
    base_td,
    ov_tds,
    changed_tiles: DataFrame,
    method: str = "average",
) -> list[dict]:
    """CASCADING incremental pyramid maintenance (mapchete's
    baselevels workflow, host-side `_processing` zoom descent — the
    plugin context is ``_output.py:343-349``): a base change must
    propagate z-1 → z-2 → … through the whole overview chain, not
    just the first level.

    ``ov_tds``: the overview sinks ordered top-down from the base
    (zoom base-1, base-2, …; each level's ``refresh_overviews`` call
    re-validates the one-step zoom relation, so a mis-ordered chain
    raises instead of writing garbage).  ``changed_tiles``:
    (tile_row, tile_col) at the BASE zoom.

    Each level's changed-tile set is the PARENTS of the previous
    level's (``div 2`` on both axes — shrinking ~4× per level), so a
    k-tile base change touches O(k) chunk neighborhoods at every
    level and the whole cascade costs ~4/3 of one level-1 refresh.
    Level i reads level i-1's SINK, which the previous loop iteration
    has already committed — the sequential order is the correctness
    contract, not an implementation detail.  Returns one write-stats
    dict per level."""
    stats = []
    prev_td = base_td
    changed = changed_tiles.select("tile_row", "tile_col")
    for ov_td in ov_tds:
        stats.append(
            refresh_overviews(spark, prev_td, ov_td, changed, method=method)
        )
        changed = (
            changed.selectExpr(
                "tile_row div 2 as tile_row", "tile_col div 2 as tile_col"
            ).distinct()
        )
        prev_td = ov_td
    return stats

