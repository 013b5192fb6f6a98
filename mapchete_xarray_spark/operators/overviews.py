"""Zoom-pyramid overview building (mapchete baselevels analog).

mapchete core processes a zoom range by "baselevels": the base zoom is
computed from inputs and every coarser zoom is derived from the level
below it (mapchete/_processing.py — the reference plugin itself is
single-zoom, `_output.py:343-349`, but its host always builds the
pyramid this way; GDAL's BuildOverviews is the raster twin).

Spark shape (ONE shuffle for every level of the pyramid):

- map side, each (zoom, row, col, band, ts_idx) tile-band row is
  decimated ``levels`` times in a chain (``average`` of each 2x2
  block, round-half-up back to the plane dtype at every step, or
  ``nearest`` top-left); the level-L result is a 2^-L-edge piece of
  the level-L ancestor (row >> L, col >> L), placed at block offset
  (row mod 2^L, col mod 2^L);
- one exchange on the ancestor key, then one batched assemble pastes
  the pieces into a fill_value canvas; absent children stay
  fill_value (empty tiles are absent by contract, reference
  ``_output.py:362-364``).

This equals chaining single-level builds exactly: a level-L pixel
depends only on a 2^L x 2^L block inside one base tile, and an all-fill
block decimates to fill, so the fill quadrants an intermediate level
would carry contribute nothing but fill.  ``overview_level`` is the
one-level case of the same kernel.

At 10^12 tiles the pieces of level L are 1/4^L of the base bytes, so
the whole pyramid shuffles ~1/3 of one pass over the base level; the
ancestor key has the same skew properties as the base tile key (hot
city blobs shrink by 4x per level).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .groupmap import batched_group_map
from .mosaic import TILE_BANDS_SCHEMA

# a decimated piece of a base tile, keyed by its level-L ancestor;
# height/width are the ANCESTOR canvas dims (the child's original
# edge), the piece payload is (height / 2^L)^2 and (qr, qc) its block
# offset in piece units
_PIECE_SCHEMA = T.StructType(
    [
        T.StructField("tile_zoom", T.IntegerType(), False),
        T.StructField("p_row", T.LongType(), False),
        T.StructField("p_col", T.LongType(), False),
        T.StructField("qr", T.IntegerType(), False),
        T.StructField("qc", T.IntegerType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("ts_idx", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("dtype", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("n_sources", T.IntegerType(), False),
    ]
)


def _decimate(arr: np.ndarray, method: str) -> np.ndarray:
    """One 2x step down: ``nearest`` keeps the top-left pixel;
    ``average`` means each 2x2 block in float64 and rounds half up back
    to an integer plane dtype (GDAL 'average' overview semantics)."""
    if method == "nearest":
        return arr[::2, ::2]
    if np.issubdtype(arr.dtype, np.integer) and arr.dtype.itemsize <= 4:
        # the same value in int64: a block sum s of such ints is exact
        # in float64 too, so floor(s / 4 + 0.5) == (s + 2) >> 2
        s = arr[::2, ::2].astype(np.int64) + arr[1::2, ::2] + arr[::2, 1::2] + arr[1::2, 1::2]
        return ((s + 2) >> 2).astype(arr.dtype)
    half = arr.shape[0] // 2
    m = arr.reshape(half, 2, half, 2).astype(np.float64).mean(axis=(1, 3))
    if np.issubdtype(arr.dtype, np.integer):
        return np.floor(m + 0.5).astype(arr.dtype)
    return m.astype(arr.dtype)


def overview_levels(
    tiles: DataFrame,
    levels: int,
    method: str = "average",
    fill_value: int = 0,
) -> DataFrame:
    """Every pyramid level above single-zoom tile-band rows at zoom z:
    rows at z-1 … z-``levels`` in one frame (``tile_zoom`` tells them
    apart), from one decimate pass and one exchange.

    Input/output schema is ``TILE_BANDS_SCHEMA`` (what
    ``materialize_tiles`` emits and ``TileDirectory.write`` accepts),
    so every level is sink-compatible.  Tile planes must be square with
    an edge divisible by 2^levels (the 256/512 grid sizes are);
    ``n_sources`` aggregates as the sum over present descendants."""
    if method not in ("average", "nearest"):
        raise ValueError(f"unknown overview method {method!r}")
    levels = int(levels)
    if levels < 1:
        raise ValueError(f"overview needs levels >= 1, got {levels}")
    fv = int(fill_value)
    cols = [f.name for f in _PIECE_SCHEMA.fields]

    def decimate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                h, w = int(r.height), int(r.width)
                if h != w or h % (1 << levels):
                    raise ValueError(
                        f"overview of {levels} level(s) needs square tiles "
                        f"with an edge divisible by {1 << levels}, got {h}x{w}"
                    )
                dt = np.dtype(r.dtype)
                ds = np.frombuffer(r.payload, dtype=dt).reshape(h, w)
                row, col = int(r.tile_row), int(r.tile_col)
                for lv in range(1, levels + 1):
                    ds = _decimate(ds, method)
                    rows.append(
                        (
                            int(r.tile_zoom) - lv, row >> lv, col >> lv,
                            row & ((1 << lv) - 1), col & ((1 << lv) - 1),
                            int(r.band), int(r.ts_idx), h, w, str(dt),
                            np.ascontiguousarray(ds).tobytes(), int(r.n_sources),
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    pieces = tiles.mapInPandas(decimate, _PIECE_SCHEMA)

    def assemble(key, pdf):
        zoom_v, row_v, col_v, band_v, ts_v = (int(k) for k in key)
        h = int(pdf.height.iloc[0])
        w = int(pdf.width.iloc[0])
        dt = np.dtype(pdf.dtype.iloc[0])
        canvas = np.full((h, w), fv, dtype=dt)
        n_src = 0
        for r in pdf.itertuples():
            side = math.isqrt(len(r.payload) // dt.itemsize)
            ds = np.frombuffer(r.payload, dtype=dt).reshape(side, side)
            r0, c0 = int(r.qr) * side, int(r.qc) * side
            canvas[r0 : r0 + side, c0 : c0 + side] = ds
            n_src += int(r.n_sources)
        return (
            zoom_v, row_v, col_v, band_v, ts_v, h, w, str(dt),
            np.ascontiguousarray(canvas).tobytes(), n_src,
        )

    # small groups (≤4^L pieces): batched per Arrow batch (groupmap),
    # not per-group applyInPandas — one exchange on the ancestor key
    return batched_group_map(
        pieces,
        ["tile_zoom", "p_row", "p_col", "band", "ts_idx"],
        assemble,
        TILE_BANDS_SCHEMA,
    )


def overview_level(
    tiles: DataFrame,
    method: str = "average",
    fill_value: int = 0,
) -> DataFrame:
    """One pyramid level up: tile-band rows at zoom z → rows at z-1
    (``overview_levels`` with one level; levels chain, since input and
    output are both ``TILE_BANDS_SCHEMA``)."""
    return overview_levels(tiles, 1, method=method, fill_value=fill_value)


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

