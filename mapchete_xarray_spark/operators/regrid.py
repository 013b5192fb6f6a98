"""Cross-grid re-tiling: re-project a tile pyramid between the
geodetic (EPSG:4326) and WebMercator (EPSG:3857) grids.

mapchete's host converts between output pyramids of different grids
(``mapchete convert`` re-tiles a geodetic TileDirectory into mercator
and vice versa); the reference driver itself is grid-agnostic storage
(`zarr.py` process_pyramid from config, tests run both grids), so a
complete replacement needs the grid converter.  This is the missing
raster direction of the north-star "raster↔vector tile
materialization": raster-in → raster-out across CRSs.

Spark shape — ONE shuffle, mirror of ``materialize_tiles``:

1. **Cover assignment** (pure Catalyst): every source tile-band row
   computes its bounds in the destination CRS (closed-form: both
   transforms are axis-separable and monotone, so corner transforms
   bound the tile exactly) and explodes to the destination tiles that
   bbox intersects via the same floor/sequence range arithmetic as
   ``candidate_tiles``.  The SQL strings come from
   ``cover_ranges_sql`` and are shared verbatim with the DuckDB
   oracle (the portable.py discipline — parity by construction).
2. **Shuffle once** on (dst tile, band, ts_idx) →
   ``applyInPandas``: inverse-project the destination tile's pixel
   CENTERS (separable: 256 x's + 256 y's, never 256²), floor them
   into global source pixel indices, and gather from each covering
   source plane with two 1-D masks.  Source tiles are disjoint, so
   every destination pixel is written by at most one source —
   paste-order independent, deterministic under any partitioning.

Pixels whose centers fall outside the source coverage (beyond the
±85.051° mercator domain, or over absent/empty source tiles) keep
``fill_value``; destination tiles no source pixel reaches are ABSENT
(the empty-tiles-are-absent contract, reference ``_output.py:362-364``).

Scale (10^12 tiles): cover fan-out is bounded by the resolution ratio
(a source tile meets O((span_s/span_d + 2)²) destination tiles); the
one shuffle keys on the destination tile exactly like the mosaic
write path, same skew profile, and the per-group working set is ≤
(fan-in) 256² planes.  No driver participation at any size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import grid
from ..functions import portable
from .mosaic import TILE_BANDS_SCHEMA

_H = grid.MERCATOR_HALF_WORLD


def _lon_sql(x: str, from_grid: str) -> str:
    return x if from_grid == "geodetic" else f"(({x}) * 180.0 / {_H!r})"


def _lat_sql(y: str, from_grid: str) -> str:
    if from_grid == "geodetic":
        return y
    # inverse WebMercator: lat = degrees(2*(atan(exp(y·π/H)) − π/4))
    return f"(degrees(2.0 * (atan(exp(({y}) * pi() / {_H!r})) - pi() / 4.0)))"


def cover_ranges_sql(
    src_grid: str,
    src_zoom: int,
    dst_grid: str,
    dst_zoom: int,
) -> dict[str, str]:
    """SQL strings (identical in Spark SQL and DuckDB — the shared
    dialect surface of functions/portable.py plus exp/atan/degrees)
    for the destination-tile range covered by source tile
    (``tile_row``, ``tile_col``):

    returns {"valid", "r_lo", "r_hi", "c_lo", "c_hi"} — ``valid``
    must gate the explode (a geodetic tile fully poleward of the
    mercator domain covers nothing).  Boundary convention matches
    ``candidate_tiles``: a bbox edge exactly on a destination tile
    boundary includes the zero-overlap neighbor, which the paste
    stage then paints zero pixels into (absent by the empty rule) —
    the cover COUNT oracle uses the same closed convention on both
    engines, so parity is by construction."""
    sl, st, sspan, _, _ = portable.grid_params(src_grid, src_zoom)
    # source tile bounds in source CRS.  cast row/col to double FIRST:
    # with bigint tile ids, `col * 22.5` is DECIMAL×DECIMAL in both
    # engines — whose scale rules DIFFER (DuckDB even overflows
    # DECIMAL(18) against the mercator constant), flipping exact
    # tile-boundary floors between engines.  One double operand makes
    # the whole chain double (the same discipline as queries._LON).
    cd, rd = "cast((tile_col) as double)", "cast((tile_row) as double)"
    x_l, x_r = f"({sl!r} + {cd} * {sspan!r})", f"({sl!r} + ({cd} + 1.0) * {sspan!r})"
    y_t, y_b = f"({st!r} - {rd} * {sspan!r})", f"({st!r} - ({rd} + 1.0) * {sspan!r})"
    # → lon/lat (identity for geodetic source)
    lon_l, lon_r = _lon_sql(x_l, src_grid), _lon_sql(x_r, src_grid)
    lat_t, lat_b = _lat_sql(y_t, src_grid), _lat_sql(y_b, src_grid)
    # → destination CRS (both transforms monotone ⇒ corners bound)
    if dst_grid == "mercator":
        dx_l, dx_r = portable.mercator_x_sql(lon_l), portable.mercator_x_sql(lon_r)
        dy_t, dy_b = portable.mercator_y_sql(lat_t), portable.mercator_y_sql(lat_b)
        # a source tile fully outside ±85.051° clamps to a zero-height
        # bbox — covers nothing
        valid = f"({dy_t}) > ({dy_b})"
    elif dst_grid == "geodetic":
        dx_l, dx_r, dy_t, dy_b = lon_l, lon_r, lat_t, lat_b
        valid = "true"
    else:
        raise ValueError(f"unknown grid: {dst_grid}")
    return {
        "valid": valid,
        "r_lo": portable.tile_row_sql(dy_t, dst_grid, dst_zoom),
        "r_hi": portable.tile_row_sql(dy_b, dst_grid, dst_zoom),
        "c_lo": portable.tile_col_sql(dx_l, dst_grid, dst_zoom),
        "c_hi": portable.tile_col_sql(dx_r, dst_grid, dst_zoom),
    }


def regrid_tiles(
    tiles: DataFrame,
    src_grid: str,
    src_zoom: int,
    dst_grid: str,
    dst_zoom: int,
    fill_value: int = 0,
    method: str = "nearest",
    tile_size: int = 256,
) -> DataFrame:
    """Tile-band rows (TILE_BANDS_SCHEMA, one grid/zoom) → tile-band
    rows on the other grid at ``dst_zoom``, nearest-neighbor sampled
    at destination pixel centers.  Output is sink-compatible (one sink
    per grid — TileDirectory configs are single-grid by design).
    ``tile_size`` applies to BOTH grids (the sink default is 256;
    tests use small tiles to keep brute-force references cheap)."""
    if method != "nearest":
        raise ValueError(
            f"unknown regrid method {method!r} (nearest-neighbor only: "
            f"area-weighted resampling across CRSs needs a pixel-area "
            f"model this engine does not carry)"
        )
    if src_grid == dst_grid:
        raise ValueError("regrid_tiles is for CROSS-grid conversion; "
                         "use overview_level / sink reads for same-grid zooms")
    src_pyr = grid.pyramid(src_grid, tile_size=tile_size)
    dst_pyr = grid.pyramid(dst_grid, tile_size=tile_size)

    rng = cover_ranges_sql(src_grid, src_zoom, dst_grid, dst_zoom)
    # cover RANGES only — the dst-tile explode happens INSIDE the crop
    # emitter below, so full source planes are never duplicated per
    # destination (r9, guide §2.3/§3.3: the old plan exploded payload
    # rows before the exchange, shuffling cover-multiplicity × the
    # whole source level; now the exchange carries only the cropped
    # sub-rectangles each destination tile actually gathers from)
    cand = (
        tiles.where(F.expr(rng["valid"]))
        .withColumn("cov_r_lo", F.expr(rng["r_lo"]))
        .withColumn("cov_r_hi", F.expr(rng["r_hi"]))
        .withColumn("cov_c_lo", F.expr(rng["c_lo"]))
        .withColumn("cov_c_hi", F.expr(rng["c_hi"]))
    )

    tpx_s = src_pyr.tile_size
    tpx_d = dst_pyr.tile_size
    sl, st = src_pyr.bounds.left, src_pyr.bounds.top
    dl, dt = dst_pyr.bounds.left, dst_pyr.bounds.top
    ps_s = src_pyr.pixel_size(src_zoom)
    ps_d = dst_pyr.pixel_size(dst_zoom)
    span_d = dst_pyr.tile_span(dst_zoom)
    fv = int(fill_value)
    sz, dz = int(src_zoom), int(dst_zoom)
    s_grid, d_grid = src_grid, dst_grid

    # per-task memo for the dst-tile pixel-center mapping: the emitter
    # visits each (dst_row, dst_col) once PER SOURCE TILE AND BAND and
    # the paste once per band — without the memo the sf1 bench spent
    # 3-10× the mapping's cost recomputing identical transforms
    # (measured 5.7 → 19.9 s on regrid_base_to_mercator before this
    # cache).  The dict lives in the task's deserialized closure; the
    # cap bounds worker memory at deep dst zooms.
    _map_memo: dict = {}

    def _dst_pixel_src_indices(drow: int, dcol: int):
        """Global source pixel indices of destination tile (drow,
        dcol)'s pixel centers — the SAME mapping for the crop emitter
        and the paste, so the crop is exactly the pixels the paste
        gathers."""
        hit = _map_memo.get((drow, dcol))
        if hit is not None:
            return hit
        xs = dl + dcol * span_d + (np.arange(tpx_d) + 0.5) * ps_d
        ys = dt - drow * span_d - (np.arange(tpx_d) + 0.5) * ps_d
        if d_grid == "mercator":
            lon, lat = grid.mercator_to_lonlat(xs, ys)
        else:
            lon, lat = xs, ys
        # → source CRS (NO domain clamp: a pole-side geodetic pixel
        # must fall OUTSIDE every mercator source tile and stay fill,
        # not snap onto the edge row)
        if s_grid == "mercator":
            sx_c, sy_c = grid.lonlat_to_mercator(lon, lat)
        else:
            sx_c, sy_c = lon, lat
        gcol = np.floor((sx_c - sl) / ps_s).astype(np.int64)
        grow = np.floor((st - sy_c) / ps_s).astype(np.int64)
        if len(_map_memo) > 8192:
            _map_memo.clear()
        _map_memo[(drow, dcol)] = (grow, gcol)
        return grow, gcol

    from pyspark.sql import types as T
    from typing import Iterator

    _CROP_SCHEMA = T.StructType(
        [
            T.StructField("dst_zoom", T.IntegerType(), False),
            T.StructField("dst_row", T.LongType(), False),
            T.StructField("dst_col", T.LongType(), False),
            T.StructField("band", T.IntegerType(), False),
            T.StructField("ts_idx", T.IntegerType(), False),
            # global source-pixel offset of the crop's top-left corner
            T.StructField("abs_r0", T.LongType(), False),
            T.StructField("abs_c0", T.LongType(), False),
            T.StructField("sub_h", T.IntegerType(), False),
            T.StructField("sub_w", T.IntegerType(), False),
            T.StructField("dtype", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), False),
            T.StructField("n_sources", T.IntegerType(), False),
        ]
    )

    def emit_crops(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in _CROP_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                h, w = int(r.height), int(r.width)
                if h != tpx_s or w != tpx_s:
                    raise ValueError(
                        f"regrid needs plain {tpx_s}x{tpx_s} source tiles "
                        f"(metatiling=1, pixelbuffer=0), got {h}x{w}"
                    )
                dt_np = np.dtype(r.dtype)
                plane = None
                r0 = int(r.tile_row) * tpx_s
                c0 = int(r.tile_col) * tpx_s
                for drow in range(int(r.cov_r_lo), int(r.cov_r_hi) + 1):
                    for dcol in range(int(r.cov_c_lo), int(r.cov_c_hi) + 1):
                        grow, gcol = _dst_pixel_src_indices(drow, dcol)
                        rmask = (grow >= r0) & (grow < r0 + tpx_s)
                        cmask = (gcol >= c0) & (gcol < c0 + tpx_s)
                        if not rmask.any() or not cmask.any():
                            continue
                        if plane is None:
                            plane = np.frombuffer(r.payload, dtype=dt_np).reshape(h, w)
                        # masked grows are monotone → the needed pixels
                        # are the contiguous [min..max] sub-rectangle
                        ra, rb = int(grow[rmask].min()), int(grow[rmask].max())
                        ca, cb = int(gcol[cmask].min()), int(gcol[cmask].max())
                        sub = plane[ra - r0 : rb - r0 + 1, ca - c0 : cb - c0 + 1]
                        rows.append(
                            (
                                dz, drow, dcol, int(r.band), int(r.ts_idx),
                                ra, ca, sub.shape[0], sub.shape[1],
                                str(dt_np),
                                np.ascontiguousarray(sub).tobytes(),
                                int(r.n_sources),
                            )
                        )
            yield pd.DataFrame(rows, columns=cols)

    crops = cand.mapInPandas(emit_crops, _CROP_SCHEMA)

    def paste(key, pdf):
        _, drow, dcol, band_v, ts_v = (int(k) for k in key)
        dt_np = np.dtype(pdf.dtype.iloc[0])
        grow, gcol = _dst_pixel_src_indices(drow, dcol)
        canvas = np.full((tpx_d, tpx_d), fv, dtype=dt_np)
        n_src = 0
        for r in pdf.itertuples():
            ra, ca = int(r.abs_r0), int(r.abs_c0)
            sh, sw = int(r.sub_h), int(r.sub_w)
            # same selection as the emitter: the crop bounds span
            # exactly the masked pixel range inside one source tile
            rmask = (grow >= ra) & (grow < ra + sh)
            cmask = (gcol >= ca) & (gcol < ca + sw)
            sub = np.frombuffer(r.payload, dtype=dt_np).reshape(sh, sw)
            canvas[np.ix_(rmask, cmask)] = sub[
                np.ix_(grow[rmask] - ra, gcol[cmask] - ca)
            ]
            n_src += int(r.n_sources)
        return (
            dz,
            drow,
            dcol,
            band_v,
            ts_v,
            tpx_d,
            tpx_d,
            str(dt_np),
            np.ascontiguousarray(canvas).tobytes(),
            n_src,
        )

    from .groupmap import batched_group_map

    # ≤4-source cover groups: batched per Arrow batch (groupmap), not
    # per-group applyInPandas — same single exchange on the dst key,
    # now carrying cropped sub-planes instead of duplicated full planes
    return batched_group_map(
        crops,
        ["dst_zoom", "dst_row", "dst_col", "band", "ts_idx"],
        paste,
        TILE_BANDS_SCHEMA,
    )


def cover_counts_sql(
    engine: str,
    src_grid: str = "geodetic",
    src_zoom: int = 5,
    dst_grid: str = "mercator",
    dst_zoom: int = 6,
) -> str:
    """Engine-parameterized SQL for the cover JOIN SHAPE of the regrid
    (per destination tile: how many source tiles feed it), over the
    deterministic synthetic point tiles — the hash-checked oracle for
    the cover-assignment stage (the pixel stage has golden/brute-force
    pytest coverage; pixels are not ANSI SQL).  The range expressions
    are cover_ranges_sql verbatim; only the sequence-explode syntax is
    dialect (Spark explode(sequence()) vs DuckDB unnest(generate_series()))."""
    from ..functions.portable import lonlat_tile_sql, synth_lat_sql, synth_lon_sql

    lon = f"cast({synth_lon_sql('key')} as double)"
    lat = f"cast({synth_lat_sql('key')} as double)"
    r, c = lonlat_tile_sql("lon", "lat", src_grid, src_zoom)
    rng = cover_ranges_sql(src_grid, src_zoom, dst_grid, dst_zoom)

    def seq(lo: str, hi: str) -> str:
        if engine == "spark":
            return f"explode(sequence({lo}, {hi}))"
        if engine == "duckdb":
            return f"unnest(generate_series({lo}, {hi}))"
        raise ValueError(f"unknown engine: {engine}")

    return (
        "with pts as (select cast(o_orderkey as bigint) as key, "
        f"{lon} as lon, {lat} as lat from orders), "
        f"src as (select distinct {r} as tile_row, {c} as tile_col from pts), "
        f"ranges as (select tile_row, tile_col, {rng['r_lo']} as r_lo, "
        f"{rng['r_hi']} as r_hi, {rng['c_lo']} as c_lo, {rng['c_hi']} as c_hi "
        f"from src where {rng['valid']}), "
        f"rowx as (select tile_row, tile_col, c_lo, c_hi, "
        f"{seq('r_lo', 'r_hi')} as dst_row from ranges), "
        f"cover as (select tile_row, tile_col, dst_row, "
        f"{seq('c_lo', 'c_hi')} as dst_col from rowx) "
        "select dst_row, dst_col, cast(count(*) as bigint) as n_src_tiles "
        "from cover group by dst_row, dst_col"
    )
