"""Vector→raster rasterization: burn polygon zones into tile planes.

The inverse of ``operators/zonal.py`` and the other leg of the
raster↔vector pipeline: GDAL's RasterizeLayer / rasterio's
``features.rasterize`` re-expressed as a distributed tile job over
the same pyramid grid the sinks use (reference coord rule
``_output.py:616-626`` — a pixel belongs to a zone iff its CENTER is
inside the polygon, the exact membership ``zonal_stats`` uses, so
rasterize→zonal round-trips are consistent by construction).

Distributed shape — what crosses the wire is tile KEYS, never pixels:

1. **Tile enumeration, JVM-side**: each zone's bbox becomes a
   (row, col) range (8 bytes/zone driver-side — the zone table is
   small by contract, the broadcast side of every spatial op here);
   the ranges explode to covered tile keys with ``sequence()`` inside
   Catalyst, dedup, and hash-respread — two shuffles of 16-byte KEY
   rows (the explicit respread exists because AQE sizes partitions by
   shuffle BYTES and would coalesce the tiny key set onto one task,
   serializing the burn behind it on one core).  A continent-sized
   zone fans out to its millions of tiles on executors, not on the
   driver.
2. **Map-only burn**: per enumerated tile, a ``BoxGrid`` envelope
   query finds candidate zones (``pip._AoiSet.tile_windows``, the
   kernel zonal shares), each burns its window-clipped PNPOLY mask
   onto the tile canvas in zone-table ORDER (later zone wins on
   overlap — GDAL's paint-order rule), and the tile emits one
   TILE_BANDS_SCHEMA plane.  Tiles where no pixel center is inside
   any candidate (bbox-corner overshoot) emit nothing: absent tiles
   read back as fill, the sink's own nodata contract.

Output planes are sink-ready (``TileDirectory.write``) and feed every
raster operator (zonal, focal, composite, overviews, regrid), so a
vector layer becomes a first-class raster input with one call.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import grid
from ..geom import points_in_polygon, wkb_rings
from .mosaic import TILE_BANDS_SCHEMA


def zone_tile_ranges(
    zones: pd.DataFrame, pyr: grid.Pyramid, zoom: int
) -> pd.DataFrame:
    """Per-zone covered (meta)tile range at ``zoom``: (row0, row1,
    col0, col1), inclusive, from the zone bbox via ``tile_from_xy``
    (half-open edge semantics, grid-edge clip — the engine's one tile
    assignment rule)."""
    r0, c0 = grid.tile_from_xy(
        pyr, zones.minx.to_numpy(), zones.maxy.to_numpy(), zoom
    )
    r1, c1 = grid.tile_from_xy(
        pyr, zones.maxx.to_numpy(), zones.miny.to_numpy(), zoom
    )
    return pd.DataFrame(
        {"row0": r0, "row1": r1, "col0": c0, "col1": c1}
    )


def _burn_values(zones: pd.DataFrame, burn, dtype: str) -> np.ndarray:
    """Per-zone burn values, validated to fit ``dtype`` exactly."""
    if burn == "index":
        vals = np.arange(1, len(zones) + 1, dtype=np.float64)
    elif isinstance(burn, str):
        if burn not in zones.columns:
            raise ValueError(
                f"rasterize burn column {burn!r} not in zones "
                f"(columns: {list(zones.columns)})"
            )
        vals = zones[burn].to_numpy(dtype=np.float64)
    else:
        raise ValueError(f"burn must be 'index' or a column name: {burn!r}")
    dt = np.dtype(dtype)
    cast = vals.astype(dt).astype(np.float64)
    if not np.array_equal(cast, vals):
        bad = vals[cast != vals][0]
        raise ValueError(
            f"burn value {bad} does not fit dtype {dtype} exactly "
            f"(pick a wider dtype or rescale the burn column)"
        )
    return vals.astype(dt)


def rasterize_zones(
    spark,
    zones: pd.DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    *,
    burn="index",
    fill: float = 0,
    dtype: str = "uint16",
    band: int = 0,
    ts_idx: int = 0,
) -> DataFrame:
    """Burn ``zones`` (the ``sources.aoi`` shape: aoi_id, wkb, bbox)
    into TILE_BANDS_SCHEMA planes at ``zoom``.

    ``burn='index'`` writes each zone's 1-based position in the zone
    table (0 stays fill — a label plane); any numeric column name
    burns that column's value.  Overlaps resolve by paint order:
    later zones in the table win.  Returns only tiles where at least
    one pixel burned; absent tiles mean all-fill (the sink nodata
    contract)."""
    import math
    import uuid

    from .pip import _aoi_set

    vals = _burn_values(zones, burn, dtype)
    fill_v = np.dtype(dtype).type(fill)
    zoom_v = int(zoom)
    tile_px = pyr.tile_size * pyr.metatiling
    g_name, g_mt, g_tsz = pyr.grid, pyr.metatiling, pyr.tile_size

    rg = zone_tile_ranges(zones, pyr, zoom_v)
    # explicit schema: an empty zone table has no rows to infer from
    ranges = spark.createDataFrame(rg, "row0 long, row1 long, col0 long, col1 long")
    # The key shuffle is bytes while the burn behind it is the real
    # work, so AQE's size-based coalescing would collapse the distinct
    # output to ONE task and serialize the whole burn on one core.
    # Re-spread by an explicit hash repartition (user repartitions are
    # exempt from AQE coalescing), sized from the driver-side range
    # estimate: ≥16 tiles per task, capped at 2× parallelism.
    est = int(((rg.row1 - rg.row0 + 1) * (rg.col1 - rg.col0 + 1)).sum())
    nparts = max(
        1,
        min(spark.sparkContext.defaultParallelism * 2, math.ceil(est / 16)),
    )
    keys = (
        ranges.select(
            F.explode(F.expr("sequence(row0, row1)")).alias("tile_row"),
            "col0",
            "col1",
        )
        .select(
            "tile_row",
            F.explode(F.expr("sequence(col0, col1)")).alias("tile_col"),
        )
        .distinct()
        # round-robin, NOT repartition(n, keys): a hash repartition on
        # the distinct keys collapses into the distinct's own
        # ENSURE_REQUIREMENTS exchange, which AQE then coalesces to
        # one task; round-robin is a different partitioning with an
        # explicit numPartitions, so it survives both optimizers and
        # balances perfectly
        .repartition(nparts)
    )

    bc = spark.sparkContext.broadcast(zones)
    bvals = spark.sparkContext.broadcast(vals)
    token = uuid.uuid4().hex

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = grid.Pyramid(g_name, metatiling=g_mt, tile_size=g_tsz)
        s = _aoi_set(bc, token)
        burnv = bvals.value
        cols = [f.name for f in TILE_BANDS_SCHEMA.fields]
        for pdf in batches:
            tr, tc = pdf.tile_row.to_numpy(), pdf.tile_col.to_numpy()
            rows = []
            for r, c, wins in zip(
                tr.tolist(), tc.tolist(), s.tile_windows(p, zoom_v, tr, tc)
            ):
                if not wins:
                    continue
                canvas = np.full((tile_px, tile_px), fill_v, dtype=np.dtype(dtype))
                # paint order = zone-table order: later zones win
                for z, i0, i1, j0, j1, m in wins:
                    canvas[i0:i1, j0:j1][m] = burnv[z]
                rows.append(
                    (
                        zoom_v,
                        r,
                        c,
                        int(band),
                        int(ts_idx),
                        tile_px,
                        tile_px,
                        str(np.dtype(dtype)),
                        canvas.tobytes(),
                        len(wins),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return keys.mapInPandas(emit, TILE_BANDS_SCHEMA)


def rasterize_bruteforce(
    zones: pd.DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    tiles,
    *,
    burn="index",
    fill: float = 0,
    dtype: str = "uint16",
) -> dict:
    """Reference implementation for tests: every pixel center of the
    given tiles against every zone ring in paint order, no index, no
    windows.  Returns {(row, col): ndarray} for tiles with ≥1 burned
    pixel."""
    vals = _burn_values(zones, burn, dtype)
    tile_px = pyr.tile_size * pyr.metatiling
    rings = [wkb_rings(w) for w in zones["wkb"]]
    out = {}
    for tr, tc in tiles:
        b = grid.tile_bounds(pyr, zoom, int(tr), int(tc))
        xs, ys = grid.pixel_center_coords(b, (tile_px, tile_px), pyr, zoom)
        gx = np.broadcast_to(xs, (tile_px, tile_px))
        gy = np.broadcast_to(ys[:, None], (tile_px, tile_px))
        canvas = np.full((tile_px, tile_px), fill, dtype=np.dtype(dtype))
        burned = False
        for z, ring in enumerate(rings):
            m = points_in_polygon(gx.ravel(), gy.ravel(), ring).reshape(
                tile_px, tile_px
            )
            if m.any():
                canvas[m] = vals[z]
                burned = True
        if burned:
            out[(int(tr), int(tc))] = canvas
    return out
