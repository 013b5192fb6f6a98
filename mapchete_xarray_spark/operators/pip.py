"""Broadcast point-in-polygon join (north_star op).

Filter-refine, Spark-idiomatically, with a fixed handful of numpy
calls per Arrow batch:

1. **Broadcast** the (small) AOI table — serialized once per executor
   via ``SparkContext.broadcast``; its indexes are built lazily on the
   first batch and cached per Python worker (module-level cache keyed
   by a driver-minted token; workers are reused across batches so the
   build cost amortizes to ~zero).
2. **Filter**: ``geom.BoxGrid`` — each point's grid cell, that cell's
   boxes expanded with ``np.repeat``, the inclusive envelope test.
3. **Refine**: ``geom.EdgeTable`` — every (candidate, edge) pair
   ray-cast in one vectorized pass, crossings summed per candidate
   with ``np.bincount``.  No per-polygon Python loop.
4. **Arrow in, Arrow out** (``mapInArrow``): coordinates are read from
   the batch's columns, and the output batch is the ``keep`` columns
   ``take``n at the hit rows plus the AOI ids ``take``n at the hit
   polygons.  No pandas.

Emits (keep columns…, aoi_id).  At 10^12 rows this is a map-only
stage — no shuffle at all; the output partitioning inherits the
input's (ideal for a following groupBy(tile_id) if the input is
already tile-partitioned).  Points with a null or NaN coordinate
match nothing.
"""

from __future__ import annotations

from functools import cached_property
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import grid
from ..geom import BoxGrid, EdgeTable, points_in_polygon, wkb_rings


class _AoiSet:
    """One broadcast AOI table's geometry on a worker; each index is
    built on first use.  The grid is the one AOI index: the PIP join
    queries it with points (then the edge table and the Arrow ids),
    zonal and rasterize with tile boxes through ``tile_windows``."""

    def __init__(self, aoi: pd.DataFrame):
        self.boxes = aoi[["minx", "miny", "maxx", "maxy"]].to_numpy(dtype=np.float64)
        self.rings = [wkb_rings(w) for w in aoi["wkb"]]
        self.aoi_ids = aoi["aoi_id"].to_numpy()

    @cached_property
    def grid(self) -> BoxGrid:
        return BoxGrid(self.boxes)

    @cached_property
    def edges(self) -> EdgeTable:
        return EdgeTable(self.rings)

    @cached_property
    def ids(self) -> pa.Array:
        return pa.array(self.aoi_ids, type=pa.string())

    def tile_windows(
        self, pyr: grid.Pyramid, zoom: int, rows: np.ndarray, cols: np.ndarray
    ) -> list[list[tuple]]:
        """The tile × zone window kernel of zonal and rasterize: per
        tile ``(rows[i], cols[i])`` at ``zoom``, its ``(zone, i0, i1,
        j0, j1, mask)`` windows in zone-table order, non-empty masks
        only.  The zones are the grid's box-overlap candidates of the
        tile bounds; each one's window is the tile's pixel-centre
        lattice (``grid.pixel_center_coords``) clipped to its
        envelope, and ``mask`` is PNPOLY membership of the window's
        pixel centres (``mask`` indexes ``plane[i0:i1, j0:j1]``)."""
        tile_px = pyr.tile_size * pyr.metatiling
        bounds = np.column_stack(list(grid.tile_bounds(pyr, zoom, rows, cols)))
        qi, zi = self.grid.query_boxes(bounds)
        first = np.searchsorted(qi, np.arange(len(bounds) + 1))
        out: list[list[tuple]] = [[] for _ in range(len(bounds))]
        for q in np.unique(qi).tolist():
            xs, ys = grid.pixel_center_coords(bounds[q], (tile_px, tile_px), pyr, zoom)
            for z in zi[first[q] : first[q + 1]].tolist():
                minx, miny, maxx, maxy = self.boxes[z]
                # xs ascending, ys descending → index windows
                j0 = int(np.searchsorted(xs, minx, "left"))
                j1 = int(np.searchsorted(xs, maxx, "right"))
                i0 = int(np.searchsorted(-ys, -maxy, "left"))
                i1 = int(np.searchsorted(-ys, -miny, "right"))
                if i0 >= i1 or j0 >= j1:
                    continue
                wx = np.broadcast_to(xs[j0:j1], (i1 - i0, j1 - j0))
                wy = np.broadcast_to(ys[i0:i1, None], (i1 - i0, j1 - j0))
                m = points_in_polygon(wx.ravel(), wy.ravel(), self.rings[z])
                if m.any():
                    out[q].append((z, i0, i1, j0, j1, m.reshape(i1 - i0, j1 - j0)))
        return out


_AOI_CACHE: dict[str, _AoiSet] = {}


def _aoi_set(bc, token: str) -> _AoiSet:
    # keyed on a driver-minted uuid token, NOT id(bc): after a broadcast
    # is garbage-collected CPython can reuse the same id for a new
    # broadcast of a different AOI table, silently serving stale geometry
    # in a long-lived reused Python worker
    if token not in _AOI_CACHE:
        _AOI_CACHE.clear()  # one AOI set live per worker
        _AOI_CACHE[token] = _AoiSet(bc.value)
    return _AOI_CACHE[token]


def pip_join(
    points: DataFrame,
    aoi: pd.DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    keep: tuple[str, ...] = ("key",),
) -> DataFrame:
    """points ⋈ AOI polygons (containment), map-only broadcast join."""
    import uuid

    spark = points.sparkSession
    bc = spark.sparkContext.broadcast(aoi)
    token = uuid.uuid4().hex
    out_fields = [points.schema[c] for c in keep] + [
        T.StructField("aoi_id", T.StringType(), False)
    ]
    names = [f.name for f in out_fields]
    # by position: keep may name lon or lat too
    ix, iy = len(keep), len(keep) + 1

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        s = _aoi_set(bc, token)
        for b in batches:
            px = b.column(ix).to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
            py = b.column(iy).to_numpy(zero_copy_only=False).astype(np.float64, copy=False)
            p, box = s.grid.query_points(px, py)
            inside = s.edges.contains(px[p], py[p], box)
            p_hit = pa.array(p[inside])
            yield pa.RecordBatch.from_arrays(
                [b.column(i).take(p_hit) for i in range(len(keep))]
                + [s.ids.take(pa.array(box[inside]))],
                names=names,
            )

    return points.select(*keep, lon, lat).mapInArrow(run, T.StructType(out_fields))


def pip_join_bruteforce(
    points_pdf: pd.DataFrame, aoi: pd.DataFrame, lon: str = "lon", lat: str = "lat"
) -> set[tuple]:
    """Reference implementation for tests: every point against every
    polygon ring, no index."""
    hits = set()
    for _, arow in aoi.iterrows():
        ring = wkb_rings(arow["wkb"])
        mask = points_in_polygon(
            points_pdf[lon].to_numpy(), points_pdf[lat].to_numpy(), ring
        )
        for k in points_pdf.loc[mask, "key"]:
            hits.add((k, arow["aoi_id"]))
    return hits
