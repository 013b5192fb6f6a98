"""Zonal statistics: polygon zones × raster tile planes → per-zone
pixel statistics.

The canonical raster↔vector analysis op (rasterstats' ``zonal_stats``
/ GDAL's polygon raster sampling — the downstream every tile archive
feeds).  The reference plugin stores per-tile arrays and leaves
analysis to its host; here the whole reduction is a first-class
distributed operator, because at 10^12 tiles the interesting question
is what crosses the wire:

1. **Map-only partials** (``mapInPandas``): the zone table (small by
   contract — the AOI/broadcast side of every spatial join here, see
   ``operators/pip.py``) is broadcast once; per tile a ``BoxGrid``
   envelope query finds the zones whose bbox intersects the tile,
   the pixel-center lattice is **window-clipped** to the zone
   envelope (``grid.pixel_center_coords`` — the reference's own
   coord rule, ``_output.py:616-626``), membership is one vectorized
   PNPOLY ray-cast per (tile, zone) — done once for all the tile's
   bands and time slices, which share the geometry — and each hit emits ONE
   partial row: (count, sum, sumsq, min, max), ~80 bytes.
2. **One tiny shuffle**: ``groupBy(aoi_id, band, ts_idx)`` over
   partial rows whose total volume is #zone-tile-intersections — at
   10^12 tiles with a 200-zone table this is millions of 80-byte
   rows, not terabytes of pixels; mean/std derive in Catalyst from
   the merged moments (population std via E[x²]−E[x]², clamped ≥0).

Pixel payloads never shuffle; the reduction is exact (integer-dtype
planes sum losslessly in float64 up to 2^53 pixels·255, so results
are bit-deterministic under any partitioning; float planes inherit
float-sum rounding in the final ~#tiles-term merge only).

Zones absent from the output had no pixel centers inside them (or
only nodata): join semantics, not zero rows — the caller left-joins
the zone table if it wants explicit empties.

Every partial row carries its tile key: a partial depends only on its
own tile, so partials are a per-tile materialized aggregate that
merges in any grouping.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import grid
from ..geom import points_in_polygon

_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("tile_row", T.LongType(), False),
        T.StructField("tile_col", T.LongType(), False),
        T.StructField("aoi_id", T.StringType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("ts_idx", T.IntegerType(), False),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("s", T.DoubleType(), False),
        T.StructField("ss", T.DoubleType(), False),
        T.StructField("mn", T.DoubleType(), False),
        T.StructField("mx", T.DoubleType(), False),
    ]
)


def _zone_values_scan(
    tiles: DataFrame,
    zones: pd.DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    nodata,
    schema,
    rows_fn,
) -> DataFrame:
    """Shared MAP-ONLY scan behind every zonal partial emitter: per
    (tile-band-ts plane, zone) hit, ``rows_fn(tile_row, tile_col,
    aoi_id, band, ts_idx, vals)`` turns the member pixel values (mask
    + nodata already applied, ORIGINAL dtype preserved) into partial
    rows of ``schema``.  No shuffle at all; the output partitioning
    inherits the input's.  Geometry work (``pip._AoiSet.tile_windows``:
    grid envelope query, window-clipped PNPOLY) runs once per batch
    over its unique tiles and serves each tile's bands and time
    slices, which share it."""
    import uuid

    from .pip import _aoi_set

    spark = tiles.sparkSession
    bc = spark.sparkContext.broadcast(zones)
    token = uuid.uuid4().hex
    zoom_v = int(zoom)
    tile_px = pyr.tile_size * pyr.metatiling
    nd = None if nodata is None else float(nodata)
    # plain values, not the Pyramid object, so the closure does not
    # serialize module state
    g_name, g_mt, g_tsz = pyr.grid, pyr.metatiling, pyr.tile_size

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p = grid.Pyramid(g_name, metatiling=g_mt, tile_size=g_tsz)
        s = _aoi_set(bc, token)
        for pdf in batches:
            bad = pdf.tile_zoom.to_numpy()
            if (bad != zoom_v).any():
                raise ValueError(
                    f"zonal_stats(zoom={zoom_v}) got a tile at zoom "
                    f"{bad[bad != zoom_v][0]} — single-zoom input by contract"
                )
            # one kernel call for the batch's unique tiles; a tile's
            # windows serve all its bands and time slices
            keys = pdf[["tile_row", "tile_col"]].drop_duplicates()
            tr, tc = keys.tile_row.to_numpy(), keys.tile_col.to_numpy()
            windows = dict(
                zip(zip(tr.tolist(), tc.tolist()), s.tile_windows(p, zoom_v, tr, tc))
            )
            rows = []
            for r in pdf.itertuples():
                tkey = (int(r.tile_row), int(r.tile_col))
                wins = windows[tkey]
                if not wins:
                    continue
                h, w = int(r.height), int(r.width)
                if h != tile_px or w != tile_px:
                    raise ValueError(
                        f"tile plane {h}x{w} != pyramid tile_px {tile_px}"
                    )
                arr = np.frombuffer(r.payload, dtype=np.dtype(r.dtype)).reshape(h, w)
                for z, i0, i1, j0, j1, m in wins:
                    vals = arr[i0:i1, j0:j1][m]
                    if nd is not None:
                        vals = vals[vals != nd]
                    if not len(vals):
                        continue
                    rows.extend(
                        rows_fn(
                            tkey[0],
                            tkey[1],
                            s.aoi_ids[z],
                            int(r.band),
                            int(r.ts_idx),
                            vals,
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in schema.fields]
            )

    return tiles.mapInPandas(emit, schema)


def zonal_partials(
    tiles: DataFrame,
    zones: pd.DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    *,
    nodata: float | None = None,
) -> DataFrame:
    """MAP-ONLY per-plane moment partials: one row per (tile, zone,
    band, ts_idx) hit with (cnt, s, ss, mn, mx) — no shuffle at all;
    the output partitioning inherits the input's.  This is the first
    stage of ``zonal_stats``; each row depends only on its own tile.

    ``zones``: pandas (aoi_id, wkb, minx, miny, maxx, maxy) — the
    ``sources.aoi`` shape; broadcast (small by contract, the same
    sizing stance as ``pip_join``).  ``nodata`` pixels are excluded
    from every statistic.
    """

    def moment_rows(tr, tc, aoi_id, band, ts_idx, vals):
        v = vals.astype(np.float64)
        return [
            (
                tr,
                tc,
                aoi_id,
                band,
                ts_idx,
                int(len(v)),
                float(v.sum()),
                float((v * v).sum()),
                float(v.min()),
                float(v.max()),
            )
        ]

    return _zone_values_scan(
        tiles, zones, pyr, zoom, nodata, _PARTIAL_SCHEMA, moment_rows
    )


def zonal_finalize(
    partials: DataFrame, keys=("aoi_id", "band", "ts_idx")
) -> DataFrame:
    """Merge moment partials (the ``_PARTIAL_SCHEMA`` moment columns)
    into the final per-zone stats — the ONE tiny shuffle.  Moments are
    associative, so finalize is indifferent to how partials were
    produced (a ``zonal_partials`` pass, or ``raster_zonal_stats``'s
    label-keyed partials — pass ``keys=("label", "band", "ts_idx")``
    for those)."""
    keys = list(keys)
    n = F.col("n_pixels").cast("double")
    return (
        partials.groupBy(*keys)
        .agg(
            F.sum("cnt").alias("n_pixels"),
            F.sum("s").alias("px_sum"),
            F.sum("ss").alias("_ss"),
            F.min("mn").alias("px_min"),
            F.max("mx").alias("px_max"),
        )
        .withColumn("px_mean", F.round(F.col("px_sum") / n, 6))
        .withColumn(
            "px_std",
            F.round(
                F.sqrt(
                    F.greatest(
                        F.col("_ss") / n - F.pow(F.col("px_sum") / n, 2),
                        F.lit(0.0),
                    )
                ),
                6,
            ),
        )
        .select(
            *keys,
            "n_pixels",
            "px_sum",
            "px_mean",
            "px_min",
            "px_max",
            "px_std",
        )
    )


def zonal_stats(
    tiles: DataFrame,
    zones: pd.DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    *,
    nodata: float | None = None,
) -> DataFrame:
    """Per-zone pixel statistics over TILE_BANDS_SCHEMA planes:
    ``zonal_finalize(zonal_partials(...))`` — map-only moment partials
    (~80-byte rows, one per zone-tile intersection) merged by ONE tiny
    shuffle.  Output: one row per (aoi_id, band, ts_idx) with
    ``n_pixels / px_sum / px_mean / px_min / px_max / px_std``
    (population std, rounded to 6 like every double surface here).
    Pixel payloads never cross an Exchange; integer-dtype planes sum
    exactly in float64 → bit-deterministic under any partitioning."""
    return zonal_finalize(
        zonal_partials(tiles, zones, pyr, zoom, nodata=nodata)
    )


_HIST_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("tile_row", T.LongType(), False),
        T.StructField("tile_col", T.LongType(), False),
        T.StructField("aoi_id", T.StringType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("ts_idx", T.IntegerType(), False),
        T.StructField("val", T.LongType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)


def zonal_hist_partials(
    tiles: DataFrame,
    zones: pd.DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    *,
    nodata: float | None = None,
) -> DataFrame:
    """MAP-ONLY per-plane VALUE-COUNT partials: one row per (tile,
    zone, band, ts_idx, pixel value) with its count — the exact
    per-zone histogram's summable unit, bounded by the dtype's value
    range per zone-tile intersection (≤256 rows for uint8), never by
    pixel count.  Value counts are associative like moments, so EXACT
    percentiles derive downstream without any pixel ever crossing a
    wire.

    Integer-dtype planes only: an exact value histogram over float
    pixels is one row per distinct float (the partial volume loses its
    bound), so float planes raise — quantize to an integer band
    first."""

    def hist_rows(tr, tc, aoi_id, band, ts_idx, vals):
        if vals.dtype.kind not in "iub":
            raise ValueError(
                f"zonal_hist: exact value histogram needs an integer "
                f"dtype, got {vals.dtype} — quantize the plane to an "
                f"integer band first"
            )
        uv, cnts = np.unique(vals, return_counts=True)
        return [
            (tr, tc, aoi_id, band, ts_idx, int(v), int(c))
            for v, c in zip(uv.tolist(), cnts.tolist())
        ]

    return _zone_values_scan(
        tiles, zones, pyr, zoom, nodata, _HIST_PARTIAL_SCHEMA, hist_rows
    )


def zonal_hist_finalize(partials: DataFrame) -> DataFrame:
    """Merge value-count partials into the final per-zone exact
    histogram — the ONE tiny shuffle (rows ≤ #zones × value range)."""
    return (
        partials.groupBy("aoi_id", "band", "ts_idx", "val")
        .agg(F.sum("cnt").alias("cnt"))
    )


def zonal_percentiles(hist: DataFrame, ps=(0.25, 0.5, 0.95)) -> DataFrame:
    """EXACT nearest-rank (type-1) percentiles from a finalized
    per-zone histogram: cumulative count over values within each
    (aoi_id, band, ts_idx), pick the smallest value whose cumulative
    count reaches ``ceil(p·n)``.  numpy equivalent on the sorted
    member pixels: ``sorted_vals[ceil(p*n) - 1]``.

    The window + groupBy run over histogram rows (≤ value-range per
    zone), so exact archive-scale medians cost two shuffles of
    KILOBYTES — the pixel reduction already happened in the map-only
    partials."""
    from pyspark.sql import Window

    keys = ["aoi_id", "band", "ts_idx"]
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy(*keys)
    h = hist.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    aggs = [F.max("n").alias("n_pixels")]
    for p in ps:
        if not 0.0 < float(p) <= 1.0:
            raise ValueError(f"percentile must be in (0, 1]: {p}")
        name = f"p{round(float(p) * 100):d}"
        aggs.append(
            F.min(
                F.when(
                    F.col("cum")
                    >= F.ceil(F.lit(float(p)) * F.col("n")).cast("long"),
                    F.col("val"),
                )
            ).alias(name)
        )
    return h.groupBy(*keys).agg(*aggs)


def zonal_histogram(
    tiles: DataFrame,
    zones: pd.DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    *,
    nodata: float | None = None,
) -> DataFrame:
    """Per-zone EXACT pixel-value histogram:
    ``zonal_hist_finalize(zonal_hist_partials(...))``."""
    return zonal_hist_finalize(
        zonal_hist_partials(tiles, zones, pyr, zoom, nodata=nodata)
    )


_RASTER_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("label", T.LongType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("ts_idx", T.IntegerType(), False),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("s", T.DoubleType(), False),
        T.StructField("ss", T.DoubleType(), False),
        T.StructField("mn", T.DoubleType(), False),
        T.StructField("mx", T.DoubleType(), False),
    ]
)


def raster_zonal_stats(
    values: DataFrame,
    labels: DataFrame,
    *,
    nodata: float | None = None,
    label_fill: float = 0,
    label_band: int = 0,
    label_ts_idx: int = 0,
) -> DataFrame:
    """Zonal statistics with RASTER-defined zones (GDAL's other zonal
    mode — the polygon mode is ``zonal_stats``): per distinct label
    value of a label plane (a ``rasterize_zones`` burn, a
    classification layer, …), aggregate the co-located value plane's
    pixels — one row per (label, band, ts_idx) with the same stat
    surface as ``zonal_stats``.

    Shape: the two rasters equi-join on the tile key (both sides
    chunk-partitioned sinks → a mostly node-local exchange), a
    vectorized per-pair bincount computes label-wise moments (no
    PNPOLY — zone membership IS the label plane), and the shared
    ``zonal_finalize`` merges the ~#labels·#tiles partial rows in one
    tiny shuffle.  ``label_fill`` pixels belong to no zone;
    ``nodata`` excludes value pixels everywhere.  Value tiles with no
    label tile (and vice versa) contribute nothing — inner-join
    semantics, same absence contract as everywhere else."""
    nd = None if nodata is None else float(nodata)
    lf = float(label_fill)
    # pin the label side to ONE time step (ADVICE r5: a label archive
    # with a time axis would otherwise join every label step to every
    # value plane, multiplying the moments), and carry tile_zoom into
    # the join key so multi-zoom inputs pair per level
    lab = (
        labels.where(
            (F.col("band") == int(label_band))
            & (F.col("ts_idx") == int(label_ts_idx))
        )
        .select(
            F.col("tile_zoom").alias("l_zoom"),
            F.col("tile_row").alias("l_row"),
            F.col("tile_col").alias("l_col"),
            F.col("dtype").alias("l_dtype"),
            F.col("payload").alias("l_payload"),
        )
    )
    joined = values.join(
        lab,
        (F.col("tile_zoom") == F.col("l_zoom"))
        & (F.col("tile_row") == F.col("l_row"))
        & (F.col("tile_col") == F.col("l_col")),
    ).select(
        "band", "ts_idx", "height", "width", "dtype", "payload",
        "l_dtype", "l_payload",
    )

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in _RASTER_PARTIAL_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                h, w = int(r.height), int(r.width)
                v = np.frombuffer(
                    r.payload, dtype=np.dtype(r.dtype)
                ).reshape(h, w).ravel().astype(np.float64)
                if np.dtype(r.l_dtype).kind not in "iub":
                    raise ValueError(
                        f"raster_zonal_stats: label plane must be an "
                        f"integer dtype, got {r.l_dtype}"
                    )
                lp = np.frombuffer(
                    r.l_payload, dtype=np.dtype(r.l_dtype)
                )
                if lp.size != v.size:
                    raise ValueError(
                        f"label plane has {lp.size} px, value plane "
                        f"{v.size} — mismatched grids"
                    )
                lv = lp.astype(np.float64)
                keep = lv != lf
                if nd is not None:
                    keep &= v != nd
                if not keep.any():
                    continue
                lv, v = lv[keep], v[keep]
                uniq, inv = np.unique(lv, return_inverse=True)
                cnt = np.bincount(inv)
                s = np.bincount(inv, weights=v)
                ss = np.bincount(inv, weights=v * v)
                mn = np.full(len(uniq), np.inf)
                mx = np.full(len(uniq), -np.inf)
                np.minimum.at(mn, inv, v)
                np.maximum.at(mx, inv, v)
                b, t = int(r.band), int(r.ts_idx)
                rows.extend(
                    (int(u), b, t, int(c), float(sv), float(qv),
                     float(m0), float(m1))
                    for u, c, sv, qv, m0, m1 in zip(
                        uniq.tolist(), cnt.tolist(), s.tolist(),
                        ss.tolist(), mn.tolist(), mx.tolist()
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    partials = joined.mapInPandas(emit, _RASTER_PARTIAL_SCHEMA)
    return zonal_finalize(partials, keys=("label", "band", "ts_idx"))


def zonal_stats_bruteforce(
    planes: pd.DataFrame,
    zones: pd.DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    nodata: float | None = None,
) -> dict:
    """Reference implementation for tests: every pixel of every plane
    against every zone ring, full-tile PNPOLY, no index, no windows.
    Returns {(aoi_id, band, ts_idx): (n, sum, min, max)}."""
    from ..geom import wkb_rings

    acc: dict[tuple, list] = {}
    for _, zrow in zones.iterrows():
        ring = wkb_rings(zrow["wkb"])
        for r in planes.itertuples():
            h, w = int(r.height), int(r.width)
            b = grid.tile_bounds(pyr, zoom, int(r.tile_row), int(r.tile_col))
            xs, ys = grid.pixel_center_coords(b, (h, w), pyr, zoom)
            gx = np.broadcast_to(xs, (h, w)).ravel()
            gy = np.broadcast_to(ys[:, None], (h, w)).ravel()
            m = points_in_polygon(gx, gy, ring)
            arr = np.frombuffer(r.payload, dtype=np.dtype(r.dtype)).reshape(
                h, w
            )
            vals = arr.ravel()[m]
            if nodata is not None:
                vals = vals[vals != nodata]
            if not len(vals):
                continue
            k = (zrow["aoi_id"], int(r.band), int(r.ts_idx))
            v = vals.astype(np.float64)
            cur = acc.setdefault(k, [0, 0.0, np.inf, -np.inf])
            cur[0] += len(v)
            cur[1] += float(v.sum())
            cur[2] = min(cur[2], float(v.min()))
            cur[3] = max(cur[3], float(v.max()))
    return {k: tuple(v) for k, v in acc.items()}
