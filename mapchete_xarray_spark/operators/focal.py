"""Focal (neighborhood) map algebra over tile sinks — distributed
stencil with halo exchange.

mapchete's core processing contract is "each tile is processed with a
``pixelbuffer`` overlap so neighborhood operations are seamless at
tile boundaries" (BufferedTilePyramid; the stock hillshade/contour
example processes run exactly this way).  The reference plugin
delegates that to its host — here it is a first-class distributed
operator, because at 100 TB the interesting question is what the halo
exchange SHUFFLES:

1. **Strip emission** (``mapInPandas``, map-side): every tile-band
   plane emits itself plus up to eight *cropped edge strips* — the
   ``pixelbuffer``-wide slices its neighbors need.  Shuffled bytes per
   tile ≈ T² + 4·pb·T + 4·pb² instead of the naive 9·T² of shipping
   whole tiles to every neighbor (pb=2, T=256 → ~1.03× the input
   instead of 9×).  Off-grid destinations are clipped on the y axis
   and wrapped on the x axis (antimeridian — global grids are
   cylinders, mapchete wraps pixelbuffer tiles the same way).
2. **One shuffle** on the destination tile key (the same key/skew
   profile as every other tile op here).
3. **Assemble + apply** (``applyInPandas``): paste strips into a
   (T+2·pb)² canvas (absent neighbors stay ``fill_value`` — empty
   tiles are absent by contract, reference ``_output.py:362-364``),
   run the focal function on the padded array, crop the center back
   to T².  Tiles with no *self* plane produce no output (a tile is
   not conjured out of its neighbors' edges).

The focal function is pluggable: a convolution kernel (``kernel=``),
a ranked/box statistic (``stat=``), or any callable
``fn(padded: float64[T+2pb, T+2pb], pb) -> float64[T, T]``.
``hillshade()`` builds the Horn-method shaded-relief callable
(GDAL/ESRI formula) the mapchete example process computes per tile.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import grid
from .mosaic import TILE_BANDS_SCHEMA

# halo strips in flight: destination tile key + canvas placement.
# tile_px is the FULL tile edge (the canvas size is derived from it;
# strips themselves are sh x sw).
_STRIP_SCHEMA = T.StructType(
    [
        T.StructField("tile_zoom", T.IntegerType(), False),
        T.StructField("tile_row", T.LongType(), False),
        T.StructField("tile_col", T.LongType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("ts_idx", T.IntegerType(), False),
        T.StructField("tile_px", T.IntegerType(), False),
        T.StructField("cr0", T.IntegerType(), False),
        T.StructField("cc0", T.IntegerType(), False),
        T.StructField("sh", T.IntegerType(), False),
        T.StructField("sw", T.IntegerType(), False),
        T.StructField("dtype", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("is_self", T.BooleanType(), False),
        T.StructField("n_sources", T.IntegerType(), False),
    ]
)


def kernel_fn(kernel, normalize: bool = False) -> Callable:
    """Correlation with an odd square kernel as a focal callable.

    Implemented as the sum of k² shifted views of the padded canvas —
    vectorized numpy per offset, no scipy dependency; for the small
    kernels focal work uses (3–9 px) this is within 2× of an FFT and
    allocation-free per offset."""
    k = np.asarray(kernel, dtype=np.float64)
    if k.ndim != 2 or k.shape[0] != k.shape[1] or k.shape[0] % 2 == 0:
        raise ValueError(f"kernel must be odd square, got {k.shape}")
    if normalize:
        s = k.sum()
        if s == 0:
            raise ValueError("cannot normalize a zero-sum kernel")
        k = k / s
    radius = (k.shape[0] - 1) // 2

    def fn(padded: np.ndarray, pb: int) -> np.ndarray:
        if pb != radius:
            raise ValueError(f"kernel radius {radius} != pixelbuffer {pb}")
        n = padded.shape[0] - 2 * pb
        out = np.zeros((n, n), dtype=np.float64)
        for i in range(k.shape[0]):
            for j in range(k.shape[1]):
                if k[i, j] != 0.0:
                    out += k[i, j] * padded[i : i + n, j : j + n]
        return out

    fn.radius = radius  # type: ignore[attr-defined]
    return fn


def stat_fn(stat: str, size: int = 3) -> Callable:
    """Box-window focal statistic: ``mean`` / ``min`` / ``max`` over an
    odd ``size``×``size`` window (min/max are grayscale
    erosion/dilation)."""
    if size % 2 == 0 or size < 1:
        raise ValueError(f"window size must be odd, got {size}")
    if stat == "mean":
        return kernel_fn(np.ones((size, size)), normalize=True)
    if stat not in ("min", "max"):
        raise ValueError(f"unknown focal stat {stat!r}")
    radius = (size - 1) // 2
    reduce = np.minimum if stat == "min" else np.maximum

    def fn(padded: np.ndarray, pb: int) -> np.ndarray:
        if pb != radius:
            raise ValueError(f"stat radius {radius} != pixelbuffer {pb}")
        n = padded.shape[0] - 2 * pb
        out = padded[0:n, 0:n].copy()
        for i in range(size):
            for j in range(size):
                if i or j:
                    reduce(out, padded[i : i + n, j : j + n], out=out)
        return out

    fn.radius = radius  # type: ignore[attr-defined]
    return fn


def hillshade(
    azimuth: float = 315.0,
    altitude: float = 45.0,
    z_factor: float = 1.0,
    cellsize: float = 1.0,
) -> Callable:
    """Horn-method shaded relief (the GDAL/ESRI hillshade formula; the
    mapchete example hillshade process computes the same thing per
    buffered tile).  3×3 neighborhood → radius 1.  Returns 0–255
    intensities (cast to the plane dtype by ``focal_map``)."""
    zen = math.radians(90.0 - altitude)
    az = math.radians(360.0 - azimuth + 90.0)

    def fn(padded: np.ndarray, pb: int) -> np.ndarray:
        if pb != 1:
            raise ValueError(f"hillshade needs pixelbuffer=1, got {pb}")
        p = padded
        a, b, c = p[:-2, :-2], p[:-2, 1:-1], p[:-2, 2:]
        d, f = p[1:-1, :-2], p[1:-1, 2:]
        g, h, i = p[2:, :-2], p[2:, 1:-1], p[2:, 2:]
        dzdx = ((c + 2 * f + i) - (a + 2 * d + g)) / (8.0 * cellsize)
        dzdy = ((g + 2 * h + i) - (a + 2 * b + c)) / (8.0 * cellsize)
        slope = np.arctan(z_factor * np.hypot(dzdx, dzdy))
        aspect = np.arctan2(dzdy, -dzdx)
        shade = 255.0 * (
            np.cos(zen) * np.cos(slope)
            + np.sin(zen) * np.sin(slope) * np.cos(az - aspect)
        )
        return np.clip(shade, 0.0, 255.0)

    fn.radius = 1  # type: ignore[attr-defined]
    return fn


def focal_map(
    tiles: DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    *,
    kernel=None,
    stat: str | None = None,
    size: int = 3,
    fn: Callable | None = None,
    pixelbuffer: int | None = None,
    fill_value: float = 0,
    wrap_x: bool = True,
) -> DataFrame:
    """Apply a focal function to every tile-band plane with seamless
    tile boundaries.  Input/output schema is ``TILE_BANDS_SCHEMA`` (so
    the result chains into ``TileDirectory.write`` / ``overview_level``
    like any other tile op).

    Exactly one of ``kernel`` / ``stat`` / ``fn``.  ``pixelbuffer``
    is inferred from the kernel/stat radius; a custom ``fn`` must
    either carry a ``.radius`` attribute or be passed an explicit
    ``pixelbuffer``.  Output values are computed in float64 and cast
    back to each plane's dtype (round-half-up for integer planes, the
    overview convention)."""
    picked = [x is not None for x in (kernel, stat, fn)]
    if sum(picked) != 1:
        raise ValueError("exactly one of kernel=, stat=, fn= is required")
    if kernel is not None:
        fn = kernel_fn(kernel, normalize=False)
    elif stat is not None:
        fn = stat_fn(stat, size)
    assert fn is not None
    pb = pixelbuffer if pixelbuffer is not None else getattr(fn, "radius", None)
    if pb is None:
        raise ValueError("custom fn needs pixelbuffer= (or a .radius attribute)")
    pb = int(pb)
    tile_px = pyr.tile_size * pyr.metatiling
    if pb < 0 or pb > tile_px:
        raise ValueError(f"pixelbuffer must be in [0, {tile_px}], got {pb}")
    nrows = pyr.matrix_height(zoom)
    ncols = pyr.matrix_width(zoom)
    # x wrap-around needs ≥3 columns: below that, a left and a right
    # strip can alias onto the same destination through the modulus
    # (z0 geodetic is 1x2) — treat the grid as clipped instead
    wrap = bool(wrap_x) and ncols >= 3
    zoom_v = int(zoom)
    fv = float(fill_value)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        offsets = [
            (dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1) if dr or dc
        ]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                if int(r.tile_zoom) != zoom_v:
                    raise ValueError(
                        f"focal_map(zoom={zoom_v}) got a tile at zoom "
                        f"{r.tile_zoom} — single-zoom input by contract"
                    )
                h, w = int(r.height), int(r.width)
                if h != tile_px or w != tile_px:
                    raise ValueError(
                        f"tile plane {h}x{w} != pyramid tile_px {tile_px}"
                    )
                arr = np.frombuffer(r.payload, dtype=np.dtype(r.dtype)).reshape(h, w)
                for dr, dc in offsets:
                    r2 = int(r.tile_row) + dr
                    c2 = int(r.tile_col) + dc
                    if r2 < 0 or r2 >= nrows:
                        continue
                    if c2 < 0 or c2 >= ncols:
                        if not wrap:
                            continue
                        c2 %= ncols
                    rs = (
                        slice(0, pb)
                        if dr == -1
                        else slice(h - pb, h)
                        if dr == 1
                        else slice(0, h)
                    )
                    cs = (
                        slice(0, pb)
                        if dc == -1
                        else slice(w - pb, w)
                        if dc == 1
                        else slice(0, w)
                    )
                    strip = arr[rs, cs]
                    # canvas row of this strip's start: the source tile
                    # begins at pb - dr*T in destination-canvas coords
                    cr0 = pb - dr * h + (h - pb if dr == 1 else 0)
                    cc0 = pb - dc * w + (w - pb if dc == 1 else 0)
                    rows.append(
                        (
                            zoom_v,
                            r2,
                            c2,
                            int(r.band),
                            int(r.ts_idx),
                            h,
                            cr0,
                            cc0,
                            strip.shape[0],
                            strip.shape[1],
                            str(r.dtype),
                            np.ascontiguousarray(strip).tobytes(),
                            False,
                            int(r.n_sources),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _STRIP_SCHEMA.fields]
            )

    # SELF planes never round-trip through Python before assembly: the
    # full payload is by far the heavy Arrow traffic (a strip is
    # ~4·pb/T of a plane), and the plane itself is unchanged — its
    # canvas placement is pure arithmetic, so it rides JVM-side with
    # Catalyst-computed metadata and crosses the Arrow boundary exactly
    # once (into assemble).  Only the edge strips pay the Python
    # round-trip (decode → crop → re-emit).
    selfs = tiles.select(
        F.col("tile_zoom").cast("int"),
        F.col("tile_row").cast("long"),
        F.col("tile_col").cast("long"),
        F.col("band").cast("int"),
        F.col("ts_idx").cast("int"),
        F.col("height").cast("int").alias("tile_px"),
        F.lit(pb).cast("int").alias("cr0"),
        F.lit(pb).cast("int").alias("cc0"),
        F.col("height").cast("int").alias("sh"),
        F.col("width").cast("int").alias("sw"),
        F.col("dtype"),
        F.col("payload"),
        F.lit(True).alias("is_self"),
        F.col("n_sources").cast("int"),
    )
    strips = (
        selfs.unionByName(tiles.mapInPandas(emit, _STRIP_SCHEMA))
        if pb > 0
        else selfs
    )

    def assemble(key, pdf):
        zv, row_v, col_v, band_v, ts_v = (int(k) for k in key)
        selfs = pdf[pdf.is_self]
        if selfs.empty:
            # neighbors' edges alone do not conjure a tile — empty
            # tiles stay absent
            return None
        # authoritative gates (the JVM-side self path skips the strip
        # emitter's checks): single-zoom input, pyramid-sized planes
        if zv != zoom_v:
            raise ValueError(
                f"focal_map(zoom={zoom_v}) got a tile at zoom {zv} — "
                f"single-zoom input by contract"
            )
        tpx = int(selfs.tile_px.iloc[0])
        if tpx != tile_px or int(selfs.sw.iloc[0]) != tile_px:
            raise ValueError(
                f"tile plane {tpx}x{int(selfs.sw.iloc[0])} != pyramid "
                f"tile_px {tile_px}"
            )
        dt = np.dtype(selfs.dtype.iloc[0])
        canvas = np.full((tpx + 2 * pb, tpx + 2 * pb), fv, dtype=np.float64)
        for r in pdf.itertuples():
            sh, sw = int(r.sh), int(r.sw)
            canvas[r.cr0 : r.cr0 + sh, r.cc0 : r.cc0 + sw] = np.frombuffer(
                r.payload, dtype=np.dtype(r.dtype)
            ).reshape(sh, sw)
        out = fn(canvas, pb)
        if out.shape != (tpx, tpx):
            raise ValueError(
                f"focal fn returned {out.shape}, expected {(tpx, tpx)}"
            )
        if np.issubdtype(dt, np.integer):
            info = np.iinfo(dt)
            out = np.floor(out + 0.5).clip(info.min, info.max).astype(dt)
        else:
            out = out.astype(dt)
        return (
            zv,
            row_v,
            col_v,
            band_v,
            ts_v,
            tpx,
            tpx,
            str(dt),
            np.ascontiguousarray(out).tobytes(),
            int(selfs.n_sources.iloc[0]),
        )

    from .groupmap import batched_group_map

    # ONE shuffle on the destination tile key; ≤9-strip groups are
    # batched per Arrow batch (groupmap), not per-group applyInPandas
    return batched_group_map(
        strips,
        ["tile_zoom", "tile_row", "tile_col", "band", "ts_idx"],
        assemble,
        TILE_BANDS_SCHEMA,
    )
