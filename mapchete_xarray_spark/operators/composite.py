"""Temporal compositing: collapse a time stack of tile planes into
one cloud-free-style composite per (tile, band).

The reference's s2 test process builds (time, bands, y, x) stacks per
tile (SURVEY §1/§2 op 30 — per-(tile, ts_idx) planes here); the
canonical downstream is a per-pixel reduction over the time axis
(median / mean / min / max "best pixel", or first/latest valid —
what every satellite mosaic pipeline runs to kill clouds and gaps).
The reference leaves this to its xarray host (``ds.median('time')``);
here it is a distributed operator with the same shuffle shape as
every tile op in this engine:

- ONE shuffle on the (tile, band) key via ``groupmap.
  batched_group_map`` (repartition + local sort + per-Arrow-batch
  dispatch — NOT per-group ``applyInPandas``: sparse archives have
  1-2 planes per tile-band, and per-group UDF dispatch at ~10 ms/
  group dominated the actual reduction by 10×; batching + the
  single-plane shortcut cut the sf0.1 operator from ~43 s to ~3 s).
  Single-plane integer groups short-circuit to a bit-identical
  passthrough (a one-observation composite IS the observation, holes
  included);
- nodata-aware: ``nodata`` pixels are holes (NaN in the float64
  stack) — a pixel's composite uses only its valid observations, and
  an all-hole pixel comes back ``nodata`` (axis semantics mirror
  ``xarray``'s skipna reductions);
- absent planes are absent (empty tiles don't exist by contract,
  reference ``_output.py:362-364``) — a tile-band with no planes at
  all produces no composite row.

At 10^12 tiles this is embarrassingly parallel per tile-band: the
shuffle moves each plane exactly once (same bytes as one base pass),
the key space is the tile key (same skew profile as every other tile
op — hot-city chunks fall out to the same salting/AQE discipline),
and the output is ~1/T of the input.
"""

from __future__ import annotations


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .mosaic import TILE_BANDS_SCHEMA

_METHODS = ("median", "mean", "min", "max", "first", "latest")


def temporal_composite(
    tiles: DataFrame,
    method: str = "median",
    nodata: float | None = None,
) -> DataFrame:
    """Per-pixel reduction over the time axis of TILE_BANDS_SCHEMA
    planes → one plane per (tile, band) with ``ts_idx = 0``.

    ``method``: ``median`` (even counts average the two middles, the
    numpy/xarray rule) / ``mean`` / ``min`` / ``max`` / ``first``
    (earliest valid observation per pixel) / ``latest`` (most recent
    valid).  ``nodata`` values never contribute; pixels with no valid
    observation across the whole stack come back as ``nodata`` (or 0
    when no nodata is declared).  Values are computed in float64 and
    cast back to the plane dtype round-half-up (the overview/focal
    convention), so integer-dtype composites are bit-deterministic
    under any partitioning.  ``n_sources`` sums over the stack.
    """
    if method not in _METHODS:
        raise ValueError(f"unknown composite method {method!r}")
    meth = method
    nd = None if nodata is None else float(nodata)
    fill = 0.0 if nd is None else nd
    keys = ["tile_zoom", "tile_row", "tile_col", "band"]

    def reduce_one(key, pdf):
        zoom_v, row_v, col_v, band_v = (int(k) for k in key)
        if (
            len(pdf) == 1
            and np.issubdtype(np.dtype(pdf.dtype.iloc[0]), np.integer)
        ):
            # a one-observation INTEGER stack composites to itself for
            # EVERY method (mean included: one integer value is exact
            # in float64 and rounds back to itself): values round-trip
            # exactly and holes stay holes (nd → NaN → fill == nd).
            # Floats are excluded — a raw-NaN pixel maps to fill in
            # the general path, which a passthrough would keep.
            r = pdf.iloc[0]
            return (
                zoom_v, row_v, col_v, band_v, 0,
                int(r.height), int(r.width), str(r.dtype),
                r.payload, int(r.n_sources),
            )
        pdf = pdf.sort_values("ts_idx", kind="stable")
        h = int(pdf.height.iloc[0])
        w = int(pdf.width.iloc[0])
        dt = np.dtype(pdf.dtype.iloc[0])
        stack = np.empty((len(pdf), h, w), dtype=np.float64)
        for i, r in enumerate(pdf.itertuples()):
            if int(r.height) != h or int(r.width) != w:
                raise ValueError(
                    f"time stack planes disagree on shape: {h}x{w} vs "
                    f"{r.height}x{r.width}"
                )
            stack[i] = np.frombuffer(r.payload, dtype=np.dtype(r.dtype)).reshape(
                h, w
            )
        if nd is not None:
            stack[stack == nd] = np.nan
        valid = ~np.isnan(stack)
        cnt = valid.sum(axis=0)
        any_valid = cnt > 0
        # hand-rolled nan-aware reductions: np.nanmedian costs
        # ~21 ms per 256² group (per-column partitions + temporaries)
        # where NaN-last sort + two take_along_axis picks cost ~6 ms
        # — the same two-middles-averaged semantics (np.sort places
        # NaN at the end, so index k of the sorted stack is the k-th
        # VALID observation).  All-hole pixels read garbage through
        # the clamped indices and are patched to fill below.
        if meth == "median":
            st = np.sort(stack, axis=0)
            safe = np.maximum(cnt, 1)
            lo = np.take_along_axis(st, ((safe - 1) // 2)[None], axis=0)[0]
            hi = np.take_along_axis(st, (safe // 2)[None], axis=0)[0]
            out = (lo + hi) / 2.0
        elif meth == "mean":
            out = np.where(valid, stack, 0.0).sum(axis=0) / np.maximum(
                cnt, 1
            )
        elif meth == "min":
            out = np.where(valid, stack, np.inf).min(axis=0)
        elif meth == "max":
            out = np.where(valid, stack, -np.inf).max(axis=0)
        elif meth == "first":
            idx = valid.argmax(axis=0)
            out = np.take_along_axis(stack, idx[None], axis=0)[0]
        else:  # latest
            idx = len(pdf) - 1 - valid[::-1].argmax(axis=0)
            out = np.take_along_axis(stack, idx[None], axis=0)[0]
        out = np.where(any_valid, out, fill)
        if np.issubdtype(dt, np.integer):
            info = np.iinfo(dt)
            out = np.floor(out + 0.5).clip(info.min, info.max).astype(dt)
        else:
            out = out.astype(dt)
        return (
            zoom_v,
            row_v,
            col_v,
            band_v,
            0,
            h,
            w,
            str(dt),
            np.ascontiguousarray(out).tobytes(),
            int(pdf.n_sources.sum()),
        )

    from .groupmap import batched_group_map

    return batched_group_map(tiles, keys, reduce_one, TILE_BANDS_SCHEMA)
