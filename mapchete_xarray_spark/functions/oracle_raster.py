"""Driver-side (no Spark) reconstruction of the synthetic z6 base
planes + brute-force zonal/labeling references — the literal-table
generators behind the raster-family DuckDB oracles.

The pattern matches ``queries._phash_near_dup_oracle``: re-derive the
deterministic input driver-side with straightforward SERIAL numpy
(full-tile PNPOLY, no index, no window clipping, no Arrow batching),
inline the partial rows as a VALUES table, and let DuckDB run the
distributed stage's algebra (moment merge + finalize, histogram →
nearest-rank percentiles, recursive-CTE component union).  The oracle
therefore checks BOTH that Spark's executor-side pixel work agrees
with a serial reimplementation AND that the merge/finalize SQL
semantics match.

Everything here mirrors the reference's framing rules via ``grid.py``
(pixel-center coords, ``_output.py:616-626``) — the same public
formulas the engine itself uses; what is *independent* is the
execution shape: one Python loop instead of partials + exchanges.

Scale note: these run at the CORRECTNESS scale only (n=300 base
images, the sf<=0.01 fixture size — same constant at sf0.001 and
sf0.01 via ``queries._overview_n``); the bench scales past them but
never evaluates oracles.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd

from .. import codecs, grid
from ..geom import points_in_polygon, wkb_rings
from .portable import HOT_CITIES

_N_BASE = 300  # == queries._overview_n at every correctness sf
_ZOOM = 6
_BANDS = 3


def synth_lon(k: np.ndarray) -> np.ndarray:
    """numpy twin of ``portable.synth_lon_sql`` (int ops then /1e3
    double division — bit-identical for the non-negative keys used)."""
    k = k.astype(np.int64)
    out = ((k * 9973) % 360000) / 1e3 - 180.0
    for d, (cx, _), mul in zip((0, 1, 2), HOT_CITIES, (7, 11, 13)):
        m = k % 10 == d
        out[m] = cx + ((k[m] * mul) % 2000) / 1e3 - 1.0
    return out


def synth_lat(k: np.ndarray) -> np.ndarray:
    k = k.astype(np.int64)
    out = ((k * 7919) % 170000) / 1e3 - 85.0
    for d, (_, cy), mul in zip((0, 1, 2), HOT_CITIES, (17, 19, 23)):
        m = k % 10 == d
        out[m] = cy + ((k[m] * mul) % 2000) / 1e3 - 1.0
    return out


@functools.lru_cache(maxsize=2)
def _base_build(
    n: int = _N_BASE,
    zoom: int = _ZOOM,
    bands: int = _BANDS,
    with_ts: bool = False,
) -> tuple:
    """Serial reconstruction of the cached base sinks' tile planes:
    ({key: (h, w, bands) uint8 canvas}, {key: n_sources}) where key is
    (tile_row, tile_col) or, with ``with_ts`` (the composite twin,
    ``queries._composite_base_sink``), (tile_row, tile_col, ts_idx)
    with ts_idx = image index % 5 (the ``with_geometry`` axis rule).
    Mirrors ``mosaic.materialize_tiles``'s paste arithmetic (nearest-
    neighbor resample, image_id paint order, absent-when-untouched)
    with a plain dict-of-canvases loop; parity vs the Spark sink is
    pinned in tests/test_oracle_raster.py."""
    from ..sources.images import _gen_batch

    pyr = grid.GEODETIC
    imgs = _gen_batch(np.arange(n))
    k = np.arange(n, dtype=np.int64)
    lon, lat = synth_lon(k), synth_lat(k)
    ps = 180.0 / 2**zoom / 256
    w_arr = imgs["w"].to_numpy()
    h_arr = imgs["h"].to_numpy()
    minx = np.maximum(lon - w_arr * ps / 2, -180.0)
    maxx = np.minimum(lon + w_arr * ps / 2, 180.0)
    miny = np.maximum(lat - h_arr * ps / 2, -90.0)
    maxy = np.minimum(lat + h_arr * ps / 2, 90.0)

    span = pyr.tile_span(zoom)
    nrows, ncols = pyr.matrix_height(zoom), pyr.matrix_width(zoom)
    b = pyr.bounds
    tile_px = pyr.tile_size * pyr.metatiling
    canvases: dict[tuple, np.ndarray] = {}
    touched: dict[tuple, int] = {}
    # image_id order == index order (zero-padded ids)
    for i in range(n):
        r_lo = max(int(np.floor((b.top - maxy[i]) / span)), 0)
        r_hi = min(int(np.floor((b.top - miny[i]) / span)), nrows - 1)
        c_lo = max(int(np.floor((minx[i] - b.left) / span)), 0)
        c_hi = min(int(np.floor((maxx[i] - b.left) / span)), ncols - 1)
        if r_hi < r_lo or c_hi < c_lo:
            continue
        arr = codecs.decode_image(
            imgs["bytes"][i], int(w_arr[i]), int(h_arr[i]), imgs["fmt"][i]
        )
        ts_idx = int(i % 5) if with_ts else None
        for tr in range(r_lo, r_hi + 1):
            for tc in range(c_lo, c_hi + 1):
                left = b.left + tc * span
                top = b.top - tr * span
                c0 = (minx[i] - left) / ps
                r0 = (top - maxy[i]) / ps
                c1 = (maxx[i] - left) / ps
                r1 = (top - miny[i]) / ps
                tc0, tr0 = max(0, int(round(c0))), max(0, int(round(r0)))
                tc1 = min(tile_px, int(round(c1)))
                tr1 = min(tile_px, int(round(r1)))
                if tc1 <= tc0 or tr1 <= tr0:
                    continue
                key = (tr, tc) if ts_idx is None else (tr, tc, ts_idx)
                if key not in canvases:
                    canvases[key] = np.zeros(
                        (tile_px, tile_px, bands), dtype=np.uint8
                    )
                    touched[key] = 0
                tgt_cols = np.arange(tc0, tc1)
                tgt_rows = np.arange(tr0, tr1)
                fx = ((tgt_cols + 0.5) - c0) / max(c1 - c0, 1e-12) * w_arr[i]
                fy = ((tgt_rows + 0.5) - r0) / max(r1 - r0, 1e-12) * h_arr[i]
                sx = np.clip(fx.astype(np.int64), 0, w_arr[i] - 1)
                sy = np.clip(fy.astype(np.int64), 0, h_arr[i] - 1)
                canvases[key][np.ix_(tgt_rows, tgt_cols)] = arr[
                    np.ix_(sy, sx)
                ][..., :bands]
                touched[key] += 1
    # empty tiles are absent (every candidate here was touched by
    # construction, but keep the mosaic contract explicit)
    return (
        {k2: v for k2, v in canvases.items() if touched[k2] > 0},
        dict(touched),
    )


def base_planes(
    n: int = _N_BASE, zoom: int = _ZOOM, bands: int = _BANDS
) -> dict:
    """{(tile_row, tile_col): (h, w, bands) uint8 canvas} — see
    ``_base_build``."""
    return _base_build(n, zoom, bands)[0]


def zonal_moment_partials(
    planes: dict, zones: pd.DataFrame, zoom: int = _ZOOM
) -> list[tuple]:
    """Brute-force per-(aoi, band, tile) moment partials over the
    reconstructed base planes: full-tile PNPOLY per zone (no index, no
    window clipping).  Rows: (aoi_id, band, cnt, s, ss, mn, mx) —
    uint8 values sum exactly in float64, so the partials are
    bit-identical to the engine's regardless of split."""
    pyr = grid.GEODETIC
    tile_px = pyr.tile_size * pyr.metatiling
    span = pyr.tile_span(zoom)
    out = []
    for zrow in zones.itertuples():
        ring = wkb_rings(zrow.wkb)
        for (tr, tc), canvas in planes.items():
            tb = grid.tile_bounds(pyr, zoom, tr, tc)
            # cheap bbox reject only (not the refinement under test)
            if (
                tb.left > zrow.maxx
                or tb.left + span < zrow.minx
                or tb.top < zrow.miny
                or tb.top - span > zrow.maxy
            ):
                continue
            xs, ys = grid.pixel_center_coords(tb, (tile_px, tile_px), pyr, zoom)
            gx = np.broadcast_to(xs, (tile_px, tile_px)).ravel()
            gy = np.broadcast_to(ys[:, None], (tile_px, tile_px)).ravel()
            m = points_in_polygon(gx, gy, ring)
            if not m.any():
                continue
            for band in range(canvas.shape[2]):
                vals = canvas[:, :, band].ravel()[m].astype(np.float64)
                out.append(
                    (
                        zrow.aoi_id,
                        band,
                        int(vals.size),
                        float(vals.sum()),
                        float((vals * vals).sum()),
                        float(vals.min()),
                        float(vals.max()),
                    )
                )
    return out


def zonal_value_counts(
    planes: dict, zones: pd.DataFrame, zoom: int = _ZOOM
) -> list[tuple]:
    """Brute-force per-(aoi, band, value) counts (the exact-histogram
    unit ``zonal_hist_partials`` emits per tile, merged here across
    tiles to keep the literal table small).  Rows: (aoi_id, band, val,
    cnt)."""
    pyr = grid.GEODETIC
    tile_px = pyr.tile_size * pyr.metatiling
    span = pyr.tile_span(zoom)
    acc: dict[tuple, int] = {}
    for zrow in zones.itertuples():
        ring = wkb_rings(zrow.wkb)
        for (tr, tc), canvas in planes.items():
            tb = grid.tile_bounds(pyr, zoom, tr, tc)
            if (
                tb.left > zrow.maxx
                or tb.left + span < zrow.minx
                or tb.top < zrow.miny
                or tb.top - span > zrow.maxy
            ):
                continue
            xs, ys = grid.pixel_center_coords(tb, (tile_px, tile_px), pyr, zoom)
            gx = np.broadcast_to(xs, (tile_px, tile_px)).ravel()
            gy = np.broadcast_to(ys[:, None], (tile_px, tile_px)).ravel()
            m = points_in_polygon(gx, gy, ring)
            if not m.any():
                continue
            for band in range(canvas.shape[2]):
                vals = canvas[:, :, band].ravel()[m]
                uniq, cnt = np.unique(vals, return_counts=True)
                for v, c in zip(uniq.tolist(), cnt.tolist()):
                    key = (zrow.aoi_id, band, int(v))
                    acc[key] = acc.get(key, 0) + int(c)
    return [(a, b, v, c) for (a, b, v), c in acc.items()]


@functools.lru_cache(maxsize=2)
def _label_build(zoom: int = _ZOOM) -> tuple:
    """The AOI table burned to z6 label planes (burn='index', uint16),
    serial paint-order PNPOLY — ({(tile_row, tile_col): canvas},
    {key: n_burned zones}).  The brute-force twin of
    ``rasterize_zones(spark, aoi_pandas(), ...)``."""
    from ..operators.rasterize import zone_tile_ranges
    from ..sources.aoi import aoi_pandas

    pyr = grid.GEODETIC
    zones = aoi_pandas()
    rng = zone_tile_ranges(zones, pyr, zoom)
    by_tile: dict[tuple, list[int]] = {}
    for z, rr in enumerate(rng.itertuples()):
        for tr in range(int(rr.row0), int(rr.row1) + 1):
            for tc in range(int(rr.col0), int(rr.col1) + 1):
                by_tile.setdefault((tr, tc), []).append(z)
    tile_px = pyr.tile_size * pyr.metatiling
    rings = {z: wkb_rings(w) for z, w in enumerate(zones["wkb"])}
    planes: dict[tuple, np.ndarray] = {}
    counts: dict[tuple, int] = {}
    for (tr, tc), zs in by_tile.items():
        tb = grid.tile_bounds(pyr, zoom, tr, tc)
        xs, ys = grid.pixel_center_coords(tb, (tile_px, tile_px), pyr, zoom)
        gx = np.broadcast_to(xs, (tile_px, tile_px)).ravel()
        gy = np.broadcast_to(ys[:, None], (tile_px, tile_px)).ravel()
        canvas = np.zeros((tile_px, tile_px), dtype=np.uint16)
        n_burned = 0
        for z in zs:
            m = points_in_polygon(gx, gy, rings[z]).reshape(tile_px, tile_px)
            if m.any():
                canvas[m] = z + 1  # burn='index' (1-based), later wins
                n_burned += 1
        if n_burned:
            planes[(tr, tc)] = canvas
            counts[(tr, tc)] = n_burned
    return planes, counts


def label_planes(zoom: int = _ZOOM) -> dict:
    return _label_build(zoom)[0]


def raster_zonal_partials(
    values: dict, labels: dict
) -> list[tuple]:
    """Brute-force label-keyed moment partials: per tile present in
    BOTH dicts, per band — (label, band, cnt, s, ss, mn, mx), label 0
    = fill excluded (``raster_zonal_stats`` defaults)."""
    out = []
    for key, canvas in values.items():
        lp = labels.get(key)
        if lp is None:
            continue
        lv = lp.ravel().astype(np.float64)
        keep = lv != 0.0
        if not keep.any():
            continue
        for band in range(canvas.shape[2]):
            v = canvas[:, :, band].ravel().astype(np.float64)[keep]
            lk = lv[keep]
            for u in np.unique(lk):
                sel = v[lk == u]
                out.append(
                    (
                        int(u),
                        band,
                        int(sel.size),
                        float(sel.sum()),
                        float((sel * sel).sum()),
                        float(sel.min()),
                        float(sel.max()),
                    )
                )
    return out


def ndvi_checksums(planes: dict, zoom: int = _ZOOM) -> list[tuple]:
    """Brute-force crc32 checksums of the NDVI band-math output over
    the reconstructed base planes — the exact float32 bitstream
    ``band_math(tiles, "(b1 - b0) / maximum(b1 + b0, 1)")`` emits
    (float64 eval, float32 cast).  Rows: (tile_zoom, tile_row,
    tile_col, band, checksum)."""
    import zlib

    out = []
    for (tr, tc), canvas in planes.items():
        b0 = canvas[:, :, 0].astype(np.float64)
        b1 = canvas[:, :, 1].astype(np.float64)
        nd = ((b1 - b0) / np.maximum(b1 + b0, 1.0)).astype(np.float32)
        out.append(
            (zoom, tr, tc, 0, zlib.crc32(np.ascontiguousarray(nd).tobytes()))
        )
    return out


def region_graph(zoom: int = _ZOOM) -> tuple[list[tuple], list[tuple]]:
    """Brute-force node/edge graph of ``queries.region_extraction``'s
    input: AOI table burned to label planes (serial paint-order PNPOLY
    burn, bbox-candidate zones only — ``rasterize_bruteforce``'s
    semantics without its every-ring-every-tile rake), per-tile
    ``label_plane`` (the shared
    golden-tested kernel), explicit facing-border comparison for the
    stitch edges (incl. antimeridian wrap).  Returns

        nodes: (id, tile_index, val, n_px, min_r, min_c, max_r, max_c)
               — id is the engine's packed node id, coords GLOBAL px
        edges: (src, dst) distinct undirected adjacency pairs

    so the DuckDB recursive CTE can compute the same min-id component
    labels the distributed cc operator emits."""
    from ..operators.labeling import label_plane

    pyr = grid.GEODETIC
    planes = label_planes(zoom)

    tile_px = pyr.tile_size * pyr.metatiling
    ncols = pyr.matrix_width(zoom)
    lmax = tile_px * tile_px
    nodes: list[tuple] = []
    lab: dict[tuple, np.ndarray] = {}
    arrs: dict[tuple, np.ndarray] = {}
    for (tr, tc), arr in planes.items():
        labels, stats = label_plane(arr, nodata=0.0)
        lab[(tr, tc)] = labels
        arrs[(tr, tc)] = arr
        base = (tr * ncols + tc) * lmax
        for cid, (v, n, i0, j0, i1, j1) in enumerate(stats):
            nodes.append(
                (
                    base + cid,
                    tr * ncols + tc,
                    float(v),
                    int(n),
                    tr * tile_px + i0,
                    tc * tile_px + j0,
                    tr * tile_px + i1,
                    tc * tile_px + j1,
                )
            )

    edges: set[tuple] = set()

    def _join(key_a, key_b, line_a, line_b):
        la, lb = lab.get(key_a), lab.get(key_b)
        if la is None or lb is None:
            return
        aa, ab = arrs[key_a], arrs[key_b]
        va = aa[line_a] if isinstance(line_a, tuple) else aa[:, line_a]
        vb = ab[line_b] if isinstance(line_b, tuple) else ab[:, line_b]
        ka = la[line_a] if isinstance(line_a, tuple) else la[:, line_a]
        kb = lb[line_b] if isinstance(line_b, tuple) else lb[:, line_b]
        m = (ka >= 0) & (kb >= 0) & (va == vb)
        for i in np.flatnonzero(m).tolist():
            na = (key_a[0] * ncols + key_a[1]) * lmax + int(ka[i])
            nb = (key_b[0] * ncols + key_b[1]) * lmax + int(kb[i])
            if na != nb:
                edges.add((na, nb))

    for tr, tc in list(lab):
        # vertical: bottom row ↔ top row of the tile below (tuple
        # selector = row line); horizontal: right col ↔ left col of
        # the tile right, antimeridian-wrapped (int selector = column)
        _join((tr, tc), (tr + 1, tc), (-1,), (0,))
        _join((tr, tc), (tr, (tc + 1) % ncols), -1, 0)
    return nodes, sorted(edges)


def rasterize_checksums(zoom: int = _ZOOM) -> list[tuple]:
    """Brute-force rows of ``queries.rasterize_aoi_labels``:
    (tile_zoom, tile_row, tile_col, band, n_sources, checksum) where
    n_sources counts the zones that burned ≥1 pixel (rasterize's
    contract) and checksum is the uint16 label plane's crc32."""
    import zlib

    planes, counts = _label_build(zoom)
    return [
        (zoom, tr, tc, 0, counts[(tr, tc)],
         zlib.crc32(np.ascontiguousarray(arr).tobytes()))
        for (tr, tc), arr in planes.items()
    ]


def overview_checksums(zoom: int = _ZOOM, levels: int = 2) -> list[tuple]:
    """Brute-force rows of ``queries.overview_derive``: 2×2-child
    average decimation (mean in float64, round-half-up back to uint8 —
    GDAL 'average', ``overviews.overview_level``) applied ``levels``
    times to the reconstructed base planes; absent children leave
    fill=0 quadrants; n_sources sums over present children.  Rows:
    (tile_zoom, tile_row, tile_col, band, n_sources, checksum) for
    every derived level."""
    import zlib

    planes, counts = _base_build(_N_BASE, zoom, _BANDS)
    cur = {k: (v, counts[k]) for k, v in planes.items()}
    out: list[tuple] = []
    z = zoom
    for _ in range(levels):
        z -= 1
        parents: dict[tuple, tuple] = {}
        for (tr, tc), (arr, ns) in cur.items():
            pk = (tr // 2, tc // 2)
            if pk not in parents:
                parents[pk] = (
                    np.zeros_like(arr),  # fill=0 canvas, same dtype/shape
                    0,
                )
            canvas, tot = parents[pk]
            h = arr.shape[0]
            half = h // 2
            m = (
                arr.reshape(half, 2, half, 2, arr.shape[2])
                .astype(np.float64)
                .mean(axis=(1, 3))
            )
            ds = np.floor(m + 0.5).astype(arr.dtype)
            r0, c0 = (tr % 2) * half, (tc % 2) * half
            canvas[r0 : r0 + half, c0 : c0 + half] = ds
            parents[pk] = (canvas, tot + ns)
        for (tr, tc), (canvas, ns) in parents.items():
            for b in range(canvas.shape[2]):
                out.append(
                    (z, tr, tc, b, ns,
                     zlib.crc32(np.ascontiguousarray(canvas[:, :, b]).tobytes()))
                )
        cur = parents
    return out


def focal_hillshade_checksums(zoom: int = _ZOOM) -> list[tuple]:
    """Brute-force rows of ``queries.focal_hillshade``: per present
    tile, a (T+2)² float64 canvas assembled from the tile + its
    neighbors' 1-px edge strips (fill 0 where absent, antimeridian
    column wrap — ``focal.focal_map``'s halo rules reimplemented as a
    plain dict lookup), then the golden-tested Horn kernel
    (``focal.hillshade``), round-half-up to uint8, crc32.  Rows:
    (tile_zoom, tile_row, tile_col, band, n_sources, checksum)."""
    import zlib

    from ..operators.focal import hillshade

    fn = hillshade(z_factor=2.0, cellsize=3.0)
    planes, counts = _base_build(_N_BASE, zoom, _BANDS)
    pyr = grid.GEODETIC
    nrows, ncols = pyr.matrix_height(zoom), pyr.matrix_width(zoom)
    tile_px = pyr.tile_size * pyr.metatiling
    out: list[tuple] = []
    for (tr, tc), arr in planes.items():
        for b in range(arr.shape[2]):
            canvas = np.zeros((tile_px + 2, tile_px + 2), dtype=np.float64)
            canvas[1:-1, 1:-1] = arr[:, :, b]
            for dr in (-1, 0, 1):
                for dc in (-1, 0, 1):
                    if not (dr or dc):
                        continue
                    r2, c2 = tr + dr, tc + dc
                    if r2 < 0 or r2 >= nrows:
                        continue
                    c2 %= ncols  # antimeridian wrap (ncols >= 3 here)
                    nb = planes.get((r2, c2))
                    if nb is None:
                        continue
                    # neighbor at (tr+dr, tc+dc): ITS far edge lands on
                    # our canvas side opposite to the offset direction
                    rs = (
                        slice(0, 1) if dr == -1
                        else slice(tile_px + 1, tile_px + 2) if dr == 1
                        else slice(1, tile_px + 1)
                    )
                    cs = (
                        slice(0, 1) if dc == -1
                        else slice(tile_px + 1, tile_px + 2) if dc == 1
                        else slice(1, tile_px + 1)
                    )
                    # the strip facing us: for dr==-1 (neighbor above)
                    # we need its BOTTOM row, for dr==1 its TOP row
                    strip = nb[:, :, b][
                        slice(tile_px - 1, tile_px) if dr == -1
                        else slice(0, 1) if dr == 1 else slice(None),
                        slice(tile_px - 1, tile_px) if dc == -1
                        else slice(0, 1) if dc == 1 else slice(None),
                    ]
                    canvas[rs, cs] = strip
            shade = fn(canvas, 1)
            px = np.floor(shade + 0.5).clip(0, 255).astype(np.uint8)
            out.append(
                (zoom, tr, tc, b, counts[(tr, tc)],
                 zlib.crc32(np.ascontiguousarray(px).tobytes()))
            )
    return out


def composite_checksums(zoom: int = _ZOOM) -> list[tuple]:
    """Brute-force rows of ``queries.temporal_median_composite``:
    nodata-aware per-pixel median over the 5-step time axis of the
    multi-ts base twin (ts_idx = image index % 5), two-middles
    averaging, all-hole → nodata(=0), round-half-up to uint8 —
    ``composite.temporal_composite('median', nodata=0)``'s kernel
    serially.  Rows: (tile_zoom, tile_row, tile_col, band, n_sources,
    checksum)."""
    import zlib

    planes, counts = _base_build(_N_BASE, zoom, _BANDS, with_ts=True)
    by_tile: dict[tuple, list[tuple]] = {}
    for (tr, tc, ts), arr in planes.items():
        by_tile.setdefault((tr, tc), []).append((ts, arr))
    out: list[tuple] = []
    for (tr, tc), stackl in by_tile.items():
        stackl.sort()
        n_src = sum(counts[(tr, tc, ts)] for ts, _ in stackl)
        for b in range(_BANDS):
            stack = np.stack(
                [a[:, :, b].astype(np.float64) for _, a in stackl]
            )
            stack[stack == 0.0] = np.nan
            valid = ~np.isnan(stack)
            cnt = valid.sum(axis=0)
            st = np.sort(stack, axis=0)
            safe = np.maximum(cnt, 1)
            lo = np.take_along_axis(st, ((safe - 1) // 2)[None], axis=0)[0]
            hi = np.take_along_axis(st, (safe // 2)[None], axis=0)[0]
            med = (lo + hi) / 2.0
            med = np.where(cnt > 0, med, 0.0)
            px = np.floor(med + 0.5).clip(0, 255).astype(np.uint8)
            out.append(
                (zoom, tr, tc, b, n_src,
                 zlib.crc32(np.ascontiguousarray(px).tobytes()))
            )
    return out


def xyz_manifest_rows(zoom: int = _ZOOM) -> list[tuple]:
    """Brute-force rows of ``queries.export_xyz_cache``: one manifest
    row per base tile — path ``{z}/{col}/{row}.q8`` and the q8
    payload's byte count (dequantized-raw, so always tile_px²·3).
    Rows: (tile_row, tile_col, path, n_bytes)."""
    pyr = grid.GEODETIC
    tile_px = pyr.tile_size * pyr.metatiling
    planes, _ = _base_build(_N_BASE, zoom, _BANDS)
    nb = tile_px * tile_px * 3
    return [
        (tr, tc, f"{zoom}/{tc}/{tr}.q8", nb) for (tr, tc) in planes
    ]


def regrid_checksums(zoom: int = _ZOOM) -> list[tuple]:
    """Brute-force rows of ``queries.regrid_base_to_mercator``: the
    geodetic z6 base planes re-projected onto mercator z6 serially —
    cover ranges via the same clamped corner-transform floors the SQL
    uses (``regrid.cover_ranges_sql``), then the nearest-neighbor
    inverse-projection gather of ``regrid.regrid_tiles``'s paste as a
    plain loop.  Rows: (tile_zoom, tile_row, tile_col, band,
    n_sources, checksum)."""
    import zlib

    from .portable import grid_params

    planes, counts = _base_build(_N_BASE, zoom, _BANDS)
    sl, st, sspan, _, _ = grid_params("geodetic", zoom)
    dl, dtop, dspan, dn, dcols = grid_params("mercator", zoom)
    tpx = 256
    ps_s = sspan / tpx
    ps_d = dspan / tpx
    lat_max = 85.05112877980659

    def merc_y(lat: float) -> float:
        c = min(max(lat, -lat_max), lat_max)
        return float(
            np.log(np.tan(np.pi / 4.0 + np.radians(c) / 2.0))
            / np.pi
            * grid.MERCATOR_HALF_WORLD
        )

    # cover assignment (same closed boundary convention as the SQL)
    cover: dict[tuple, list[tuple]] = {}
    for (tr, tc) in planes:
        lon_l = sl + tc * sspan
        lon_r = sl + (tc + 1) * sspan
        lat_t = st - tr * sspan
        lat_b = st - (tr + 1) * sspan
        y_t, y_b = merc_y(lat_t), merc_y(lat_b)
        if not y_t > y_b:
            continue  # fully poleward of the mercator domain
        x_l = lon_l * grid.MERCATOR_HALF_WORLD / 180.0
        x_r = lon_r * grid.MERCATOR_HALF_WORLD / 180.0
        r_lo = int(min(max(np.floor((dtop - y_t) / dspan), 0.0), dn - 1))
        r_hi = int(min(max(np.floor((dtop - y_b) / dspan), 0.0), dn - 1))
        c_lo = int(min(max(np.floor((x_l - dl) / dspan), 0.0), dcols - 1))
        c_hi = int(min(max(np.floor((x_r - dl) / dspan), 0.0), dcols - 1))
        for drow in range(r_lo, r_hi + 1):
            for dcol in range(c_lo, c_hi + 1):
                cover.setdefault((drow, dcol), []).append((tr, tc))

    out: list[tuple] = []
    for (drow, dcol), srcs in cover.items():
        xs = dl + dcol * dspan + (np.arange(tpx) + 0.5) * ps_d
        ys = dtop - drow * dspan - (np.arange(tpx) + 0.5) * ps_d
        lon, lat = grid.mercator_to_lonlat(xs, ys)
        gcol = np.floor((lon - sl) / ps_s).astype(np.int64)
        grow = np.floor((st - lat) / ps_s).astype(np.int64)
        for b in range(_BANDS):
            canvas = np.zeros((tpx, tpx), dtype=np.uint8)
            n_src = 0
            touched = 0
            for (tr, tc) in srcs:
                r0, c0 = tr * tpx, tc * tpx
                rmask = (grow >= r0) & (grow < r0 + tpx)
                cmask = (gcol >= c0) & (gcol < c0 + tpx)
                if not rmask.any() or not cmask.any():
                    continue
                plane = planes[(tr, tc)][:, :, b]
                canvas[np.ix_(rmask, cmask)] = plane[
                    np.ix_(grow[rmask] - r0, gcol[cmask] - c0)
                ]
                n_src += counts[(tr, tc)]
                touched += 1
            if touched == 0:
                continue
            out.append(
                (zoom, drow, dcol, b, n_src,
                 zlib.crc32(np.ascontiguousarray(canvas).tobytes()))
            )
    return out
