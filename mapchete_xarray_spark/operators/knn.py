"""Exact kNN join in one pass, planned from a two-level cell histogram
(north_star op).

For each query point, find its k nearest data points.  Two metrics:

- planar Euclidean on lon/lat degrees (default — the reference
  likewise treats CRS units as planar);
- ``haversine=True``: great-circle meters.  Degrees-Euclidean misranks
  high-latitude neighbors (a degree of longitude shrinks by cos φ), so
  real lon/lat kNN needs this.  The distance expression is the
  textbook haversine, written with explicit multiplication (no pow)
  and an asin argument clamp so the DuckDB oracle can transcribe it
  token-for-token.

Cells are geodetic tiles at ``zoom`` (coarse, span s) and at
``zoom + FINE_DZ`` (fine, span s / 2^FINE_DZ).  The answer takes one
data scan and one join; there is no search loop:

1. **Histogram.**  One aggregate counts the data points per fine cell
   (points outside lon [-180, 180] × lat [-90, 90] are not counted).
   The driver keeps the coarse counts of every cell, and the fine
   counts of the *dense* coarse cells only — those whose fine cells
   average ≥ 1/4 point (the k = 1 threshold, so one histogram serves
   every k) — densest first, at most ``sizing.MAX_DRIVER_ROWS`` fine
   cells.  It is cached per data version: the plan's semanticHash plus
   a digest of the input-file listing (a file overwritten at the same
   path gets new part-file names, so it misses the cache).
2. **Plan** (driver, numpy).  Per query cell, R0 is the smallest
   Chebyshev disk radius (in cells) whose disk holds ≥ k counted
   points, from 2-D prefix sums.  A fine cell of a non-dense parent
   counts 0, which can only enlarge R0.  The k points of that disk
   bound the kth-nearest distance of any query in the cell, and the
   search radius R puts every point that could tie or beat it inside
   the searched disk:

   - planar: the disk's points lie within √2·(R0+1)·span of any point
     of the query's cell, and any point of a cell outside the disk of
     radius R is at least R·span away, so R = ⌊√2·(R0+1)⌋ + 1 is exact
     (R·span is strictly larger, so ties at the kth distance are in).
   - haversine: columns wrap modulo the grid width (longitude is
     circular; the column offset range is capped at one revolution).
     d_up bounds the distance from the query's cell to any point of
     the R0 disk (haversine of the disk's latitude and longitude
     extents, cos φ at the band's equator-ward latitude); R is the
     smallest radius whose *escape bound* — the minimum great-circle
     distance to any unsearched cell, taken at the cell's pole-ward
     latitude — exceeds d_up.  Vertical escape ≥ R_e·radians(R·s);
     horizontal escape, split at any t0: an unsearched same-band point
     either moved ≥ t0 in latitude or sits within |φ| + t0, where cos
     is bounded, so dist ≥ min(R_e·rad(t0), 2·R_e·asin(√(cos φ·
     cos(φ + t0))·sin(rad(R·s)/2))) — the maximum over a small t0
     grid stays positive near the poles.

   If fewer than k points exist at all, a query searches the whole
   grid.  A fine cell of a dense parent takes the fine plan when its
   disk (kept inside the parent's 3×3 neighborhood) explodes fewer
   frontier cells plus candidate points than the coarse plan; a dense
   city cell then searches a few fine cells instead of the whole city.
3. **One join.**  The plan travels with the queries as two binary
   literals (a radius and a fine block per coarse cell; a radius per
   fine cell of each block), so queries are never collected and no
   plan table needs a broadcast job of its own.  Each query is
   exploded to the cells of its disk with ``sequence``; each data
   point carries its coarse cell key, and its fine cell key too when a
   fine disk can reach its coarse cell.  A key is the cell's row-major
   index at its level, doubled, plus 1 at the fine level (cheaper to
   analyze than a morton cell id, and just as unique).  The data is
   equi-joined with the frontier — ``sizing.broadcast_or_shuffle``
   picks the strategy, so the data table is never shuffled while the
   frontier fits a broadcast — and the ``(dist, id)`` window top-k
   finishes every query.  A warm call (cached histogram) runs three
   Spark jobs: the frontier broadcast, the scan with the join and the
   partial top-k, and the final top-k.  The result equals brute force
   exactly (tests + DuckDB oracles with (dist, id) tie-breaking).
"""

from __future__ import annotations

import hashlib
import math
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sizing
from ..functions import portable

# fine cells are FINE_DZ zooms below the coarse ones: 4^FINE_DZ per parent
FINE_DZ = 6
_SIDE = 1 << FINE_DZ
# a coarse cell is dense (its fine counts are kept) when its fine cells
# average >= 1/4 point — the k = 1 threshold of "averages >= k/4"
_DENSE_MIN = _SIDE * _SIDE // 4

# fine radius (uint8) of a fine cell that keeps its coarse cell's plan
_USE_COARSE = 255
# points the histogram counts: the ones inside the cell they are tiled to
# (NaN fails too); queries outside it search the whole grid
_IN_EXTENT = "{lon} BETWEEN -180.0 AND 180.0 AND {lat} BETWEEN -90.0 AND 90.0"

# (plan semanticHash, input-files digest) → _Histogram, at most 64 entries
_HIST_CACHE: dict[tuple, "_Histogram"] = {}
_HIST_CACHE_MAX = 64

# last-call observability (histogram wall / cache hit / rounds), read
# by bench.py without threading a stats dict through the query registry
LAST_STATS: dict = {}

# mean earth radius (IUGG), meters — same literal in the DuckDB oracle
EARTH_RADIUS_M = 6371008.8

HAVERSINE_SQL = (
    "2 * 6371008.8 * asin(least(1.0, sqrt("
    "sin(radians(({dlat} - {qlat}) / 2)) * sin(radians(({dlat} - {qlat}) / 2)) "
    "+ cos(radians({qlat})) * cos(radians({dlat})) "
    "* sin(radians(({dlon} - {qlon}) / 2)) * sin(radians(({dlon} - {qlon}) / 2))"
    ")))"
)


@dataclass
class _Histogram:
    coarse: np.ndarray  # (nrows, ncols) point counts at zoom
    fine: dict  # (row, col) of a dense coarse cell → (_SIDE, _SIDE) counts
    plans: dict = field(default_factory=dict)  # (k, haversine) → _Plan


@dataclass
class _Plan:
    # per coarse cell (row-major): search radius and 1-based fine block
    # (0: none), big-endian uint16 each
    coarse: bytes
    # per fine block: the radii of its 4^FINE_DZ fine cells (row-major),
    # uint8, _USE_COARSE where the coarse plan is cheaper
    fine: bytes
    reach: list  # coarse cell indexes a fine disk can touch
    max_cells: int  # largest frontier explode of one query


def knn_join(
    data: DataFrame,
    queries: DataFrame,
    k: int,
    zoom: int = 6,
    grid: str = "geodetic",
    id_col: str = "key",
    qid_col: str = "qkey",
    lon: str = "lon",
    lat: str = "lat",
    haversine: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """Returns (qid, id, dist, rn) — exactly k rows per query (fewer
    iff the whole data table has < k rows), ranked by (dist, id).

    ``haversine=True`` returns dist in great-circle METERS.  Cells are
    geodetic tiles at ``zoom``; ``grid`` must be ``"geodetic"`` (the
    plan bounds distances in degrees and meters from lon/lat cells).

    ``stats`` (optional dict) receives {"rounds": 1, "hist_cached",
    "hist_wall_s", "fine_parents"} for observability."""
    if grid != "geodetic":
        raise ValueError(
            "knn_join plans from lon/lat cells: it requires grid='geodetic'"
        )
    if k < 1:
        raise ValueError(f"knn_join needs k >= 1, got {k}")
    _, _, span, nrows, ncols = portable.grid_params(grid, zoom)
    if nrows * ncols > sizing.MAX_DRIVER_ROWS:
        raise ValueError(f"zoom {zoom} has too many cells for the kNN plan table")
    # haversine distance is periodic in longitude: tile a point by its
    # longitude mod 360, or one at lon 200 lands in the last column
    # while it lies at -160 (planar: the clamped edge cell only makes
    # such a point farther than its cell, which the plan tolerates)
    x = f"(pmod(`{lon}` + 180.0, 360.0) - 180.0)" if haversine else f"`{lon}`"
    fr, fc = portable.lonlat_tile_sql(x, f"`{lat}`", grid, zoom + FINE_DZ)
    # SQL text rather than Column trees: every Column call is a py4j
    # round trip, and they made the plan build cost more than the join
    d = data.selectExpr(
        f"`{id_col}` AS _did", f"`{lon}` AS _dlon", f"`{lat}` AS _dlat",
        f"{fr} AS _frow", f"{fc} AS _fcol",
    )
    q = queries.selectExpr(
        f"`{qid_col}` AS _qid", f"`{lon}` AS _qlon", f"`{lat}` AS _qlat",
        f"{fr} AS _frow", f"{fc} AS _fcol",
    )

    t0 = time.perf_counter()
    hist, cached = _cached_histogram(d, nrows, ncols)
    hist_wall = round(time.perf_counter() - t0, 3)
    plan = hist.plans.get((k, haversine))
    if plan is None:
        plan = hist.plans[(k, haversine)] = _plan(hist, k, haversine, span)
    LAST_STATS.update(hist_wall_s=hist_wall, hist_cached=cached, rounds=1)
    if stats is not None:
        stats.update(LAST_STATS, fine_parents=len(plan.fine) // (_SIDE * _SIDE))

    frontier = sizing.broadcast_or_shuffle(
        _frontier(q, plan, nrows, ncols, haversine),
        sizing.estimated_bytes(q) * plan.max_cells,
    )
    # join key: the cell's row-major index at its level, times 2, plus
    # 1 at the fine level
    coarse_key = f"{_pidx_sql(ncols)} * 2"
    key = coarse_key
    if plan.reach:
        # only points a fine disk can reach carry their fine key too
        fine_key = f"(_frow * {ncols * _SIDE} + _fcol) * 2 + 1"
        reach = ", ".join(map(str, plan.reach))
        near = f"{_pidx_sql(ncols)} IN ({reach})"
        key = (
            f"explode(IF({near}, array({coarse_key}, {fine_key}), "
            f"array({coarse_key})))"
        )
    d = d.selectExpr("_did", "_dlon", "_dlat", f"{key} AS _cell")
    if haversine:
        dist = HAVERSINE_SQL.format(
            dlat="_dlat", qlat="_qlat", dlon="_dlon", qlon="_qlon"
        )
    else:
        # (dx*dx + dy*dy) by multiplication, not pow(): bitwise
        # identical in every IEEE engine → oracle-stable ordering
        dist = (
            "sqrt((_dlon - _qlon) * (_dlon - _qlon)"
            " + (_dlat - _qlat) * (_dlat - _qlat))"
        )
    rn = "row_number() OVER (PARTITION BY _qid ORDER BY dist, _did)"
    return (
        d.join(frontier, "_cell")
        .selectExpr("_qid", "_did", f"{dist} AS dist")
        .selectExpr(
            f"_qid AS `{qid_col}`",
            f"_did AS `{id_col}`",
            "dist",
            f"cast({rn} AS int) AS rn",
        )
        .where(f"rn <= {k}")
    )


def _pidx_sql(ncols: int) -> str:
    """Row-major index of the coarse cell holding fine cell (_frow, _fcol)."""
    return f"(shiftright(_frow, {FINE_DZ}) * {ncols} + shiftright(_fcol, {FINE_DZ}))"


def _frontier(q, plan, nrows, ncols, haversine) -> DataFrame:
    """Every query exploded to the join keys of its planned disk's
    cells: (_qid, _qlon, _qlat, _cell).  The plan rides along as two
    binary literals indexed per query — a joined plan table would cost
    a broadcast job of its own."""
    s = _SIDE

    def uint(blob, pos, n):
        hex_ = f"hex(substring({blob}, cast({pos} AS int), {n}))"
        return f"cast(conv({hex_}, 16, 10) AS int)"

    local = f"pmod(_frow, {s}) * {s} + pmod(_fcol, {s})"
    rows = "sequence(greatest(-_r, -_prow), least(_r, _nr - 1 - _prow))"
    if haversine:
        # longitude is circular: at most one revolution of columns, so
        # no cell is visited twice
        cols = (
            "sequence(-least(_r, shiftright(_nc - 1, 1)), "
            "least(_r, shiftright(_nc, 1)))"
        )
        col = "pmod(_pcol + dc, _nc)"
    else:
        cols = "sequence(greatest(-_r, -_pcol), least(_r, _nc - 1 - _pcol))"
        col = "_pcol + dc"
    cells = (
        f"flatten(transform({rows}, dr -> transform({cols}, "
        f"dc -> ((_prow + dr) * _nc + {col}) * 2 + _lvl)))"
    )
    return (
        q.select(
            "*", F.lit(plan.coarse).alias("_cplan"), F.lit(plan.fine).alias("_fplan")
        )
        .selectExpr(
            "_qid",
            "_qlon",
            "_qlat",
            f"{_pidx_sql(ncols)} AS _pidx",
            f"{uint('_cplan', '_pidx * 4 + 3', 2)} AS _blk",
            f"IF(_blk > 0, {uint('_fplan', f'(_blk - 1) * {s * s} + {local} + 1', 1)}, "
            f"{_USE_COARSE}) AS _rfine",
            # a query outside the lon/lat extent is not inside the
            # cell it was clamped to, so no plan bounds it: it searches
            # the whole grid (exact; the broadcast estimate assumes
            # such queries are rare)
            f"NOT ({_IN_EXTENT.format(lon='_qlon', lat='_qlat')}) AS _out",
            f"NOT _out AND _rfine < {_USE_COARSE} AS _fine",
            f"IF(_fine, _rfine, IF(_out, {max(nrows, ncols) - 1}, "
            f"{uint('_cplan', '_pidx * 4 + 1', 2)})) AS _r",
            f"IF(_fine, _frow, shiftright(_frow, {FINE_DZ})) AS _prow",
            f"IF(_fine, _fcol, shiftright(_fcol, {FINE_DZ})) AS _pcol",
            f"IF(_fine, {nrows * s}, {nrows}) AS _nr",
            f"IF(_fine, {ncols * s}, {ncols}) AS _nc",
            "IF(_fine, 1, 0) AS _lvl",
        )
        .selectExpr("_qid", "_qlon", "_qlat", f"explode({cells}) AS _cell")
    )


# ---------------------------------------------------------------------------
# histogram (one aggregate, cached per data version)
# ---------------------------------------------------------------------------


def _cached_histogram(d: DataFrame, nrows: int, ncols: int):
    """(_Histogram, came from the cache)."""
    files = hashlib.md5("\n".join(sorted(d.inputFiles())).encode()).hexdigest()
    key = (d.semanticHash(), files)
    if key in _HIST_CACHE:
        return _HIST_CACHE[key], True
    hist = _histogram(d, nrows, ncols)
    if len(_HIST_CACHE) >= _HIST_CACHE_MAX:
        _HIST_CACHE.clear()  # tiny bound, simple reset
    _HIST_CACHE[key] = hist
    return hist, False


def _histogram(d: DataFrame, nrows: int, ncols: int) -> _Histogram:
    """Points per fine cell, aggregated once: the coarse counts of
    every cell, and the fine counts of the densest dense coarse cells
    up to ``sizing.MAX_DRIVER_ROWS`` fine cells."""
    fine = (
        d.where(_IN_EXTENT.format(lon="_dlon", lat="_dlat"))
        .groupBy("_frow", "_fcol")
        .agg(F.count(F.lit(1)).alias("n"))
        .selectExpr("*", f"{_pidx_sql(ncols)} AS _pidx")
        .persist()
    )
    try:
        parents = fine.groupBy("_pidx").agg(F.sum("n").alias("n")).toPandas()
        coarse = np.zeros(nrows * ncols, np.int64)
        coarse[parents._pidx.to_numpy()] = parents.n.to_numpy()
        dense = parents[parents.n >= _DENSE_MIN].sort_values(
            ["n", "_pidx"], ascending=[False, True]
        )
        dense = dense._pidx.head(sizing.MAX_DRIVER_ROWS // (_SIDE * _SIDE)).tolist()
        rows = (
            fine.where(F.col("_pidx").isin(dense))
            .select("_pidx", "_frow", "_fcol", "n")
            .toPandas()
        )
    finally:
        fine.unpersist()
    out = {}
    for pidx, g in rows.groupby("_pidx"):
        pr, pc = divmod(int(pidx), ncols)
        a = np.zeros((_SIDE, _SIDE), np.int64)
        a[g._frow.to_numpy() - pr * _SIDE, g._fcol.to_numpy() - pc * _SIDE] = g.n
        out[(pr, pc)] = a
    return _Histogram(coarse.reshape(nrows, ncols), out)


# ---------------------------------------------------------------------------
# plan (driver, numpy)
# ---------------------------------------------------------------------------


def _prefix(counts: np.ndarray, wrap: bool) -> np.ndarray:
    """2-D inclusive prefix sums with a zero border; ``wrap`` tiles
    the columns three times so wrapped column windows are one slice."""
    c = np.concatenate([counts] * 3, axis=1) if wrap else counts
    p = np.zeros((c.shape[0] + 1, c.shape[1] + 1), np.int64)
    p[1:, 1:] = c.cumsum(0).cumsum(1)
    return p


def _col_window(r, ncols: int, wrap: bool):
    """(left, right) column offsets of a disk of radius r: one
    revolution at most when columns wrap."""
    if wrap:
        return np.minimum(r, (ncols - 1) // 2), np.minimum(r, ncols // 2)
    return r, r


def _disk_sum(p, rows, cols, r, nrows: int, ncols: int, wrap: bool):
    """Counted points in the Chebyshev disk of radius r around each
    (row, col), clipped to the grid rows (and columns unless wrap)."""
    r0 = np.maximum(rows - r, 0)
    r1 = np.minimum(rows + r, nrows - 1)
    a, b = _col_window(r, ncols, wrap)
    if wrap:
        c0, c1 = cols - a + ncols, cols + b + ncols
    else:
        c0, c1 = np.maximum(cols - a, 0), np.minimum(cols + b, ncols - 1)
    return _rect(p, r0, r1, c0, c1)


def _rect(p, r0, r1, c0, c1):
    """Sum over rows r0..r1 × columns c0..c1 (inclusive) of prefix p."""
    return p[r1 + 1, c1 + 1] - p[r0, c1 + 1] - p[r1 + 1, c0] + p[r0, c0]


def _smallest_disk(p, rows, cols, k, nrows, ncols, wrap, rmax):
    """Per cell, the smallest radius ≤ rmax whose disk holds ≥ k
    counted points, or -1 when even rmax does not."""
    lo = np.zeros(len(rows), np.int64)
    hi = np.full(len(rows), rmax, np.int64)
    while (lo < hi).any():
        mid = (lo + hi) // 2
        ok = _disk_sum(p, rows, cols, mid, nrows, ncols, wrap) >= k
        hi = np.where((lo < hi) & ok, mid, hi)
        lo = np.where((lo < hi) & ~ok, mid + 1, lo)
    found = _disk_sum(p, rows, cols, lo, nrows, ncols, wrap) >= k
    return np.where(found, lo, -1)


def _reach_m(row, r0, span: float, nrows: int):
    """Upper bound (m) on the great-circle distance from any point of
    a cell in ``row`` to any point of its Chebyshev disk of radius r0."""
    lo = np.maximum(row - r0, 0)
    hi = np.minimum(row + r0, nrows - 1)
    lat_n = 90.0 - lo * span
    lat_s = 90.0 - (hi + 1) * span
    # cos φ1·cos φ2 ≤ cos² of the band's equator-ward latitude
    phi = np.where((lat_n >= 0) & (lat_s <= 0), 0.0, np.minimum(abs(lat_n), abs(lat_s)))
    dphi = np.minimum((r0 + 1) * span, lat_n - lat_s)
    dlmb = np.minimum((r0 + 1) * span, 180.0)
    hav = np.sin(np.radians(dphi) / 2) ** 2 + (
        np.cos(np.radians(phi)) * np.sin(np.radians(dlmb) / 2)
    ) ** 2
    return 2 * EARTH_RADIUS_M * np.arcsin(np.minimum(1.0, np.sqrt(hav)))


def _escape_m(row, r, span: float, nrows: int, ncols: int):
    """Lower bound (m) on the great-circle distance from any point of
    a cell in ``row`` to any point of a cell outside its disk of
    radius r (columns wrapping); inf when the disk is the whole grid."""
    lat_a, lat_b = 90.0 - row * span, 90.0 - (row + 1) * span
    phi = np.maximum(abs(lat_a), abs(lat_b))  # pole-ward: cos is smallest
    v = EARTH_RADIUS_M * np.radians(r * span)
    a, b = _col_window(r, ncols, True)
    cols_covered = a + b + 1 >= ncols
    s_half = np.sin(np.radians(np.minimum(r * span, 180.0)) / 2.0)
    reach = (r + 1) * span
    h = np.zeros(np.broadcast(row, r).shape)
    for t0 in (reach, reach / 2, reach / 4, reach / 8, reach / 16):
        phi_far = np.minimum(90.0, phi + t0)
        harg = np.sqrt(np.cos(np.radians(phi)) * np.cos(np.radians(phi_far))) * s_half
        lon_b = 2.0 * EARTH_RADIUS_M * np.arcsin(np.minimum(harg, 1.0))
        h = np.maximum(h, np.minimum(EARTH_RADIUS_M * np.radians(t0), lon_b))
    bound = np.where(cols_covered, v, np.minimum(v, h))
    rows_covered = (row - r <= 0) & (row + r >= nrows - 1)
    return np.where(rows_covered & cols_covered, np.inf, bound)


def _search_radius(row, r0, span, nrows, ncols, haversine, rmax):
    """Per cell, the disk radius that holds every point as close as
    the kth point of its R0 disk; -1 where none ≤ rmax does."""
    if not haversine:
        r = np.floor(math.sqrt(2.0) * (r0 + 1)).astype(np.int64) + 1
        return np.where(r <= rmax, r, -1)
    radii = np.arange(rmax + 1)
    rows = np.unique(row)
    esc = _escape_m(rows[:, None], radii[None, :], span, nrows, ncols)
    need = _reach_m(row, r0, span, nrows) * (1 + 1e-9) + 1e-3  # mm of libm slack
    esc = esc[np.searchsorted(rows, row)]
    ok = (radii[None, :] >= r0[:, None]) & (esc > need[:, None])
    return np.where(ok.any(axis=1), ok.argmax(axis=1), -1)


def _plan(hist: _Histogram, k: int, haversine: bool, span: float) -> _Plan:
    """Search radius of every coarse cell, and of the fine cells of
    dense ones where a fine disk is cheaper (see the module docstring)."""
    counts = hist.coarse
    nrows, ncols = counts.shape
    rfull = max(nrows, ncols) - 1  # a disk this wide covers the grid
    rows, cols = np.divmod(np.arange(nrows * ncols), ncols)
    p = _prefix(counts, haversine)
    if counts.sum() < k:
        rc = np.full(nrows * ncols, rfull, np.int64)
    else:
        r0 = _smallest_disk(p, rows, cols, k, nrows, ncols, haversine, rfull)
        rc = _search_radius(rows, r0, span, nrows, ncols, haversine, rfull)
        rc = np.where(rc < 0, rfull, rc)
    cand_c = _disk_sum(p, rows, cols, rc, nrows, ncols, haversine)
    cost_c = (2 * rc + 1) ** 2 + cand_c
    blocks = np.zeros(nrows * ncols, np.int64)
    fine = []
    reach = set()
    max_cells = int(((2 * rc + 1) ** 2).max())
    for pr, pc in hist.fine:
        cost = cost_c[pr * ncols + pc]
        radii, cells = _fine_plan(hist, pr, pc, k, haversine, span, cost)
        if radii is None:
            continue
        fine.append(radii)
        blocks[pr * ncols + pc] = len(fine)
        max_cells = max(max_cells, cells)
        reach.update(r * ncols + c for _, _, r, c in _window(pr, pc, counts, haversine))
    coarse = np.stack([rc, blocks], axis=1).astype(">u2").tobytes()
    return _Plan(coarse, b"".join(a.tobytes() for a in fine), sorted(reach), max_cells)


def _window(pr, pc, counts, wrap):
    """(di, dj, row, col) of each grid cell in the 3×3 window around
    coarse cell (pr, pc), once each (columns wrap when ``wrap``; a grid
    under 3 columns wide would wrap onto itself)."""
    nrows, ncols = counts.shape
    seen = set()
    for di in (-1, 0, 1):
        for dj in (-1, 0, 1):
            r, c = pr + di, (pc + dj) % ncols if wrap else pc + dj
            if 0 <= r < nrows and 0 <= c < ncols and (r, c) not in seen:
                seen.add((r, c))
                yield di, dj, r, c


def _fine_plan(hist, pr, pc, k, haversine, span, cost_coarse):
    """(fine search radii of the 4^FINE_DZ fine cells of dense coarse
    cell (pr, pc), _USE_COARSE where the coarse plan is cheaper; the
    largest fine frontier), or (None, 0) when no fine cell gains.
    Counts come from the 3×3 coarse-cell window around it: known fine
    counts where a neighbour is dense; otherwise its coarse count bounds
    the candidates a fine disk may add there."""
    counts = hist.coarse
    nrows, ncols = counts.shape
    s = _SIDE
    win = np.zeros((3 * s, 3 * s), np.int64)
    unknown = np.zeros((3, 3), np.int64)
    for di, dj, r_, c_ in _window(pr, pc, counts, haversine):
        a = hist.fine.get((r_, c_))
        if a is None:
            unknown[di + 1, dj + 1] = counts[r_, c_]
        else:
            win[(di + 1) * s : (di + 2) * s, (dj + 1) * s : (dj + 2) * s] = a
    p = _prefix(win, False)
    li, lj = np.divmod(np.arange(s * s), s)
    li, lj = li + s, lj + s
    r0 = _smallest_disk(p, li, lj, k, 3 * s, 3 * s, False, 3 * s - 1)
    frow = pr * s + li - s  # global fine row
    rf = _search_radius(
        frow, np.maximum(r0, 0), span / s, nrows * s, ncols * s, haversine, 2 * s
    )
    # keep the fine disk inside the window, where its candidates are bounded
    room = np.minimum(np.minimum(li, 3 * s - 1 - li), np.minimum(lj, 3 * s - 1 - lj))
    ok = (r0 >= 0) & (rf >= 0) & (rf <= room)
    rf = np.where(ok, rf, 0)
    cand = _disk_sum(p, li, lj, rf, 3 * s, 3 * s, False)
    pu = _prefix(unknown, False)
    cand += _rect(pu, (li - rf) // s, (li + rf) // s, (lj - rf) // s, (lj + rf) // s)
    cells = (2 * rf + 1) ** 2
    ok &= cells + cand < cost_coarse
    if not ok.any():
        return None, 0
    return np.where(ok, rf, _USE_COARSE).astype(np.uint8), int(cells[ok].max())
