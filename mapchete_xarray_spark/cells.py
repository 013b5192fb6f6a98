"""Hierarchical cell IDs (S2/H3-style) over the tile pyramids.

No H3/S2 native libs exist in this sandbox, so the engine's cell system
is the pyramid grid itself with an interleaved-Morton (Z-order) integer
encoding — the same trick S2 uses (Hilbert) and quadkeys use (Morton):

    cell_id(zoom,row,col) = (zoom << 58) | interleave2(col, row)

Properties the spatial operators rely on:

- **Hierarchy**: the Morton code of the parent (zoom-1) cell is the
  child's code >> 2 — ``cell_parent`` is a shift, usable as a Catalyst
  expression for multi-resolution rollups.
- **Locality**: Z-order keeps most neighbors numerically close, so
  ``repartitionByRange("cell_id")`` co-locates spatial neighborhoods.
- **Ring expansion**: ``cell_ring(zoom,row,col,k)`` enumerates the
  square ring at Chebyshev distance k (a kNN disk is the union of
  rings 0..R; ``operators/knn.py`` explodes it in Spark SQL).

All functions vectorized numpy; 64-bit safe to zoom 28 (2*29 bits of
row/col + 6 bits of zoom).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "interleave2",
    "deinterleave2",
    "cell_id",
    "cell_decode",
    "cell_parent",
    "cell_to_quadkey",
    "cell_ring",
    "cell_disk",
]

_MAX_ZOOM = 28


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 29 bits of v so bit i moves to bit 2i."""
    v = v.astype(np.uint64) & np.uint64(0x1FFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def interleave2(col, row) -> np.ndarray:
    """Morton code: even bits ← col, odd bits ← row."""
    col = np.asarray(col)
    row = np.asarray(row)
    return (_part1by1(col) | (_part1by1(row) << np.uint64(1))).astype(np.int64)


def deinterleave2(code):
    code = np.asarray(code).astype(np.uint64)
    col = _compact1by1(code)
    row = _compact1by1(code >> np.uint64(1))
    return row.astype(np.int64), col.astype(np.int64)


def cell_id(zoom, row, col) -> np.ndarray:
    """64-bit cell id: zoom in the top bits, Morton(col,row) below."""
    zoom = np.asarray(zoom, dtype=np.int64)
    if np.any(zoom > _MAX_ZOOM):
        raise ValueError(f"zoom > {_MAX_ZOOM} overflows 64-bit cell ids")
    return (zoom.astype(np.int64) << np.int64(58)) | interleave2(col, row)


def cell_decode(cid):
    cid = np.asarray(cid, dtype=np.int64)
    zoom = (cid >> np.int64(58)).astype(np.int64)
    row, col = deinterleave2(cid & np.int64((1 << 58) - 1))
    return zoom, row, col


def cell_parent(cid, steps: int = 1) -> np.ndarray:
    """Cell id of the ancestor ``steps`` zoom levels up (pure bit math)."""
    zoom, row, col = cell_decode(cid)
    if np.any(zoom - steps < 0):
        raise ValueError("cell_parent below zoom 0")
    return cell_id(zoom - steps, row >> steps, col >> steps)


def cell_to_quadkey(cid) -> list[str]:
    """Bing-style quadkey strings (debug/interchange)."""
    zoom, row, col = cell_decode(np.atleast_1d(cid))
    out = []
    for z, r, c in zip(zoom.tolist(), row.tolist(), col.tolist()):
        qk = []
        for i in range(z, 0, -1):
            digit = ((c >> (i - 1)) & 1) | (((r >> (i - 1)) & 1) << 1)
            qk.append(str(digit))
        out.append("".join(qk))
    return out


def cell_ring(row: int, col: int, k: int, nrows: int, ncols: int, wrap_x: bool = False):
    """(row, col) pairs at exactly Chebyshev distance k (the k-ring
    boundary), clipped to the matrix; ``wrap_x`` wraps columns across
    the antimeridian (geodetic/mercator grids are x-periodic).

    k=0 → the cell itself.  Returns two int64 arrays (rows, cols).
    When the ring width 2k+1 exceeds ncols under wrap_x, wrapped
    columns alias — each (row, col) is returned exactly once.
    """
    if k == 0:
        return np.array([row], dtype=np.int64), np.array([col], dtype=np.int64)
    rs, cs = [], []
    for dr in range(-k, k + 1):
        if abs(dr) == k:
            cols = range(col - k, col + k + 1)
        else:
            cols = (col - k, col + k)
        for c in cols:
            rs.append(row + dr)
            cs.append(c)
    rs = np.array(rs, dtype=np.int64)
    cs = np.array(cs, dtype=np.int64)
    keep = (rs >= 0) & (rs < nrows)
    rs, cs = rs[keep], cs[keep]
    if wrap_x:
        cs = np.mod(cs, ncols)
        rs, cs = _unique_cells(rs, cs, ncols)
    else:
        keep = (cs >= 0) & (cs < ncols)
        rs, cs = rs[keep], cs[keep]
    return rs, cs


def _unique_cells(rs: np.ndarray, cs: np.ndarray, ncols: int):
    """First occurrence of each (row, col), original order preserved —
    wrapped rings/disks must not emit a cell twice (a kNN frontier
    would re-search or double-count it)."""
    key = rs * np.int64(ncols) + cs
    _, idx = np.unique(key, return_index=True)
    idx = np.sort(idx)
    return rs[idx], cs[idx]


def cell_disk(row: int, col: int, k: int, nrows: int, ncols: int, wrap_x: bool = False):
    """All cells within Chebyshev distance k (filled disk); under
    wrap_x, outer-ring cells that wrap onto inner cells are deduped
    so every cell appears once."""
    rs, cs = [], []
    for i in range(k + 1):
        r, c = cell_ring(row, col, i, nrows, ncols, wrap_x)
        rs.append(r)
        cs.append(c)
    out_r, out_c = np.concatenate(rs), np.concatenate(cs)
    if wrap_x:
        out_r, out_c = _unique_cells(out_r, out_c, ncols)
    return out_r, out_c
