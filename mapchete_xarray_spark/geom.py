"""Minimal computational geometry — pure numpy (no shapely/GEOS in
this sandbox).

Implements exactly what the spatial operators need, from public
textbook algorithms:

- ``BoxGrid``: uniform bucket grid over rectangles (CSR list of boxes
  per cell), the one AOI index: the PIP join's per-batch point →
  envelope filter (one cell lookup, one ``np.repeat`` and the
  inclusive envelope test) and the tile → zone box-overlap queries of
  ``operators/zonal.py`` and ``operators/rasterize.py``.
- ``EdgeTable``: every ring edge of every polygon in one CSR table;
  ray-casts all (point, polygon) candidate pairs of a batch in one
  pass (the PIP join's refine).
- ``points_in_polygon``: even-odd ray casting, vectorized over the
  point axis, with an on-edge-inclusive tolerance-free convention:
  boundary points count as inside iff the ray-cast parity says so
  (standard half-open crossing rule — deterministic, matches the
  brute-force oracle in tests by construction).  Accepts a single
  ring OR a list of rings: total crossing parity over ALL edges
  handles interior rings (holes) and disjoint MultiPolygon parts in
  one pass — a point inside a hole crosses both the exterior and the
  hole ring → even parity → outside, with zero special-casing.
- tiny WKB (de)serialization for Polygon (with interior rings) and
  MultiPolygon (shapely analog used by the reference only for bbox
  intersects — ``_input.py:211``; holes/multiparts are our
  north-star extension beyond the reference's envelope gate).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "BoxGrid",
    "EdgeTable",
    "points_in_polygon",
    "polygon_wkb",
    "multipolygon_wkb",
    "wkb_polygon",
    "wkb_rings",
    "polygon_bounds",
]


# ---------------------------------------------------------------------------
# WKB Polygon / MultiPolygon (little-endian)
# ---------------------------------------------------------------------------

def _close_ring(coords) -> np.ndarray:
    c = np.asarray(coords, dtype=np.float64)
    if not (c[0] == c[-1]).all():
        c = np.vstack([c, c[:1]])
    return c


def _as_ring_list(rings) -> list[np.ndarray]:
    """Normalize ring / list-of-rings input to a list of closed rings."""
    if isinstance(rings, np.ndarray):
        return [_close_ring(rings)]
    return [_close_ring(r) for r in rings]


def polygon_wkb(rings) -> bytes:
    """Polygon WKB from one (n, 2) ring or a list of rings
    (first = exterior, rest = interior holes; closed or open — we
    close them)."""
    rr = _as_ring_list(rings)
    out = [struct.pack("<BII", 1, 3, len(rr))]  # LE, Polygon, nrings
    for c in rr:
        out.append(struct.pack("<I", len(c)))
        out.append(c.astype("<f8").tobytes())
    return b"".join(out)


def multipolygon_wkb(parts) -> bytes:
    """MultiPolygon WKB from a list of parts, each a ring or a list
    of rings (exterior + holes)."""
    out = [struct.pack("<BII", 1, 6, len(parts))]  # LE, MultiPolygon, nparts
    for p in parts:
        out.append(polygon_wkb(p))
    return b"".join(out)


def _parse_polygon_rings(wkb: bytes, off: int) -> tuple[list[np.ndarray], int]:
    """Parse the body of one LE Polygon starting at its byte-order
    byte; returns (rings, next offset)."""
    byte_order, geom_type = struct.unpack_from("<BI", wkb, off)
    if byte_order != 1 or geom_type != 3:
        raise ValueError("only little-endian WKB Polygon parts supported")
    (nrings,) = struct.unpack_from("<I", wkb, off + 5)
    if nrings < 1:
        raise ValueError("empty polygon")
    off += 9
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from("<I", wkb, off)
        off += 4
        rings.append(
            np.frombuffer(wkb, dtype="<f8", count=npts * 2, offset=off).reshape(npts, 2)
        )
        off += npts * 16
    return rings, off


def wkb_rings(wkb: bytes) -> list[np.ndarray]:
    """WKB Polygon or MultiPolygon → flat list of closed (n, 2)
    rings (exteriors + holes of every part).  Even-odd parity over
    this flat list is exactly the containment test for the geometry,
    provided parts are disjoint and holes nest properly (the OGC
    validity contract)."""
    byte_order, geom_type = struct.unpack_from("<BI", wkb, 0)
    if byte_order != 1:
        raise ValueError("only little-endian WKB supported")
    if geom_type == 3:
        return _parse_polygon_rings(wkb, 0)[0]
    if geom_type == 6:
        (nparts,) = struct.unpack_from("<I", wkb, 5)
        off = 9
        rings: list[np.ndarray] = []
        for _ in range(nparts):
            rr, off = _parse_polygon_rings(wkb, off)
            rings.extend(rr)
        return rings
    raise ValueError(f"unsupported WKB geometry type {geom_type}")


def wkb_polygon(wkb: bytes) -> np.ndarray:
    """WKB single-ring Polygon → (n, 2) exterior ring coords
    (closed).  STRICT: raises on interior rings or MultiPolygon so a
    hole can never be silently dropped — multi-ring consumers use
    ``wkb_rings``."""
    rings = wkb_rings(wkb)
    if len(rings) != 1:
        raise ValueError(
            f"geometry has {len(rings)} rings; use wkb_rings for holes/multiparts"
        )
    return rings[0]


def polygon_bounds(rings) -> tuple[float, float, float, float]:
    """Union envelope of one ring or a (possibly nested) list of
    rings."""
    if isinstance(rings, np.ndarray):
        c = np.asarray(rings, dtype=np.float64)
    else:
        flat: list[np.ndarray] = []
        for r in rings:
            if isinstance(r, np.ndarray):
                flat.append(np.asarray(r, dtype=np.float64))
            else:
                flat.extend(np.asarray(q, dtype=np.float64) for q in r)
        c = np.vstack(flat)
    return (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())


# ---------------------------------------------------------------------------
# ray casting
# ---------------------------------------------------------------------------

def _crossings(px, py, x0, y0, x1, y1) -> np.ndarray:
    """Elementwise (broadcasting) crossing rule of the even-odd test:
    the edge (x0, y0) → (x1, y1) has one endpoint strictly above the
    point's y and the other at-or-below (half-open in y), and the
    intersection lies strictly to the right of the point — the classic
    Franklin PNPOLY convention.  Every ray-cast in the package goes
    through this one expression, so their results are bit-identical
    (the DuckDB oracle of ``pip_polygon_strtree`` transcribes the same
    operand order)."""
    cond = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) / (y1 - y0) * (x1 - x0)
    return cond & (px < xint)


def _expand(start: np.ndarray, count: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """CSR expansion: (owner, index) of every slot ``start[i] …
    start[i] + count[i] - 1``, owner by owner."""
    owner = np.repeat(np.arange(len(count)), count)
    idx = np.repeat(start - (np.cumsum(count) - count), count) + np.arange(len(owner))
    return owner, idx


def _ring_edges(rings: list[np.ndarray]) -> tuple[np.ndarray, ...]:
    """(x0, y0, x1, y1) of every edge of closed rings; a closed ring's
    edges are ring[:-1] → ring[1:], so no cross-ring edge appears."""
    if not rings:
        e = np.empty(0, dtype=np.float64)
        return e, e, e, e
    return (
        np.concatenate([r[:-1, 0] for r in rings]),
        np.concatenate([r[:-1, 1] for r in rings]),
        np.concatenate([r[1:, 0] for r in rings]),
        np.concatenate([r[1:, 1] for r in rings]),
    )


def points_in_polygon(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    """Vectorized even-odd test of points against a polygon geometry.

    px, py: (n,) point coords; ring: (m, 2) closed ring OR a list of
    closed rings (exterior(s) + holes — parity over all edges).
    Returns (n,) bool; crossing rule: ``_crossings``.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x0, y0, x1, y1 = _ring_edges([ring] if isinstance(ring, np.ndarray) else ring)
    # (n, m) edge conditions; m is small (AOI rings 6-16 vertices)
    crossings = _crossings(
        px[:, None], py[:, None], x0[None, :], y0[None, :], x1[None, :], y1[None, :]
    )
    return crossings.sum(axis=1) % 2 == 1


class EdgeTable:
    """Every edge of every ring of n polygon geometries in one CSR
    table: geometry g owns edges ``start[g] : start[g] + count[g]`` of
    (x0, y0, x1, y1).  ``contains`` ray-casts a whole batch of
    (point, geometry) pairs in one vectorized pass."""

    def __init__(self, geoms: list[list[np.ndarray]]):
        """geoms: per geometry, its list of closed rings (``wkb_rings``)."""
        self.x0, self.y0, self.x1, self.y1 = _ring_edges([r for g in geoms for r in g])
        self.count = np.array(
            [sum(len(r) - 1 for r in g) for g in geoms], dtype=np.int64
        )
        self.start = np.cumsum(self.count) - self.count

    def contains(self, px: np.ndarray, py: np.ndarray, geom: np.ndarray) -> np.ndarray:
        """(n,) bool: point i inside geometry ``geom[i]``; equals
        ``points_in_polygon(px[i:i+1], py[i:i+1], rings of geom[i])``
        bit for bit.  Each pair expands to its geometry's edges, and
        crossings are summed per pair with one ``np.bincount``."""
        pair, edge = _expand(self.start[geom], self.count[geom])
        hit = _crossings(
            px[pair], py[pair], self.x0[edge], self.y0[edge], self.x1[edge], self.y1[edge]
        )
        return np.bincount(pair[hit], minlength=len(geom)) % 2 == 1


# ---------------------------------------------------------------------------
# uniform bucket grid
# ---------------------------------------------------------------------------

class BoxGrid:
    """Uniform grid over n rectangles with a CSR list of boxes per cell
    (``offsets`` into ``cell_boxes``; boxes in table order within a
    cell).  The grid spans the union envelope; the square cell side is
    the median box extent, widened until the grid has at most
    ``MAX_CELLS`` cells and at most ``MAX_CELLS + 4 n`` (box, cell)
    entries, so a table of huge boxes cannot blow up the lists.

    A box is listed in every cell between its floored corners, and a
    point's cell is floored by the same expression; floor is monotone,
    so every box that contains a point (inclusive edges) is listed in
    the point's cell."""

    MAX_CELLS = 1 << 16

    def __init__(self, boxes: np.ndarray):
        """boxes: (n, 4) [minx, miny, maxx, maxy]."""
        boxes = np.asarray(boxes, dtype=np.float64)
        if boxes.ndim != 2 or boxes.shape[1] != 4:
            raise ValueError("boxes must be (n, 4)")
        if not np.isfinite(boxes).all():
            raise ValueError("boxes must be finite")
        self.boxes = boxes
        n = len(boxes)
        if n == 0:
            self.x0 = self.y0 = 0.0
            self.side = 1.0
            self.nx = self.ny = 0
            self.offsets = np.zeros(1, dtype=np.int64)
            self.cell_boxes = np.empty(0, dtype=np.int64)
            return
        self.x0, self.y0 = float(boxes[:, 0].min()), float(boxes[:, 1].min())
        span = max(float(boxes[:, 2].max()) - self.x0, float(boxes[:, 3].max()) - self.y0)
        side = float(np.median(np.maximum(boxes[:, 2] - boxes[:, 0], boxes[:, 3] - boxes[:, 1])))
        self.side = max(side, span / np.sqrt(self.MAX_CELLS)) or 1.0
        while True:
            cx0, cy0 = self._cell(boxes[:, 0], boxes[:, 1])
            cx1, cy1 = self._cell(boxes[:, 2], boxes[:, 3])
            self.nx, self.ny = int(cx1.max()) + 1, int(cy1.max()) + 1
            per_box = (cx1 - cx0 + 1) * (cy1 - cy0 + 1)
            if (
                self.nx * self.ny <= self.MAX_CELLS
                and per_box.sum() <= self.MAX_CELLS + 4 * n
            ):
                break
            self.side *= 2.0
        cx0, cy0, cx1, cy1, per_box = (
            a.astype(np.int64) for a in (cx0, cy0, cx1, cy1, per_box)
        )
        # explode each box to its cells: k-th entry of box b is cell
        # (cx0 + k % w, cy0 + k // w) with w its width in cells
        box, k = _expand(np.zeros(n, dtype=np.int64), per_box)
        w = (cx1 - cx0 + 1)[box]
        cell = (cy0[box] + k // w) * self.nx + cx0[box] + k % w
        order = np.argsort(cell, kind="stable")
        self.cell_boxes = box[order]
        self.offsets = np.zeros(self.nx * self.ny + 1, dtype=np.int64)
        np.cumsum(np.bincount(cell, minlength=self.nx * self.ny), out=self.offsets[1:])

    def _cell(self, x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Floored (float) cell coordinates; the one expression boxes,
        points and query boxes share."""
        return np.floor((x - self.x0) / self.side), np.floor((y - self.y0) / self.side)

    def query_points(self, px: np.ndarray, py: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Bulk query: (point_idx, box_idx) pairs where the point lies
        within the box (inclusive edges).  Points with a non-finite
        coordinate or outside the grid match nothing: they are masked
        on the float cell coordinates, before any integer cast."""
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        with np.errstate(invalid="ignore"):
            fx, fy = self._cell(px, py)
            ok = (fx >= 0) & (fx < self.nx) & (fy >= 0) & (fy < self.ny)
        p = np.flatnonzero(ok)
        cell = fy[p].astype(np.int64) * self.nx + fx[p].astype(np.int64)
        start = self.offsets[cell]
        owner, pos = _expand(start, self.offsets[cell + 1] - start)
        p, box = p[owner], self.cell_boxes[pos]
        b = self.boxes[box]
        hit = (px[p] >= b[:, 0]) & (px[p] <= b[:, 2]) & (py[p] >= b[:, 1]) & (py[p] <= b[:, 3])
        return p[hit], box[hit]

    def query_boxes(self, qboxes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Bulk query: (query_idx, box_idx) pairs whose boxes overlap
        (inclusive edges: ``q.minx <= b.maxx & q.maxx >= b.minx``, the
        same in y), each pair once, sorted by (query, box) — box order
        is table order.  A query's floored corner cells are clipped to
        the grid; a query wholly outside the grid, inverted
        (min > max) or with a NaN corner matches nothing.  Any point
        of an overlap lies in a cell both boxes cover (floor is
        monotone), so every overlapping box is listed in one of the
        query's cells; duplicates from boxes listed in several cells
        are dropped."""
        q = np.asarray(qboxes, dtype=np.float64).reshape(-1, 4)
        with np.errstate(invalid="ignore"):
            fx0, fy0 = self._cell(q[:, 0], q[:, 1])
            fx1, fy1 = self._cell(q[:, 2], q[:, 3])
            ok = (
                (fx0 <= fx1) & (fy0 <= fy1)
                & (fx1 >= 0) & (fx0 < self.nx) & (fy1 >= 0) & (fy0 < self.ny)
            )
        qi = np.flatnonzero(ok)
        cx0, cy0 = (np.maximum(f[qi], 0).astype(np.int64) for f in (fx0, fy0))
        cx1 = np.minimum(fx1[qi], self.nx - 1).astype(np.int64)
        cy1 = np.minimum(fy1[qi], self.ny - 1).astype(np.int64)
        # explode each query to its cells, as the boxes were in __init__
        w = cx1 - cx0 + 1
        owner, k = _expand(np.zeros(len(qi), dtype=np.int64), w * (cy1 - cy0 + 1))
        cell = (cy0[owner] + k // w[owner]) * self.nx + cx0[owner] + k % w[owner]
        start = self.offsets[cell]
        slot, pos = _expand(start, self.offsets[cell + 1] - start)
        qq, box = qi[owner[slot]], self.cell_boxes[pos]
        a, b = q[qq], self.boxes[box]
        hit = (a[:, 0] <= b[:, 2]) & (a[:, 2] >= b[:, 0]) & (a[:, 1] <= b[:, 3]) & (a[:, 3] >= b[:, 1])
        n = max(len(self.boxes), 1)
        pair = np.unique(qq[hit] * n + box[hit])
        return pair // n, pair % n
