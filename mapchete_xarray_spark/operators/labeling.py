"""Raster connected-component labeling — GDAL ``polygonize``'s
region-extraction core (same-valued 4-connected pixel regions →
features) at archive scale.

The classic algorithm is global flood fill — inherently serial.  The
distributed decomposition here is the standard stitching shape (and
the inverse of ``rasterize``'s burn, closing the raster→vector loop):

1. **Per-tile labeling, map-only**: each tile plane is labeled
   independently (two-pass run-based union-find, vectorized row runs
   — no scipy in this sandbox), and ONE unified scan emits (a) one
   NODE row per local component — value, pixel count, global-pixel
   bbox — and (b) the tile's four BORDER pixel rows (side, index,
   value, local label).  Payload pixels never leave the task.
2. **Stitch join**: adjacent tiles' facing borders equi-join on
   (position, value) — two tiny shuffles of border rows (≤4·T px per
   tile, runs of one region collapse into one edge after dedup).
   The antimeridian wraps columns like every x-aware operator here
   (``focal.py``'s rule) so a region crossing the dateline is ONE
   component.
3. **Global union**: the stitch edges feed
   ``cc.connected_components`` (alternating large-star/small-star —
   the SAME operator that clusters near-dup documents; one engine,
   one CC).  Local components never seen at a border keep their own
   label (left join + coalesce-to-self, the cc caller contract).
4. **Aggregate**: per global component — value, total pixels, merged
   bbox, tile span.  Output rows ≈ #regions, never #pixels.

Node ids pack (tile_index, local_label) into an int64:
``tile_index * tile_px² + label`` — local labels are bounded by the
pixels in a tile, so the packing is collision-free by construction
(and gated against int64 overflow at absurd zoom × tile_size).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import grid
from .cc import connected_components, min_label_union_find

_SCAN_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.IntegerType(), False),  # 0=node 1=border
        T.StructField("tile_row", T.LongType(), False),
        T.StructField("tile_col", T.LongType(), False),
        T.StructField("label", T.IntegerType(), False),
        T.StructField("side", T.IntegerType(), True),  # 0 top 1 bottom 2 left 3 right
        T.StructField("idx", T.IntegerType(), True),
        T.StructField("val", T.DoubleType(), False),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("min_r", T.LongType(), True),
        T.StructField("min_c", T.LongType(), True),
        T.StructField("max_r", T.LongType(), True),
        T.StructField("max_c", T.LongType(), True),
    ]
)


def label_plane(arr: np.ndarray, nodata=None):
    """Two-pass run-based 4-connectivity labeling of one plane —
    fully vectorized (r9; the former per-run Python union loop was
    ~1.2 ms/tile, the dominant cost of the region-extraction scan).

    Returns ``(labels, stats)``: ``labels`` int32 (−1 = nodata
    background, else 0..k−1 compact component ids), ``stats`` a list
    of (val, n_px, min_r, min_c, max_r, max_c) per component id —
    tile-local pixel coordinates.

    PARITY CONTRACT (load-bearing: the region oracle inlines node ids
    derived from these outputs, so the compaction ORDER is part of the
    observable behavior): component ids are assigned in order of each
    component's first run in row-major scan order.  Runs are numbered
    in scan order, the union-find roots are component-min run ids, and
    min run id sorts exactly like first-encounter order — asserted
    against the pre-r9 serial kernel by tests/test_labeling.py."""
    h, w = arr.shape
    n = h * w
    flat = arr.ravel()
    # run boundaries: value changes + row starts (runs never span rows)
    change = np.flatnonzero(flat[1:] != flat[:-1]) + 1
    row_bounds = np.arange(1, h, dtype=np.int64) * w
    starts = np.unique(np.concatenate(([0], change, row_bounds)))
    ends = np.append(starts[1:], n)
    vals = flat[starts]
    if nodata is not None:
        keep = vals != nodata
        starts, ends, vals = starts[keep], ends[keep], vals[keep]
    k = len(starts)
    labels = np.full((h, w), -1, dtype=np.int32)
    if k == 0:
        return labels, []
    lens = ends - starts
    run_row = starts // w
    run_cs = starts % w
    run_ce = (ends - 1) % w  # inclusive end column
    # paint run ids per pixel (vectorized repeat over run extents)
    total = int(lens.sum())
    flat_pos = (
        np.repeat(starts, lens)
        + np.arange(total, dtype=np.int64)
        - np.repeat(np.cumsum(lens) - lens, lens)
    )
    runid_flat = np.full(n, -1, dtype=np.int64)
    runid_flat[flat_pos] = np.repeat(np.arange(k, dtype=np.int64), lens)
    rid2 = runid_flat.reshape(h, w)
    # 4-connectivity union: vertically adjacent equal pixels link runs
    mask = (rid2[1:, :] >= 0) & (rid2[:-1, :] >= 0) & (arr[1:, :] == arr[:-1, :])
    ui, vi = rid2[:-1, :][mask], rid2[1:, :][mask]
    if len(ui):
        # dedup edge pairs (many pixel pairs per run pair)
        pk = np.unique(ui * k + vi)
        ui, vi = pk // k, pk % k
    # at convergence parent[r] = min run id of r's component
    parent = min_label_union_find(k, ui, vi)
    # compaction: first-encounter order over runs in scan order == the
    # ascending order of the component-min roots
    uniq_roots = np.unique(parent)
    cid_per_run = np.searchsorted(uniq_roots, parent)
    m = len(uniq_roots)
    labels.ravel()[flat_pos] = np.repeat(cid_per_run, lens).astype(np.int32)
    n_px = np.bincount(cid_per_run, weights=lens, minlength=m).astype(np.int64)
    min_r = np.full(m, np.iinfo(np.int64).max)
    min_c = np.full(m, np.iinfo(np.int64).max)
    max_r = np.full(m, -1, dtype=np.int64)
    max_c = np.full(m, -1, dtype=np.int64)
    np.minimum.at(min_r, cid_per_run, run_row)
    np.minimum.at(min_c, cid_per_run, run_cs)
    np.maximum.at(max_r, cid_per_run, run_row)
    np.maximum.at(max_c, cid_per_run, run_ce)
    comp_val = vals[uniq_roots]
    stats = [
        (float(v), int(c), int(r0), int(c0), int(r1), int(c1))
        for v, c, r0, c0, r1, c1 in zip(
            comp_val.tolist(), n_px.tolist(), min_r.tolist(),
            min_c.tolist(), max_r.tolist(), max_c.tolist()
        )
    ]
    return labels, stats


def _scanned_df(
    tiles: DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    band: int,
    ts_idx: int,
    nodata,
) -> DataFrame:
    """The LAZY per-tile pixel scan (map-only — no Exchange above the
    mapInPandas; tests/test_labeling.py audits this plan directly):
    one row per local component (kind=0) plus one per border pixel
    (kind=1)."""
    zoom_v = int(zoom)
    tile_px = pyr.tile_size * pyr.metatiling
    ncols = pyr.matrix_width(zoom_v)
    nrows = pyr.matrix_height(zoom_v)
    if (nrows * ncols) * (tile_px * tile_px) >= 2**62:
        raise ValueError(
            f"label_components: node packing overflows int64 at zoom "
            f"{zoom_v} with {tile_px}px tiles"
        )
    nd = None if nodata is None else float(nodata)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in _SCAN_SCHEMA.fields]
        for pdf in batches:
            # r9: rows assembled column-wise from numpy arrays — the
            # former per-border-PIXEL Python tuple loop (4·T px/tile)
            # dominated this map stage's wall, not the labeling itself
            frames = []
            for r in pdf.itertuples():
                if int(r.tile_zoom) != zoom_v:
                    raise ValueError(
                        f"label_components(zoom={zoom_v}) got a tile at "
                        f"zoom {r.tile_zoom} — single-zoom input by contract"
                    )
                h, w = int(r.height), int(r.width)
                if h != tile_px or w != tile_px:
                    raise ValueError(
                        f"tile plane {h}x{w} != pyramid tile_px {tile_px}"
                    )
                tr, tc = int(r.tile_row), int(r.tile_col)
                arr = np.frombuffer(r.payload, dtype=np.dtype(r.dtype)).reshape(
                    h, w
                )
                labels, stats = label_plane(arr, nodata=nd)
                if stats:
                    st = np.asarray(stats, dtype=np.float64)
                    k = len(stats)
                    frames.append(
                        pd.DataFrame(
                            {
                                "kind": np.zeros(k, np.int32),
                                "tile_row": np.full(k, tr, np.int64),
                                "tile_col": np.full(k, tc, np.int64),
                                "label": np.arange(k, dtype=np.int32),
                                "side": np.full(k, None, object),
                                "idx": np.full(k, None, object),
                                "val": st[:, 0],
                                "n_px": st[:, 1].astype(np.int64),
                                "min_r": st[:, 2].astype(np.int64) + tr * tile_px,
                                "min_c": st[:, 3].astype(np.int64) + tc * tile_px,
                                "max_r": st[:, 4].astype(np.int64) + tr * tile_px,
                                "max_c": st[:, 5].astype(np.int64) + tc * tile_px,
                            }
                        )
                    )
                sides, idxs_all, labs, vals = [], [], [], []
                for side, lab_line, val_line in (
                    (0, labels[0, :], arr[0, :]),
                    (1, labels[-1, :], arr[-1, :]),
                    (2, labels[:, 0], arr[:, 0]),
                    (3, labels[:, -1], arr[:, -1]),
                ):
                    idxs = np.flatnonzero(lab_line >= 0)
                    if not len(idxs):
                        continue
                    sides.append(np.full(len(idxs), side, np.int32))
                    idxs_all.append(idxs.astype(np.int32))
                    labs.append(lab_line[idxs].astype(np.int32))
                    vals.append(val_line[idxs].astype(np.float64))
                if sides:
                    m = sum(len(s) for s in sides)
                    frames.append(
                        pd.DataFrame(
                            {
                                "kind": np.ones(m, np.int32),
                                "tile_row": np.full(m, tr, np.int64),
                                "tile_col": np.full(m, tc, np.int64),
                                "label": np.concatenate(labs),
                                "side": np.concatenate(sides),
                                "idx": np.concatenate(idxs_all),
                                "val": np.concatenate(vals),
                                "n_px": np.full(m, None, object),
                                "min_r": np.full(m, None, object),
                                "min_c": np.full(m, None, object),
                                "max_r": np.full(m, None, object),
                                "max_c": np.full(m, None, object),
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)[cols]
            else:
                yield pd.DataFrame([], columns=cols)

    return tiles.where(
        (F.col("band") == int(band)) & (F.col("ts_idx") == int(ts_idx))
    ).mapInPandas(scan, _SCAN_SCHEMA)


def _labeled_nodes(
    tiles: DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    band: int,
    ts_idx: int,
    nodata,
    wrap_x: bool,
):
    """Shared pipeline of ``label_components`` / ``labeled_raster``:
    per-tile scan → border stitch → global cc.  Returns ``(labeled,
    ncols, lmax)`` where ``labeled`` has one row per LOCAL component:
    (id, tile_index, val, n_px, min_r, min_c, max_r, max_c,
    component)."""
    zoom_v = int(zoom)
    tile_px = pyr.tile_size * pyr.metatiling
    ncols = pyr.matrix_width(zoom_v)
    lmax = tile_px * tile_px
    scanned = _scanned_df(tiles, pyr, zoom_v, band, ts_idx, nodata).persist()

    node = (F.col("tile_row") * ncols + F.col("tile_col")) * lmax + F.col(
        "label"
    )
    border = scanned.where(F.col("kind") == 1).select(
        "tile_row", "tile_col", "side", "idx", "val",
        node.alias("node"),
    )
    # vertical stitch: bottom of (r,c) faces top of (r+1,c)
    bot = border.where(F.col("side") == 1)
    top = border.where(F.col("side") == 0)
    v_edges = bot.alias("a").join(
        top.alias("b"),
        (F.col("a.tile_row") + 1 == F.col("b.tile_row"))
        & (F.col("a.tile_col") == F.col("b.tile_col"))
        & (F.col("a.idx") == F.col("b.idx"))
        & (F.col("a.val") == F.col("b.val")),
    )
    # horizontal stitch: right of (r,c) faces left of (r,c+1); the
    # antimeridian wraps the last column onto column 0 (focal's rule)
    right = border.where(F.col("side") == 3)
    left = border.where(F.col("side") == 2)
    ncol_expr = (
        (F.col("a.tile_col") + 1) % ncols if wrap_x else F.col("a.tile_col") + 1
    )
    h_edges = right.alias("a").join(
        left.alias("b"),
        (F.col("a.tile_row") == F.col("b.tile_row"))
        & (ncol_expr == F.col("b.tile_col"))
        & (F.col("a.idx") == F.col("b.idx"))
        & (F.col("a.val") == F.col("b.val")),
    )
    edges = (
        v_edges.select(
            F.col("a.node").alias("src"), F.col("b.node").alias("dst")
        )
        .unionByName(
            h_edges.select(
                F.col("a.node").alias("src"), F.col("b.node").alias("dst")
            )
        )
        # a one-column-wide wrapped world stitches a tile to itself —
        # self-edges carry no union information
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )

    # connected_components materializes eagerly (per-round
    # localCheckpoint), consuming scanned's edge read.  Checkpoint the
    # small nodes projection (one row per per-tile region) eagerly for
    # scanned's second read, then RELEASE the persisted scan — leaving
    # it pinned leaked executor storage for the whole session
    # (ADVICE r5).
    comp = connected_components(edges)
    nodes = (
        scanned.where(F.col("kind") == 0)
        .select(
            node.alias("id"),
            (F.col("tile_row") * ncols + F.col("tile_col")).alias("tile_index"),
            "val",
            "n_px",
            "min_r",
            "min_c",
            "max_r",
            "max_c",
        )
        .localCheckpoint(eager=True)
    )
    scanned.unpersist()
    labeled = nodes.join(comp, "id", "left").withColumn(
        "component", F.coalesce("component", "id")
    )
    return labeled, ncols, lmax


def label_components(
    tiles: DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    *,
    band: int = 0,
    ts_idx: int = 0,
    nodata: float | None = None,
    wrap_x: bool = True,
) -> DataFrame:
    """Global connected components of same-valued pixel regions over
    TILE_BANDS_SCHEMA planes at ``zoom`` → one row per region:
    (component, val, n_pixels, min_row, min_col, max_row, max_col —
    GLOBAL pixel coordinates — n_tiles).  ``component`` is the
    minimum packed node id of the region (deterministic canonical
    label, the cc operator's contract)."""
    labeled, _, _ = _labeled_nodes(
        tiles, pyr, zoom, band, ts_idx, nodata, wrap_x
    )
    # first(val) is safe: every member of a component carries the SAME
    # value by construction (edges require value equality).  The bbox
    # is in unwrapped global pixel coordinates — a dateline-crossing
    # component reports the full column span (the standard caveat).
    return labeled.groupBy("component").agg(
        F.first("val").alias("val"),
        F.sum("n_px").alias("n_pixels"),
        F.min("min_r").alias("min_row"),
        F.min("min_c").alias("min_col"),
        F.max("max_r").alias("max_row"),
        F.max("max_c").alias("max_col"),
        F.countDistinct("tile_index").alias("n_tiles"),
    )


def labeled_raster(
    tiles: DataFrame,
    pyr: grid.Pyramid,
    zoom: int,
    *,
    band: int = 0,
    ts_idx: int = 0,
    nodata: float | None = None,
    wrap_x: bool = True,
) -> DataFrame:
    """Paint GLOBAL component ids back into tile planes: one int64
    TILE_BANDS_SCHEMA plane per input tile where each pixel holds
    ``component + 1`` (0 = background/nodata — the +1 keeps 0 free
    because a packed component id can itself be 0).  The labeled
    raster is sink-compatible (dtype int64) and feeds every
    raster-defined operator: ``raster_zonal_stats`` over it gives
    per-REGION statistics of any co-located raster.

    Shape: the component pipeline runs once (scan → stitch → cc),
    its (tile, local label) → component mapping shrinks to one
    array-struct row per tile, broadcast-or-shuffle-joins back to the
    input tiles, and a second map-only pass re-labels each plane (the
    per-tile labeling is deterministic, so the two scans agree) and
    paints through the mapping.  Pixels cross exactly ONE exchange
    (the mapping join's tile co-location); the mapping rows are
    key-sized."""
    from .mosaic import TILE_BANDS_SCHEMA

    labeled, ncols, lmax = _labeled_nodes(
        tiles, pyr, zoom, band, ts_idx, nodata, wrap_x
    )
    mapping = (
        labeled.select(
            "tile_index",
            (F.col("id") % lmax).cast("int").alias("local"),
            "component",
        )
        .groupBy("tile_index")
        .agg(F.collect_list(F.struct("local", "component")).alias("m"))
    )
    zoom_v = int(zoom)
    tile_px = pyr.tile_size * pyr.metatiling
    nd = None if nodata is None else float(nodata)

    src = tiles.where(
        (F.col("band") == int(band)) & (F.col("ts_idx") == int(ts_idx))
    ).withColumn(
        "tile_index", F.col("tile_row") * ncols + F.col("tile_col")
    )
    joined = src.join(mapping, "tile_index", "inner")

    def paint(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in TILE_BANDS_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                h, w = int(r.height), int(r.width)
                arr = np.frombuffer(
                    r.payload, dtype=np.dtype(r.dtype)
                ).reshape(h, w)
                labels, _stats = label_plane(arr, nodata=nd)
                lut = np.zeros(int(labels.max()) + 2, dtype=np.int64)
                for m in r.m:
                    lut[int(m["local"])] = int(m["component"]) + 1
                out = np.where(labels >= 0, lut[labels], 0)
                rows.append(
                    (zoom_v, int(r.tile_row), int(r.tile_col),
                     int(r.band), int(r.ts_idx), h, w, "int64",
                     np.ascontiguousarray(out).tobytes(),
                     int(r.n_sources))
                )
            yield pd.DataFrame(rows, columns=cols)

    return joined.mapInPandas(paint, TILE_BANDS_SCHEMA)
