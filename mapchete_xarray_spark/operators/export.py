"""XYZ tile-cache export: TileDirectory → static ``z/x/y`` files.

The serving leg (mapchete's ``mapchete serve`` / tile-cache pattern —
the plugin's host publishes zarr archives the same way): a web map
consumes a directory of pre-encoded tiles addressed ``<z>/<col>/
<row>.<fmt>``, one object per tile, no engine in the read path.  This
operator renders that layout from a sink in one distributed pass:

1. **One shuffle, tile-sized**: the sink stores one row per (tile,
   band, ts) plane, so composing an RGB tile needs the tile's bands
   co-located — hash on (tile_row, tile_col), batched per Arrow batch
   via ``groupmap.batched_group_map`` (3-row groups make per-group
   UDF dispatch the dominant cost otherwise).  Chunk-partitioned sink
   files keep a tile's planes in the same parquet split, so the
   exchange is mostly node-local at scale; what moves is one tile's
   payload, never an archive.
2. **Map-side encode + write**: each group assembles (h, w, 3) from
   its band planes, encodes with the sink codec family
   (``codecs.encode_image``: raw / q8 / dct, plus the REAL bitstream
   codecs — png / jpeg / webp-lossless — so a browser-facing web map
   consumes the objects directly), and
   PUTS the object through ``pyarrow.fs`` resolved INSIDE the task
   (``file://``, ``s3://`` — the sources/fs.py dispatch).  A tile
   file's content is a pure function of the sink row, so task retries
   and speculative duplicates overwrite with identical bytes —
   idempotent by construction, no commit protocol needed.

A driver-side ``metadata.json`` records fmt/zoom/band_order/grid so a
reader (``read_xyz_tile``) can decode without the source sink.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import codecs
from ..sources import fs as _fs

_EXPORT_SCHEMA = T.StructType(
    [
        T.StructField("tile_row", T.LongType(), False),
        T.StructField("tile_col", T.LongType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)

_FMT_EXT = {
    "raw": "raw",
    "q8": "q8",
    "dct": "dct",
    # real bitstream codecs (r7 PNG/JPEG, r8 lossless WebP) — what an
    # actual web map consumes straight off the object store
    "png": "png",
    "jpeg": "jpg",
    "webp": "webp",
}


def export_xyz(
    spark,
    td,
    out_path: str,
    *,
    fmt: str = "q8",
    ts_idx: int = 0,
    band_order=None,
    filesystem=None,
) -> dict:
    """Render ``td`` (a TileDirectory) into an XYZ tile cache at
    ``out_path``.  ``band_order``: the 3 sink band indexes composing
    R, G, B (default ``[0, 1, 2]`` for ≥3-band sinks, the single band
    replicated for 1-band sinks).  ``ts_idx`` picks the time step for
    time-axis sinks.  uint8 sinks only (the codec contract).

    Returns ``{"tiles": n, "bytes": total}``."""
    manifest = export_xyz_manifest(
        spark, td, out_path, fmt=fmt, ts_idx=ts_idx,
        band_order=band_order, filesystem=filesystem,
    )
    agg = manifest.agg(
        F.count("*").alias("tiles"), F.sum("n_bytes").alias("bytes")
    ).collect()[0]
    return {"tiles": int(agg["tiles"]), "bytes": int(agg["bytes"] or 0)}


def default_band_order(nbands: int) -> list[int]:
    """The ONE default RGB composition rule (ADVICE r6: pyramid's
    final metadata and the per-level exports must derive it from the
    same place): first three bands for >= 3-band sinks, the single
    band broadcast to grey otherwise."""
    return [0, 1, 2] if nbands >= 3 else [0, 0, 0]


def export_xyz_manifest(
    spark,
    td,
    out_path: str,
    *,
    fmt: str = "q8",
    ts_idx: int = 0,
    band_order=None,
    filesystem=None,
):
    """The lazy form of ``export_xyz``: returns the per-tile manifest
    DataFrame (tile_row, tile_col, path, n_bytes); tile files are PUT
    as the manifest is consumed.  Re-consumption re-puts identical
    bytes (idempotent), so the manifest behaves like any deterministic
    query."""
    if fmt not in _FMT_EXT:
        raise ValueError(f"unknown export fmt {fmt!r}: {sorted(_FMT_EXT)}")
    nbands = len(td.cfg.resolved_band_names)
    if band_order is None:
        band_order = default_band_order(nbands)
    band_order = [int(b) for b in band_order]
    if len(band_order) != 3:
        raise ValueError(f"band_order must have 3 entries: {band_order}")
    if any(not 0 <= b < nbands for b in band_order):
        raise ValueError(
            f"band_order {band_order} out of range for {nbands} sink bands"
        )
    if str(td.cfg.dtype) != "uint8":
        raise ValueError(
            f"export_xyz needs a uint8 sink (codec contract), got "
            f"{td.cfg.dtype}"
        )
    zoom_v = int(td.cfg.zoom)
    out_uri = str(out_path)

    # driver-side metadata first: a half-written cache still declares
    # how to decode what is there
    write_xyz_metadata(
        td, out_uri, fmt=fmt, band_order=band_order, ts_idx=ts_idx,
        filesystem=filesystem,
    )

    tiles = (
        td.read(spark)
        .where(
            (F.col("ts_idx") == int(ts_idx))
            & F.col("band").isin(sorted(set(band_order)))
        )
        .select("tile_row", "tile_col", "band", "height", "width",
                "dtype", "payload")
    )
    return _render_tiles(tiles, out_uri, fmt, band_order, zoom_v, filesystem)


def write_xyz_metadata(
    td, out_path: str, *, fmt: str, band_order, ts_idx: int = 0,
    filesystem=None,
) -> None:
    """Create the cache root + ``metadata.json`` (the decode contract
    a reader binds to)."""
    m_fs, m_root = _fs.resolve(str(out_path), filesystem)
    _fs.mkdirs(m_fs, m_root)
    _fs.write_text(
        m_fs,
        _fs.join(m_root, "metadata.json"),
        json.dumps(
            {
                "fmt": fmt,
                "zoom": int(td.cfg.zoom),
                "grid": td.cfg.grid_name,
                # plane edge in pixels (metatiles store m× the tile_size)
                "tile_size": int(td.cfg.tile_size) * int(td.cfg.metatiling),
                "band_order": [int(b) for b in band_order],
                "ts_idx": int(ts_idx),
            },
            indent=1,
        ),
    )


def _render_tiles(
    tiles, out_uri: str, fmt: str, band_order, zoom_v: int, inject_fs
):
    """groupBy-tile render+put stage of ``export_xyz`` and
    ``export_xyz_manifest``.  ``tiles``: (tile_row, tile_col, band,
    height, width, dtype, payload) rows, already filtered to the
    cache's ts/bands."""
    ext = _FMT_EXT[fmt]
    needs = sorted(set(band_order))

    def render(key, pdf: pd.DataFrame):
        fsys, root = _fs.resolve(out_uri, inject_fs)
        tr, tc = int(key[0]), int(key[1])
        got = {int(r.band): r for r in pdf.itertuples()}
        if sorted(got) != needs:
            raise ValueError(
                f"tile ({tr},{tc}) has bands {sorted(got)}, export needs "
                f"{needs} — partial tile in sink"
            )
        h = int(pdf.height.iloc[0])
        w = int(pdf.width.iloc[0])
        img = np.empty((h, w, 3), dtype=np.uint8)
        for c, b in enumerate(band_order):
            r = got[b]
            img[:, :, c] = np.frombuffer(
                r.payload, dtype=np.dtype(r.dtype)
            ).reshape(h, w)
        payload = codecs.encode_image(img, fmt)
        d = _fs.join(root, str(zoom_v), str(tc))
        _fs.mkdirs(fsys, d)
        p = _fs.join(d, f"{tr}.{ext}")
        with fsys.open_output_stream(p) as f:
            f.write(payload)
        return (tr, tc, f"{zoom_v}/{tc}/{tr}.{ext}", len(payload))

    from .groupmap import batched_group_map

    return batched_group_map(
        tiles, ["tile_row", "tile_col"], render, _EXPORT_SCHEMA
    )


def read_xyz_tile(
    cache_path: str, row: int, col: int, filesystem=None
) -> np.ndarray:
    """Decode one tile from an exported cache → (h, w, 3) uint8 (the
    test/consumer-side reader; a web map reads the files directly)."""
    fsys, root = _fs.resolve(str(cache_path), filesystem)
    meta = json.loads(_fs.read_text(fsys, _fs.join(root, "metadata.json")))
    p = _fs.join(
        root, str(meta["zoom"]), str(int(col)),
        f"{int(row)}.{_FMT_EXT[meta['fmt']]}",
    )
    with fsys.open_input_stream(p) as f:
        payload = f.read()
    ts = int(meta["tile_size"])
    return codecs.decode_image(payload, ts, ts, meta["fmt"])
