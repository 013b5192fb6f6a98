"""Cross-grid re-tiling (operators/regrid.py): brute-force per-pixel
parity against a pure-numpy reference projector, empty/absent rules,
domain-edge behavior, and Spark↔DuckDB parity of the shared cover-
range SQL."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from mapchete_xarray_spark import grid
from mapchete_xarray_spark.operators.mosaic import TILE_BANDS_SCHEMA
from mapchete_xarray_spark.operators.regrid import cover_ranges_sql, regrid_tiles

TPX = 16  # small tiles keep the brute-force reference cheap


def _plane(row, col, band=0):
    i, j = np.meshgrid(np.arange(TPX), np.arange(TPX), indexing="ij")
    return ((i * 7 + j * 13 + row * 31 + col * 57 + band * 101) % 251).astype(
        np.uint8
    )


def _tiles_df(spark, zoom, keys, bands=(0,)):
    rows = [
        (
            zoom,
            int(r),
            int(c),
            int(b),
            0,
            TPX,
            TPX,
            "uint8",
            _plane(r, c, b).tobytes(),
            1,
        )
        for (r, c) in keys
        for b in bands
    ]
    return spark.createDataFrame(rows, TILE_BANDS_SCHEMA)


def _expected(dst_grid, dst_zoom, src_grid, src_zoom, keys, drow, dcol, band, fill=0):
    """Pure-python per-pixel reference: inverse-project every dst pixel
    center and gather from the source fixture planes."""
    dst = grid.pyramid(dst_grid, tile_size=TPX)
    src = grid.pyramid(src_grid, tile_size=TPX)
    ps_d, ps_s = dst.pixel_size(dst_zoom), src.pixel_size(src_zoom)
    span_d = dst.tile_span(dst_zoom)
    planes = {k: _plane(*k, band) for k in keys}
    out = np.full((TPX, TPX), fill, dtype=np.uint8)
    for i in range(TPX):
        for j in range(TPX):
            x = dst.bounds.left + dcol * span_d + (j + 0.5) * ps_d
            y = dst.bounds.top - drow * span_d - (i + 0.5) * ps_d
            if dst_grid == "mercator":
                lon, lat = grid.mercator_to_lonlat(np.array([x]), np.array([y]))
                lon, lat = float(lon[0]), float(lat[0])
            else:
                lon, lat = x, y
            if src_grid == "mercator":
                sx, sy = grid.lonlat_to_mercator(np.array([lon]), np.array([lat]))
                sx, sy = float(sx[0]), float(sy[0])
            else:
                sx, sy = lon, lat
            gc = int(np.floor((sx - src.bounds.left) / ps_s))
            gr = int(np.floor((src.bounds.top - sy) / ps_s))
            key = (gr // TPX, gc // TPX)
            if key in planes and 0 <= gr and 0 <= gc:
                out[i, j] = planes[key][gr % TPX, gc % TPX]
    return out


def _collect(out_df):
    return {
        (r.tile_row, r.tile_col, r.band): np.frombuffer(
            r.payload, dtype=np.uint8
        ).reshape(TPX, TPX)
        for r in out_df.collect()
    }


@pytest.mark.spark
class TestRegrid:
    def test_geodetic_to_mercator_pixels(self, spark):
        """Every emitted destination pixel must equal the brute-force
        reference (a partial source coverage: absent source tiles stay
        fill)."""
        keys = [(0, 2), (0, 3), (1, 2), (2, 5), (3, 0)]
        src = _tiles_df(spark, 2, keys, bands=(0, 1))
        out = regrid_tiles(src, "geodetic", 2, "mercator", 2, tile_size=TPX)
        got = _collect(out)
        assert got, "no destination tiles emitted"
        for (drow, dcol, band), plane in got.items():
            want = _expected("mercator", 2, "geodetic", 2, keys, drow, dcol, band)
            assert np.array_equal(plane, want), (drow, dcol, band)

    def test_mercator_to_geodetic_pixels(self, spark):
        keys = [(0, 0), (0, 1), (1, 1), (3, 2)]
        src = _tiles_df(spark, 2, keys)
        out = regrid_tiles(src, "mercator", 2, "geodetic", 2, tile_size=TPX)
        got = _collect(out)
        assert got
        for (drow, dcol, band), plane in got.items():
            want = _expected("geodetic", 2, "mercator", 2, keys, drow, dcol, band)
            assert np.array_equal(plane, want), (drow, dcol)

    def test_zero_pixel_cover_is_absent(self, spark):
        """Destination tiles that receive no pixel (zero-area boundary
        cover, or every mapped center misses the present sources) must
        be ABSENT, not fill-value planes: emitted tiles all contain at
        least one source-painted pixel."""
        keys = [(2, 3)]
        src = _tiles_df(spark, 3, keys)
        out = regrid_tiles(src, "geodetic", 3, "mercator", 3, tile_size=TPX)
        for (drow, dcol, band), plane in _collect(out).items():
            want = _expected("mercator", 3, "geodetic", 3, keys, drow, dcol, band)
            assert np.array_equal(plane, want)
            assert (plane != 0).any(), "emitted an all-fill destination tile"

    def test_polar_source_tile_covers_nothing(self, spark):
        """A geodetic z6 row-0 tile (87.2°–90°N) lies fully poleward of
        the mercator domain: the validity gate must drop it before the
        explode (and the paste must never see it)."""
        src = _tiles_df(spark, 6, [(0, 10)])
        out = regrid_tiles(src, "geodetic", 6, "mercator", 6, tile_size=TPX)
        assert out.count() == 0

    def test_pole_side_pixels_stay_fill(self, spark):
        """mercator→geodetic at low zoom: geodetic pixels poleward of
        ±85.051° map outside every mercator source tile and must stay
        fill (snapping them onto the edge row would fabricate data)."""
        # full mercator z1 coverage
        keys = [(r, c) for r in range(2) for c in range(2)]
        src = _tiles_df(spark, 1, keys)
        out = regrid_tiles(src, "mercator", 1, "geodetic", 1, tile_size=TPX)
        got = _collect(out)
        # geodetic z1: rows 0/1 span 90..45..0; row 0's top pixels are
        # poleward of 85.05 → fill
        top = got[(0, 2, 0)]
        lat_centers = 90.0 - (np.arange(TPX) + 0.5) * grid.pyramid(
            "geodetic", tile_size=TPX
        ).pixel_size(1)
        assert (top[lat_centers > 85.05112877980659, :] == 0).all()
        assert (top[lat_centers <= 85.05112877980659, :] != 0).any()

    def test_same_grid_refused(self, spark):
        src = _tiles_df(spark, 2, [(0, 0)])
        with pytest.raises(ValueError, match="CROSS-grid"):
            regrid_tiles(src, "geodetic", 2, "geodetic", 3)
        with pytest.raises(ValueError, match="method"):
            regrid_tiles(src, "geodetic", 2, "mercator", 2, method="cubic")

    def test_cover_sql_parity_duckdb(self, spark):
        """The cover-range SQL is ONE string for both engines: explode
        it over every z3 geodetic tile in Spark and DuckDB and compare
        the (src, dst) cover sets exactly."""
        rng = cover_ranges_sql("geodetic", 3, "mercator", 4)
        tiles = [(r, c) for r in range(8) for c in range(16)]
        sql = (
            "select tile_row, tile_col, r_lo, r_hi, c_lo, c_hi from ("
            f"select tile_row, tile_col, {rng['r_lo']} as r_lo, "
            f"{rng['r_hi']} as r_hi, {rng['c_lo']} as c_lo, "
            f"{rng['c_hi']} as c_hi from src where {rng['valid']}) t"
        )
        sdf = spark.createDataFrame(tiles, "tile_row long, tile_col long")
        sdf.createOrReplaceTempView("src")
        got_spark = sorted(map(tuple, spark.sql(sql).collect()))
        con = duckdb.connect()
        con.register("src", pd.DataFrame(tiles, columns=["tile_row", "tile_col"]))
        got_duck = sorted(map(tuple, con.execute(sql).fetchall()))
        assert got_spark == got_duck
        assert len(got_spark) > 0


@pytest.mark.spark
class TestRegridJobSurface:
    def test_job_regrid_process(self, spark, tmp_path):
        """mapchete-convert through the Job surface: synthesize a
        geodetic z5 base archive, run `process: regrid` into a
        mercator z5 output, and the written tiles equal regrid_tiles
        applied to the base rows.  Same-grid sources are refused, as
        are metatiled pyramids."""
        from mapchete_xarray_spark.plans.job import Job
        from mapchete_xarray_spark.sources.tiledir import (
            TileDirectory,
            TileDirError,
        )

        base_spec = {
            "process": "synthetic",
            "n_images": 120,
            "zoom_levels": [5],
            "output": {"path": str(tmp_path / "base"), "bands": 3},
        }
        Job(base_spec).run(spark)

        rg_spec = {
            "process": "regrid",
            "zoom_levels": [5],
            "pyramid": {"grid": "mercator"},
            "input": {"path": str(tmp_path / "base")},
            "output": {"path": str(tmp_path / "merc"), "bands": 3},
        }
        r = Job(rg_spec).run(spark)
        assert r["tiles"] > 0

        base = TileDirectory.open(str(tmp_path / "base"))
        want = {
            (x.tile_row, x.tile_col, x.band): x.payload
            for x in regrid_tiles(
                base.read(spark).drop("chunk_row", "chunk_col"),
                "geodetic",
                5,
                "mercator",
                5,
            ).collect()
        }
        got = {
            (x.tile_row, x.tile_col, x.band): x.payload
            for x in TileDirectory.open(str(tmp_path / "merc")).read(spark).collect()
        }
        assert set(want) <= set(got)  # sink may materialize fill rows too
        assert all(got[k] == v for k, v in want.items())
        assert len(want) > 0

        bad = dict(
            rg_spec,
            pyramid={"grid": "geodetic"},
            output={"path": str(tmp_path / "bad"), "bands": 3},
        )
        with pytest.raises(TileDirError, match="already on grid"):
            Job(bad).run(spark)
        meta = dict(
            rg_spec,
            pyramid={"grid": "mercator", "metatiling": 2},
            output={"path": str(tmp_path / "bad2"), "bands": 3},
        )
        with pytest.raises(TileDirError, match="plain pyramids"):
            Job(meta).run(spark)

    def test_tile_size_mismatch_refused(self, spark, tmp_path):
        """A non-256 source sink must be refused up front: the
        operator's plane gate would otherwise fire mid-shuffle with a
        misleading message (and a mismatched OUTPUT would silently
        write mis-sized planes)."""
        from mapchete_xarray_spark.plans.job import Job
        from mapchete_xarray_spark.sources.tiledir import (
            TileDirConfig,
            TileDirectory,
            TileDirError,
        )

        src = TileDirectory(
            TileDirConfig(path=str(tmp_path / "small"), zoom=4, bands=3, tile_size=128)
        )
        src.prepare()
        spec = {
            "process": "regrid",
            "zoom_levels": [4],
            "pyramid": {"grid": "mercator"},
            "input": {"path": str(tmp_path / "small")},
            "output": {"path": str(tmp_path / "out"), "bands": 3},
        }
        with pytest.raises(TileDirError, match="matching tile sizes"):
            Job(spec).run(spark)
