"""XYZ tile-cache export: decode parity, layout, idempotent re-export,
gates, plan shape."""

import numpy as np
import pytest

from mapchete_xarray_spark import codecs, grid
from mapchete_xarray_spark.operators.export import (
    export_xyz,
    read_xyz_tile,
)
from mapchete_xarray_spark.operators.mosaic import TILE_BANDS_SCHEMA
from mapchete_xarray_spark.sources.tiledir import (
    TileDirConfig,
    TileDirectory,
)

TPX = 16
ZOOM = 3


def _sink(spark, tmp_path, bands=3, dtype="uint8", name="base"):
    td = TileDirectory(
        TileDirConfig(path=str(tmp_path / name), zoom=ZOOM, bands=bands,
                      tile_size=TPX, dtype=dtype, chunk_tiles=2)
    )
    td.prepare()
    rng = np.random.default_rng(51)
    rows = [
        (ZOOM, r, c, b, 0, TPX, TPX, dtype,
         rng.integers(0, 255, (TPX, TPX)).astype(np.dtype(dtype)).tobytes(),
         1)
        for r in range(2, 4) for c in range(3, 6) for b in range(bands)
    ]
    td.write(spark.createDataFrame(rows, TILE_BANDS_SCHEMA))
    return td


class TestExportXYZ:
    def test_raw_roundtrip_pixel_parity(self, spark, tmp_path):
        td = _sink(spark, tmp_path)
        out = str(tmp_path / "cache")
        stats = export_xyz(spark, td, out, fmt="raw")
        assert stats["tiles"] == 6 and stats["bytes"] == 6 * TPX * TPX * 3

        planes = {
            (r.tile_row, r.tile_col, r.band): np.frombuffer(
                r.payload, np.uint8
            ).reshape(TPX, TPX)
            for r in td.read(spark).collect()
        }
        for tr in range(2, 4):
            for tc in range(3, 6):
                img = read_xyz_tile(out, tr, tc)
                for b in range(3):
                    np.testing.assert_array_equal(
                        img[:, :, b], planes[(tr, tc, b)]
                    )

    def test_layout_and_metadata(self, spark, tmp_path):
        import json
        import os

        td = _sink(spark, tmp_path)
        out = tmp_path / "cache"
        export_xyz(spark, td, str(out), fmt="raw")
        meta = json.loads((out / "metadata.json").read_text())
        assert meta["fmt"] == "raw" and meta["zoom"] == ZOOM
        assert meta["tile_size"] == TPX and meta["band_order"] == [0, 1, 2]
        # z/x/y = zoom/col/row
        assert sorted(os.listdir(out / str(ZOOM))) == ["3", "4", "5"]
        assert sorted(os.listdir(out / str(ZOOM) / "3")) == [
            "2.raw", "3.raw"
        ]

    def test_lossy_fmt_meets_psnr_floor(self, spark, tmp_path):
        # smooth content (DCT compresses smooth planes; noise inflates
        # — the codec suite pins both behaviors)
        td = TileDirectory(
            TileDirConfig(path=str(tmp_path / "smooth"), zoom=ZOOM, bands=3,
                          tile_size=TPX, dtype="uint8", chunk_tiles=2)
        )
        td.prepare()
        gy, gx = np.mgrid[0:TPX, 0:TPX]
        rows = [
            (ZOOM, 2, 3, b, 0, TPX, TPX, "uint8",
             ((gx * 8 + gy * 4 + b * 30) % 256).astype(np.uint8).tobytes(),
             1)
            for b in range(3)
        ]
        td.write(spark.createDataFrame(rows, TILE_BANDS_SCHEMA))
        out = str(tmp_path / "cache_dct")
        stats = export_xyz(spark, td, out, fmt="dct")
        assert 0 < stats["bytes"] < TPX * TPX * 3
        planes = {
            (r.tile_row, r.tile_col, r.band): np.frombuffer(
                r.payload, np.uint8
            ).reshape(TPX, TPX)
            for r in td.read(spark).collect()
        }
        img = read_xyz_tile(out, 2, 3)
        ref = np.stack(
            [planes[(2, 3, b)] for b in range(3)], axis=-1
        )
        assert codecs.psnr(ref, img) >= 40.0

    def test_single_band_replicates_and_order_overrides(
        self, spark, tmp_path
    ):
        td1 = _sink(spark, tmp_path, bands=1, name="b1")
        out = str(tmp_path / "cache1")
        export_xyz(spark, td1, out, fmt="raw")
        img = read_xyz_tile(out, 2, 3)
        np.testing.assert_array_equal(img[:, :, 0], img[:, :, 1])
        np.testing.assert_array_equal(img[:, :, 0], img[:, :, 2])

        td3 = _sink(spark, tmp_path, bands=3, name="b3")
        out2 = str(tmp_path / "cache2")
        export_xyz(spark, td3, out2, fmt="raw", band_order=[2, 1, 0])
        planes = {
            (r.tile_row, r.tile_col, r.band): np.frombuffer(
                r.payload, np.uint8
            ).reshape(TPX, TPX)
            for r in td3.read(spark).collect()
        }
        img = read_xyz_tile(out2, 2, 3)
        np.testing.assert_array_equal(img[:, :, 0], planes[(2, 3, 2)])
        np.testing.assert_array_equal(img[:, :, 2], planes[(2, 3, 0)])

    def test_reexport_is_idempotent(self, spark, tmp_path):
        td = _sink(spark, tmp_path)
        out = str(tmp_path / "cache")
        export_xyz(spark, td, out, fmt="q8")
        first = read_xyz_tile(out, 2, 4)
        stats = export_xyz(spark, td, out, fmt="q8")
        assert stats["tiles"] == 6
        np.testing.assert_array_equal(read_xyz_tile(out, 2, 4), first)

    def test_gates(self, spark, tmp_path):
        td = _sink(spark, tmp_path)
        with pytest.raises(ValueError, match="unknown export fmt"):
            export_xyz(spark, td, str(tmp_path / "x"), fmt="gif")
        with pytest.raises(ValueError, match="band_order"):
            export_xyz(spark, td, str(tmp_path / "x"), band_order=[0, 1])
        with pytest.raises(ValueError, match="out of range"):
            export_xyz(spark, td, str(tmp_path / "x"), band_order=[0, 1, 9])
        td16 = _sink(spark, tmp_path, dtype="uint16", name="u16")
        with pytest.raises(ValueError, match="uint8 sink"):
            export_xyz(spark, td16, str(tmp_path / "x"))

    def test_one_exchange_for_band_assembly(self, spark, tmp_path):
        from mapchete_xarray_spark.operators.export import (
            export_xyz_manifest,
        )

        td = _sink(spark, tmp_path)
        plan = (
            export_xyz_manifest(spark, td, str(tmp_path / "pc"), fmt="raw")
            ._jdf.queryExecution().executedPlan().toString()
        )
        # the PIXEL path crosses exactly one Exchange (the band
        # assembly); the sink's committed-attempt manifest subquery
        # (key-only commit-log aggregation) has its own tiny exchange
        # below the SubqueryAdaptiveBroadcast marker — exclude it
        main = plan.split("SubqueryAdaptiveBroadcast")[0]
        assert main.count("Exchange") == 1, plan
        assert "MapInPandas" in main, plan


class TestBitstreamFormats:
    """r8: the exporter serves real bitstream tiles (png/webp
    lossless, jpeg lossy) — what a browser-facing web map actually
    consumes.  Lossless formats must round-trip pixel-exact."""

    def test_png_and_webp_lossless_roundtrip(self, spark, tmp_path):
        td = _sink(spark, tmp_path)
        planes = {
            (r.tile_row, r.tile_col, r.band): np.frombuffer(
                r.payload, np.uint8
            ).reshape(TPX, TPX)
            for r in td.read(spark).collect()
        }
        for fmt, ext in (("png", "png"), ("webp", "webp")):
            out = str(tmp_path / f"cache_{fmt}")
            stats = export_xyz(spark, td, out, fmt=fmt)
            assert stats["tiles"] == 6
            import os

            assert sorted(os.listdir(os.path.join(out, str(ZOOM), "3")))[0] \
                == f"2.{ext}"
            for tr in range(2, 4):
                for tc in range(3, 6):
                    img = read_xyz_tile(out, tr, tc)
                    for b in range(3):
                        np.testing.assert_array_equal(
                            img[:, :, b], planes[(tr, tc, b)],
                            err_msg=f"{fmt} ({tr},{tc},{b})",
                        )

    def test_jpeg_tiles_meet_psnr_floor(self, spark, tmp_path):
        from mapchete_xarray_spark import codecs as _codecs

        td = TileDirectory(
            TileDirConfig(path=str(tmp_path / "smoothj"), zoom=ZOOM, bands=3,
                          tile_size=TPX, dtype="uint8", chunk_tiles=2)
        )
        td.prepare()
        gy, gx = np.mgrid[0:TPX, 0:TPX]
        rows = [
            (ZOOM, 2, 3, b, 0, TPX, TPX, "uint8",
             ((gx * 3 + gy * 2 + b * 30) % 256).astype(np.uint8).tobytes(),
             1)
            for b in range(3)
        ]
        td.write(spark.createDataFrame(rows, TILE_BANDS_SCHEMA))
        out = str(tmp_path / "cache_jpg")
        export_xyz(spark, td, out, fmt="jpeg")
        img = read_xyz_tile(out, 2, 3)
        want = np.stack(
            [((gx * 3 + gy * 2 + b * 30) % 256).astype(np.uint8)
             for b in range(3)], axis=-1
        )
        assert _codecs.psnr(img, want) >= 25
