"""PyramidDirectory: multi-zoom facade over single-zoom sinks —
build/read/refresh/export round-trips + the config gates."""

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapchete_xarray_spark import codecs, grid
from mapchete_xarray_spark.operators.mosaic import materialize_tiles
from mapchete_xarray_spark.operators.overviews import overview_level, overview_levels
from mapchete_xarray_spark.sources.pyramid import PyramidDirectory
from mapchete_xarray_spark.sources.tiledir import TileDirectory, TileDirError

PYR = grid.GEODETIC
ZOOM = 5


def _images_pdf(n=10, lon0=-120.0, lat0=30.0):
    rows = []
    ps = PYR.pixel_size(ZOOM)
    for i in range(n):
        w = h = 64
        arr = np.random.default_rng(i).integers(
            0, 255, (h, w, 3), dtype=np.uint8
        )
        lon = lon0 + i * 2.1
        lat = lat0 + (i % 3) * 1.3
        rows.append(
            (f"img{i:03d}", codecs.encode_image(arr, "raw"), w, h, "raw",
             lon - w * ps / 2, lat - h * ps / 2,
             lon + w * ps / 2, lat + h * ps / 2)
        )
    return pd.DataFrame(
        rows,
        columns=["image_id", "bytes", "w", "h", "fmt",
                 "minx", "miny", "maxx", "maxy"],
    )


# Spark jobs `write_base` + `build` may launch on the fixture below
# (measured).  Each fresh-sink write is a range-sampled data write of
# its cached input plus a one-exchange manifest append; build reads no
# level back and derives every level in one shuffle from the rows
# write_base kept.
BUILD_JOB_BUDGET = 21


def _payload_map(df):
    return {
        (r.tile_zoom, r.tile_row, r.tile_col, r.band): r.payload
        for r in df.collect()
    }


@pytest.mark.spark
class TestPyramidDirectory:
    def _pd(self, tmp_path, **over):
        kw = dict(bounds=(-130.0, 20.0, -90.0, 45.0), chunk_tiles=4)
        kw.update(over)
        return PyramidDirectory(
            str(tmp_path / "pyr"), base_zoom=ZOOM, levels=2, **kw
        )

    def test_build_matches_overview_level_chain(self, spark, tmp_path):
        pd_dir = self._pd(tmp_path)
        pd_dir.prepare()
        tiles = materialize_tiles(
            spark.createDataFrame(_images_pdf()), PYR, ZOOM, bands=3
        )
        assert pd_dir.write_base(tiles)["tiles"] > 0
        stats = pd_dir.build(spark)
        assert len(stats) == 2 and all(s["tiles"] > 0 for s in stats)

        base = pd_dir.base.read(spark).drop(
            "chunk_row", "chunk_col", "attempt_id"
        )
        want4 = _payload_map(overview_level(base))
        got4 = _payload_map(
            pd_dir.level(ZOOM - 1).read(spark).select(
                "tile_zoom", "tile_row", "tile_col", "band", "payload"
            )
        )
        assert got4 == want4 and got4
        # whole-pyramid read carries all three zooms
        zs = {
            r.tile_zoom
            for r in pd_dir.read(spark).select("tile_zoom").distinct().collect()
        }
        assert zs == {ZOOM, ZOOM - 1, ZOOM - 2}

    def test_bookkeeping_job_budget(self, spark, tmp_path, spark_jobs):
        """Sink bookkeeping runs a fixed handful of jobs: the manifest
        and data tree are read under pinned schemas (no inference or
        mergeSchema job), the manifest state is one memoized one-row
        aggregate, and the write's checks and counts are observed on
        the writes — so a write + two-level build stays in budget, and
        every level's stats carry the observed input row count."""
        pd_dir = self._pd(tmp_path)
        pd_dir.prepare()
        tiles = materialize_tiles(
            spark.createDataFrame(_images_pdf()), PYR, ZOOM, bands=3
        )
        _, n_write = spark_jobs(lambda: pd_dir.write_base(tiles))
        stats, n_build = spark_jobs(lambda: pd_dir.build(spark))
        assert n_write + n_build <= BUILD_JOB_BUDGET, (n_write, n_build)
        assert [s["rows_in"] for s in stats] == [
            pd_dir.level(z).read(spark).count() for z in pd_dir.zooms[1:]
        ]
        # a committed sink's read plans with ONE job (the state
        # aggregate) and a repeat over the same manifest with none; the
        # pyramid's own level handle, read above, keeps its state
        td = TileDirectory(pd_dir.level(ZOOM - 2).cfg)
        _, n_read = spark_jobs(lambda: td.read(spark))
        _, n_again = spark_jobs(lambda: td.read(spark))
        assert (n_read, n_again) == (1, 0)
        _, n_level = spark_jobs(lambda: pd_dir.level(ZOOM - 2).read(spark))
        assert n_level == 0

    def _written(self, spark, tmp_path, **over):
        pd_dir = self._pd(tmp_path, **over)
        pd_dir.prepare()
        pd_dir.write_base(
            materialize_tiles(spark.createDataFrame(_images_pdf()), PYR, ZOOM, bands=3)
        )
        return pd_dir

    @staticmethod
    def _forbid_base_read(pd_dir, monkeypatch):
        def fail(*a, **k):
            raise AssertionError("build read the committed base")

        monkeypatch.setattr(pd_dir.base, "read", fail)

    @staticmethod
    def _levels_equal_committed_derive(spark, pd_dir):
        base = pd_dir.base.read(spark).drop("chunk_row", "chunk_col", "attempt_id")
        want = _payload_map(overview_levels(base, pd_dir.levels))
        got = _payload_map(
            pd_dir.read(spark, zooms=pd_dir.zooms[1:]).select(
                "tile_zoom", "tile_row", "tile_col", "band", "payload"
            )
        )
        assert got == want and got

    def test_build_fills_absent_quadrants_with_level_fill(self, spark, tmp_path):
        """Quadrants with no child tile carry the level sinks'
        fill_value at every level, as refresh_overviews writes them."""
        pd_dir = self._written(spark, tmp_path, fill_value=7)
        pd_dir.build(spark)
        present = {
            (r.tile_row, r.tile_col)
            for r in pd_dir.base.read(spark).select("tile_row", "tile_col").collect()
        }
        checked = 0
        for lv, z in enumerate(pd_dir.zooms[1:], start=1):
            for r in pd_dir.level(z).read(spark).collect():
                side = r.height >> lv
                plane = np.frombuffer(r.payload, np.uint8).reshape(r.height, r.width)
                for i in range(1 << lv):
                    for j in range(1 << lv):
                        kid = ((r.tile_row << lv) + i, (r.tile_col << lv) + j)
                        if kid not in present:
                            block = plane[i * side:(i + 1) * side, j * side:(j + 1) * side]
                            assert (block == 7).all(), (z, r.tile_row, r.tile_col, kid)
                            checked += 1
        assert checked

    def test_memo_build_matches_build_from_committed_base(
        self, spark, tmp_path, monkeypatch
    ):
        """write_base's in-memory rows and a fresh process's read of the
        committed base derive byte-identical levels."""
        import shutil

        pd_dir = self._written(spark, tmp_path / "a")
        shutil.copytree(tmp_path / "a" / "pyr", tmp_path / "b")
        self._forbid_base_read(pd_dir, monkeypatch)
        mem_stats = pd_dir.build(spark)
        monkeypatch.undo()
        fresh = PyramidDirectory.open(str(tmp_path / "b"))
        assert fresh._base_rows is None
        read_stats = fresh.build(spark)
        assert [s["tiles"] for s in mem_stats] == [s["tiles"] for s in read_stats]
        for z in pd_dir.zooms[1:]:
            got, want = (
                _payload_map(p.level(z).read(spark).select(
                    "tile_zoom", "tile_row", "tile_col", "band", "payload"))
                for p in (pd_dir, fresh)
            )
            assert got == want and got

    def test_memo_unused_when_base_had_committed_chunks(self, spark, tmp_path):
        """A continue write onto a base with committed chunks did not
        define the whole level: build derives from the committed base."""
        pd_dir = self._pd(tmp_path)
        pd_dir.prepare()
        imgs = spark.createDataFrame(_images_pdf())
        first, second = imgs.where("image_id < 'img005'"), imgs.where("image_id >= 'img005'")
        pd_dir.write_base(materialize_tiles(first, PYR, ZOOM, bands=3))
        pd_dir.write_base(materialize_tiles(second, PYR, ZOOM, bands=3))
        assert pd_dir._base_rows is None
        pd_dir.build(spark)
        self._levels_equal_committed_derive(spark, pd_dir)

    def test_memo_unused_after_base_manifest_changed(self, spark, tmp_path):
        """A base commit between write_base and build (here a refresh
        of one chunk with new pixels) invalidates the kept rows."""
        pd_dir = self._written(spark, tmp_path)
        assert pd_dir._base_rows is not None
        one = _images_pdf().iloc[[0]].copy()
        one.loc[one.index[0], "bytes"] = codecs.encode_image(
            np.full((64, 64, 3), 200, np.uint8), "raw"
        )
        pd_dir.base.write(
            materialize_tiles(spark.createDataFrame(one), PYR, ZOOM, bands=3),
            mode="refresh",
        )
        pd_dir.build(spark)
        self._levels_equal_committed_derive(spark, pd_dir)

    def test_no_persisted_rows_outlive_build(self, spark, tmp_path, monkeypatch):
        """build releases the kept base rows and the all-level cache,
        also when a level write fails; the next write_base releases
        rows a build never consumed."""
        rdds = spark.sparkContext._jsc.getPersistentRDDs
        before = rdds().size()
        pd_dir = self._written(spark, tmp_path / "ok")
        assert rdds().size() > before
        pd_dir.build(spark)
        assert pd_dir._base_rows is None and rdds().size() == before

        pd_dir = self._written(spark, tmp_path / "boom")
        lvl = pd_dir.level(ZOOM - 2)

        def boom(*a, **k):
            raise RuntimeError("level write failed")

        monkeypatch.setattr(lvl, "write", boom)
        with pytest.raises(RuntimeError, match="level write failed"):
            pd_dir.build(spark)
        monkeypatch.undo()
        assert pd_dir._base_rows is None and rdds().size() == before

        pd_dir = self._written(spark, tmp_path / "twice")
        pd_dir.write_base(
            materialize_tiles(spark.createDataFrame(_images_pdf()), PYR, ZOOM, bands=3),
            mode="overwrite",
        )
        assert pd_dir._base_rows is not None
        pd_dir.build(spark)
        assert rdds().size() == before

    def test_level_sinks_are_built_once(self, tmp_path):
        """Each level is ONE TileDirectory for the pyramid's lifetime,
        so its memoized manifest state survives between calls."""
        pd_dir = self._pd(tmp_path)
        for z in pd_dir.zooms:
            assert pd_dir.level(z) is pd_dir.level(z)
        assert pd_dir.base is pd_dir.level(ZOOM)

    def test_read_without_zooms_raises(self, spark, tmp_path):
        pd_dir = self._pd(tmp_path)
        pd_dir.prepare()
        with pytest.raises(TileDirError, match=r"\[5, 4, 3\]"):
            pd_dir.read(spark, zooms=[])

    def test_build_is_resumable_noop(self, spark, tmp_path):
        pd_dir = self._pd(tmp_path)
        pd_dir.prepare()
        pd_dir.write_base(
            materialize_tiles(
                spark.createDataFrame(_images_pdf()), PYR, ZOOM, bands=3
            )
        )
        s1 = pd_dir.build(spark)
        s2 = pd_dir.build(spark)  # continue-mode: nothing re-derived
        assert all(s["tiles"] > 0 for s in s1)
        assert all(s["tiles"] == 0 for s in s2)

    def test_open_roundtrip_and_incompatible_refusal(self, spark, tmp_path):
        pd_dir = self._pd(tmp_path)
        pd_dir.prepare()
        back = PyramidDirectory.open(str(tmp_path / "pyr"))
        assert back.zooms == pd_dir.zooms
        assert back.base.cfg == pd_dir.base.cfg
        with pytest.raises(TileDirError, match="incompatible"):
            self._pd(tmp_path, chunk_tiles=8).prepare()
        with pytest.raises(TileDirError, match="levels"):
            PyramidDirectory(str(tmp_path / "x"), base_zoom=5, levels=0)
        with pytest.raises(TileDirError, match="below zoom 0"):
            PyramidDirectory(str(tmp_path / "x"), base_zoom=2, levels=3)

    def test_refresh_cascades(self, spark, tmp_path):
        pd_dir = self._pd(tmp_path)
        pd_dir.prepare()
        imgs = _images_pdf()
        pd_dir.write_base(
            materialize_tiles(spark.createDataFrame(imgs), PYR, ZOOM, bands=3)
        )
        pd_dir.build(spark)
        # overwrite one base region with different pixels, then refresh
        one = imgs.iloc[[0]].copy()
        arr = np.full((64, 64, 3), 200, np.uint8)
        one.loc[one.index[0], "bytes"] = codecs.encode_image(arr, "raw")
        changed = materialize_tiles(
            spark.createDataFrame(one), PYR, ZOOM, bands=3
        )
        pd_dir.base.write(changed, mode="refresh")
        pd_dir.refresh(
            spark, changed.select("tile_row", "tile_col").distinct()
        )
        # every level equals a fresh derive of the level below
        prev = pd_dir.base.read(spark).drop(
            "chunk_row", "chunk_col", "attempt_id"
        )
        for z in pd_dir.zooms[1:]:
            want = _payload_map(overview_level(prev))
            lvl = pd_dir.level(z).read(spark)
            got = _payload_map(
                lvl.select("tile_zoom", "tile_row", "tile_col", "band", "payload")
            )
            assert got == want, f"level z{z} diverged after refresh"
            prev = lvl.drop("chunk_row", "chunk_col", "attempt_id")

    def test_streaming_ingest_through_facade(self, spark, tmp_path):
        """The facade's streaming surface: one drop-folder micro-batch
        through streaming_ingest leaves every level equal to a batch
        build."""
        from mapchete_xarray_spark.operators.mosaic import (
            materialize_tiles as _mat,
        )

        pd_dir = self._pd(tmp_path)
        pd_dir.prepare()
        (tmp_path / "drop").mkdir()
        spark.createDataFrame(_images_pdf()).coalesce(1).write.mode(
            "append"
        ).parquet(str(tmp_path / "drop"))
        schema = spark.read.parquet(str(tmp_path / "drop")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / "drop"))
        )
        q = (
            pd_dir.streaming_ingest(stream, str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        want = _payload_map(
            _mat(
                spark.read.parquet(str(tmp_path / "drop")), PYR, ZOOM, bands=3
            ).select("tile_zoom", "tile_row", "tile_col", "band", "payload")
        )
        got = _payload_map(
            pd_dir.base.read(spark).select(
                "tile_zoom", "tile_row", "tile_col", "band", "payload"
            )
        )
        assert got == want and got
        prev = pd_dir.base.read(spark).drop(
            "chunk_row", "chunk_col", "attempt_id"
        )
        for z in pd_dir.zooms[1:]:
            want_l = _payload_map(overview_level(prev))
            lvl = pd_dir.level(z).read(spark)
            got_l = _payload_map(
                lvl.select("tile_zoom", "tile_row", "tile_col", "band", "payload")
            )
            assert got_l == want_l, f"streaming left z{z} inconsistent"
            prev = lvl.drop("chunk_row", "chunk_col", "attempt_id")

    def test_export_whole_pyramid(self, spark, tmp_path):
        pd_dir = self._pd(tmp_path)
        pd_dir.prepare()
        pd_dir.write_base(
            materialize_tiles(
                spark.createDataFrame(_images_pdf()), PYR, ZOOM, bands=3
            )
        )
        pd_dir.build(spark)
        out = tmp_path / "cache"
        totals = pd_dir.export_xyz(spark, str(out))
        n_rows = sum(
            pd_dir.level(z).read(spark)
            .select("tile_row", "tile_col").distinct().count()
            for z in pd_dir.zooms
        )
        assert totals["tiles"] == n_rows
        # every zoom level has files under its own prefix
        for z in pd_dir.zooms:
            assert any((out / str(z)).rglob("*.q8")), f"no tiles under {z}/"
        meta = json.loads((out / "metadata.json").read_text())
        assert meta["zooms"] == pd_dir.zooms
        assert meta["zoom"] == ZOOM  # read_xyz_tile reads the base level
        # a rendered top-level tile decodes to its sink planes
        z = pd_dir.zooms[-1]
        r = pd_dir.level(z).read(spark).where(F.col("band") == 0).first()
        f = out / str(z) / str(r.tile_col) / f"{r.tile_row}.q8"
        img = codecs.decode_image(f.read_bytes(), r.width, r.height, "q8")
        want = codecs.decode_image(
            codecs.encode_image(
                np.stack(
                    [
                        np.frombuffer(p.payload, np.uint8).reshape(
                            r.height, r.width
                        )
                        for p in pd_dir.level(z)
                        .read(spark)
                        .where(
                            (F.col("tile_row") == r.tile_row)
                            & (F.col("tile_col") == r.tile_col)
                        )
                        .orderBy("band")
                        .collect()
                    ],
                    axis=2,
                ),
                "q8",
            ),
            r.width, r.height, "q8",
        )
        np.testing.assert_array_equal(img, want)
