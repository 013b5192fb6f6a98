"""Zonal statistics + temporal compositing: brute-force/numpy parity,
nodata semantics, plan shape."""

import numpy as np
import pandas as pd
import pytest

from mapchete_xarray_spark import grid
from mapchete_xarray_spark.operators.composite import temporal_composite
from mapchete_xarray_spark.operators.mosaic import TILE_BANDS_SCHEMA
from mapchete_xarray_spark.operators.zonal import (
    zonal_stats,
    zonal_stats_bruteforce,
)
from mapchete_xarray_spark.sources.aoi import aoi_pandas

TPX = 16
ZOOM = 3  # geodetic z3: 8 x 16 tiles, pixel = 1.40625 deg
PYR = grid.Pyramid("geodetic", tile_size=TPX)


def _planes_pdf(seed=11, bands=2, tiles=None, ts_idx=0, nodata_frac=0.0):
    rng = np.random.default_rng(seed)
    tiles = tiles or [(r, c) for r in range(2, 5) for c in range(3, 8)]
    rows = []
    for tr, tc in tiles:
        for b in range(bands):
            plane = rng.integers(1, 255, size=(TPX, TPX)).astype(np.uint8)
            if nodata_frac:
                holes = rng.random((TPX, TPX)) < nodata_frac
                plane[holes] = 0
            rows.append(
                (ZOOM, tr, tc, b, ts_idx, TPX, TPX, "uint8",
                 np.ascontiguousarray(plane).tobytes(), 1)
            )
    return pd.DataFrame(
        rows, columns=[f.name for f in TILE_BANDS_SCHEMA.fields]
    )


def _assert_matches_bruteforce(spark, planes, zones, nodata=None):
    df = spark.createDataFrame(planes, TILE_BANDS_SCHEMA)
    got = {
        (r.aoi_id, r.band, r.ts_idx): r
        for r in zonal_stats(df, zones, PYR, ZOOM, nodata=nodata).collect()
    }
    want = zonal_stats_bruteforce(planes, zones, PYR, ZOOM, nodata=nodata)
    assert set(got) == set(want)
    for k, (n, s, mn, mx) in want.items():
        g = got[k]
        assert g.n_pixels == n, k
        assert g.px_sum == s, k  # integer-valued → exact in float64
        assert g.px_min == mn and g.px_max == mx, k
        assert g.px_mean == pytest.approx(round(s / n, 6), abs=1e-9), k
    return got, want


class TestZonal:
    def test_matches_bruteforce(self, spark):
        planes = _planes_pdf()
        zones = aoi_pandas(30)
        got, want = _assert_matches_bruteforce(spark, planes, zones)
        assert want, "fixture must produce at least one zone hit"

    def test_nodata_excluded(self, spark):
        planes = _planes_pdf(seed=12, nodata_frac=0.3)
        zones = aoi_pandas(30)
        got_nd, want_nd = _assert_matches_bruteforce(
            spark, planes, zones, nodata=0
        )
        # excluding nodata must shrink at least one zone's pixel count
        _, want_all = _assert_matches_bruteforce(spark, planes, zones)
        assert any(
            want_nd[k][0] < want_all[k][0] for k in want_nd if k in want_all
        )
        # a zone whose pixels are ALL nodata is absent from the output
        assert all(n > 0 for (n, *_rest) in want_nd.values())

    def test_bands_and_ts_are_separate_rows(self, spark):
        p0 = _planes_pdf(seed=13, bands=2, ts_idx=0, tiles=[(3, 5)])
        p1 = _planes_pdf(seed=14, bands=2, ts_idx=1, tiles=[(3, 5)])
        planes = pd.concat([p0, p1], ignore_index=True)
        zones = aoi_pandas(30)
        got, want = _assert_matches_bruteforce(spark, planes, zones)
        keys = set(want)
        some_zone = next(iter(keys))[0]
        mine = {k for k in keys if k[0] == some_zone}
        assert {(b, t) for (_, b, t) in mine} == {(b, t) for b in (0, 1) for t in (0, 1)}

    def test_zone_off_coverage_absent(self, spark):
        planes = _planes_pdf(tiles=[(2, 3)])  # one tile around (-90..-67, 22..45)
        # zones far away (southern hemisphere blob)
        from mapchete_xarray_spark.geom import polygon_bounds, polygon_wkb

        ring = np.array(
            [[100.0, -50.0], [105.0, -50.0], [105.0, -45.0], [100.0, -45.0], [100.0, -50.0]]
        )
        zones = pd.DataFrame(
            [("far", polygon_wkb(ring), *polygon_bounds(ring))],
            columns=["aoi_id", "wkb", "minx", "miny", "maxx", "maxy"],
        )
        df = spark.createDataFrame(planes, TILE_BANDS_SCHEMA)
        assert zonal_stats(df, zones, PYR, ZOOM).count() == 0

    def test_non_finite_zone_box_raises(self, spark):
        """A NaN envelope is refused, not left to drop zones silently."""
        zones = aoi_pandas(20)
        zones.loc[0, "minx"] = np.nan
        df = spark.createDataFrame(_planes_pdf(), TILE_BANDS_SCHEMA)
        with pytest.raises(Exception, match="boxes must be finite"):
            zonal_stats(df, zones, PYR, ZOOM).collect()

    def test_empty_zone_table(self, spark):
        """An empty zone table gives zonal_stats no rows and
        rasterize_zones no planes."""
        from mapchete_xarray_spark.operators.rasterize import rasterize_zones

        zones = aoi_pandas(20).iloc[:0]
        df = spark.createDataFrame(_planes_pdf(), TILE_BANDS_SCHEMA)
        assert zonal_stats(df, zones, PYR, ZOOM).count() == 0
        assert rasterize_zones(spark, zones, PYR, ZOOM).count() == 0

    def test_wrong_zoom_raises(self, spark):
        planes = _planes_pdf(tiles=[(2, 3)])
        df = spark.createDataFrame(planes, TILE_BANDS_SCHEMA)
        with pytest.raises(Exception, match="single-zoom"):
            zonal_stats(df, aoi_pandas(5), PYR, ZOOM + 1).collect()

    def test_one_exchange_in_plan(self, spark):
        planes = _planes_pdf(tiles=[(3, 5)])
        df = spark.createDataFrame(planes, TILE_BANDS_SCHEMA)
        out = zonal_stats(df, aoi_pandas(10), PYR, ZOOM)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # map-only partials + ONE shuffle for the final merge; pixel
        # payloads never cross an Exchange
        assert plan.count("Exchange") == 1, plan

    def test_partials_are_map_only(self, spark):
        from mapchete_xarray_spark.operators.zonal import zonal_partials

        planes = _planes_pdf(tiles=[(3, 5)])
        df = spark.createDataFrame(planes, TILE_BANDS_SCHEMA)
        plan = (zonal_partials(df, aoi_pandas(10), PYR, ZOOM)
                ._jdf.queryExecution().executedPlan().toString())
        assert "Exchange" not in plan, plan


def _member_values_bruteforce(planes, zones, nodata=None):
    """Independent membership: full-tile PNPOLY per (plane, zone) —
    {(aoi_id, band, ts_idx): sorted np.array of member pixel values}."""
    from mapchete_xarray_spark.geom import points_in_polygon, wkb_rings

    rings = [wkb_rings(w) for w in zones["wkb"]]
    out = {}
    for r in planes.itertuples():
        b = grid.tile_bounds(PYR, ZOOM, int(r.tile_row), int(r.tile_col))
        xs, ys = grid.pixel_center_coords(b, (TPX, TPX), PYR, ZOOM)
        gx = np.broadcast_to(xs, (TPX, TPX))
        gy = np.broadcast_to(ys[:, None], (TPX, TPX))
        arr = np.frombuffer(r.payload, dtype=np.dtype(r.dtype)).reshape(
            TPX, TPX
        )
        for z, ring in enumerate(rings):
            m = points_in_polygon(gx.ravel(), gy.ravel(), ring).reshape(
                TPX, TPX
            )
            vals = arr[m]
            if nodata is not None:
                vals = vals[vals != nodata]
            if len(vals):
                k = (zones.aoi_id.iloc[z], int(r.band), int(r.ts_idx))
                out[k] = np.concatenate([out.get(k, vals[:0]), vals])
    return {k: np.sort(v) for k, v in out.items()}


class TestZonalHistogram:
    def test_histogram_matches_bruteforce(self, spark):
        from mapchete_xarray_spark.operators.zonal import zonal_histogram

        planes = _planes_pdf(seed=17, nodata_frac=0.2)
        zones = aoi_pandas(30)
        df = spark.createDataFrame(planes, TILE_BANDS_SCHEMA)
        got = {}
        for r in zonal_histogram(df, zones, PYR, ZOOM, nodata=0).collect():
            got.setdefault((r.aoi_id, r.band, r.ts_idx), {})[r.val] = r.cnt
        want_vals = _member_values_bruteforce(planes, zones, nodata=0)
        want = {
            k: dict(zip(*[a.tolist() for a in np.unique(v, return_counts=True)]))
            for k, v in want_vals.items()
        }
        assert got == want and want

    def test_percentiles_match_numpy_nearest_rank(self, spark):
        from mapchete_xarray_spark.operators.zonal import (
            zonal_histogram,
            zonal_percentiles,
        )

        planes = _planes_pdf(seed=18)
        zones = aoi_pandas(30)
        df = spark.createDataFrame(planes, TILE_BANDS_SCHEMA)
        hist = zonal_histogram(df, zones, PYR, ZOOM)
        ps = (0.25, 0.5, 0.95, 1.0)
        got = {
            (r.aoi_id, r.band, r.ts_idx): r
            for r in zonal_percentiles(hist, ps).collect()
        }
        want_vals = _member_values_bruteforce(planes, zones)
        assert set(got) == set(want_vals) and want_vals
        for k, sv in want_vals.items():
            g = got[k]
            n = len(sv)
            assert g.n_pixels == n
            for p, name in zip(ps, ("p25", "p50", "p95", "p100")):
                rank = int(np.ceil(p * n))
                assert getattr(g, name) == int(sv[rank - 1]), (k, name)

        with pytest.raises(ValueError, match="percentile must be"):
            zonal_percentiles(hist, (1.5,))

    def test_float_plane_raises(self, spark):
        from mapchete_xarray_spark.operators.zonal import zonal_histogram

        arr = np.random.default_rng(1).random((TPX, TPX)).astype(np.float32)
        planes = pd.DataFrame(
            [(ZOOM, 3, 5, 0, 0, TPX, TPX, "float32", arr.tobytes(), 1)],
            columns=[f.name for f in TILE_BANDS_SCHEMA.fields],
        )
        df = spark.createDataFrame(planes, TILE_BANDS_SCHEMA)
        with pytest.raises(Exception, match="integer dtype"):
            zonal_histogram(df, aoi_pandas(30), PYR, ZOOM).collect()

class TestRasterZonal:
    def _pair(self, spark, seed=81, label_vals=(0, 1, 2, 3)):
        rng = np.random.default_rng(seed)
        tiles = [(r, c) for r in (2, 3) for c in (4, 5, 6)]
        vrows, lrows = [], []
        vmap, lmap = {}, {}
        for tr, tc in tiles:
            v = rng.integers(0, 255, (TPX, TPX)).astype(np.uint8)
            l = rng.choice(label_vals, (TPX, TPX)).astype(np.uint16)
            vmap[(tr, tc)] = v
            lmap[(tr, tc)] = l
            vrows.append((ZOOM, tr, tc, 0, 0, TPX, TPX, "uint8",
                          v.tobytes(), 1))
            lrows.append((ZOOM, tr, tc, 0, 0, TPX, TPX, "uint16",
                          l.tobytes(), 1))
        return (
            spark.createDataFrame(vrows, TILE_BANDS_SCHEMA),
            spark.createDataFrame(lrows, TILE_BANDS_SCHEMA),
            vmap, lmap,
        )

    def test_matches_numpy(self, spark):
        from mapchete_xarray_spark.operators.zonal import raster_zonal_stats

        vdf, ldf, vmap, lmap = self._pair(spark)
        got = {
            r.label: r
            for r in raster_zonal_stats(vdf, ldf, nodata=0).collect()
        }
        # numpy reference over the stitched pair
        allv = np.concatenate([vmap[k].ravel() for k in sorted(vmap)])
        alll = np.concatenate([lmap[k].ravel() for k in sorted(lmap)])
        keep = (alll != 0) & (allv != 0)
        want_labels = set(np.unique(alll[keep]).tolist())
        assert set(got) == want_labels and want_labels
        for lab in want_labels:
            sel = allv[keep & (alll == lab)].astype(np.float64)
            g = got[lab]
            assert g.n_pixels == len(sel)
            assert g.px_sum == sel.sum()
            assert g.px_min == sel.min() and g.px_max == sel.max()
            assert g.px_mean == round(float(sel.mean()), 6)
            assert g.px_std == round(float(sel.std()), 6)

    def test_missing_label_tile_contributes_nothing(self, spark):
        from mapchete_xarray_spark.operators.zonal import raster_zonal_stats

        vdf, ldf, vmap, lmap = self._pair(spark, seed=82)
        ldf2 = ldf.where("tile_col != 6")
        got = {
            r.label: r.n_pixels
            for r in raster_zonal_stats(vdf, ldf2).collect()
        }
        want = {}
        for k in vmap:
            if k[1] == 6:
                continue
            for lab in np.unique(lmap[k]):
                if lab == 0:
                    continue
                want[int(lab)] = want.get(int(lab), 0) + int(
                    (lmap[k] == lab).sum()
                )
        assert got == want

    def test_label_side_pinned_to_one_ts(self, spark):
        # ADVICE r5: a label archive with a time axis must not join
        # every label step to every value plane (multiplying moments)
        from mapchete_xarray_spark.operators.zonal import raster_zonal_stats

        vdf, ldf, vmap, lmap = self._pair(spark, seed=84)
        # duplicate the label planes at ts_idx=1 with a DIFFERENT
        # labeling (everything → label 9)
        nine = [
            (ZOOM, tr, tc, 0, 1, TPX, TPX, "uint16",
             np.full((TPX, TPX), 9, np.uint16).tobytes(), 1)
            for (tr, tc) in lmap
        ]
        ldf2 = ldf.union(spark.createDataFrame(nine, TILE_BANDS_SCHEMA))
        base = {(r.label, r.ts_idx): r.n_pixels
                for r in raster_zonal_stats(vdf, ldf, nodata=0).collect()}
        got = {(r.label, r.ts_idx): r.n_pixels
               for r in raster_zonal_stats(vdf, ldf2, nodata=0).collect()}
        assert got == base  # ts_idx=1 labels ignored at default pin
        only9 = raster_zonal_stats(
            vdf, ldf2, nodata=0, label_ts_idx=1
        ).collect()
        assert {r.label for r in only9} == {9}

    def test_float_label_plane_raises(self, spark):
        from mapchete_xarray_spark.operators.zonal import raster_zonal_stats

        vdf, _, _, _ = self._pair(spark, seed=83)
        bad = spark.createDataFrame(
            [(ZOOM, 2, 4, 0, 0, TPX, TPX, "float32",
              np.zeros((TPX, TPX), np.float32).tobytes(), 1)],
            TILE_BANDS_SCHEMA,
        )
        with pytest.raises(Exception, match="integer dtype"):
            raster_zonal_stats(vdf, bad).collect()

    def test_rasterize_label_roundtrip(self, spark):
        """Burn zones → raster zonal of a value plane per burned label
        equals the polygon-mode zonal of the same zones (disjoint
        zones, shared pixel-center membership)."""
        from mapchete_xarray_spark.operators.rasterize import (
            rasterize_zones,
        )
        from mapchete_xarray_spark.operators.zonal import (
            raster_zonal_stats,
        )

        z1 = [[-60.0, -30.0], [-20.0, -35.0], [-25.0, 5.0], [-55.0, 10.0],
              [-60.0, -30.0]]
        z2 = [[100.0, 20.0], [140.0, 15.0], [135.0, 50.0], [105.0, 55.0],
              [100.0, 20.0]]
        import pandas as pd

        from mapchete_xarray_spark.geom import polygon_bounds, polygon_wkb

        rows = []
        for aoi_id, ring in (("z1", z1), ("z2", z2)):
            ring = np.asarray(ring)
            b = polygon_bounds(ring)
            rows.append({"aoi_id": aoi_id, "wkb": polygon_wkb(ring),
                         "minx": b[0], "miny": b[1], "maxx": b[2],
                         "maxy": b[3]})
        zones = pd.DataFrame(rows)
        labels = rasterize_zones(spark, zones, PYR, ZOOM)
        # value plane covering the SAME tiles as the label plane
        lab_tiles = [(r.tile_row, r.tile_col) for r in labels.collect()]
        rng = np.random.default_rng(84)
        vdf = spark.createDataFrame(
            [(ZOOM, tr, tc, 0, 0, TPX, TPX, "uint8",
              rng.integers(1, 255, (TPX, TPX)).astype(np.uint8).tobytes(),
              1) for tr, tc in lab_tiles],
            TILE_BANDS_SCHEMA,
        )
        by_label = {
            r.label: (r.n_pixels, r.px_sum)
            for r in raster_zonal_stats(vdf, labels).collect()
        }
        by_zone = {
            r.aoi_id: (r.n_pixels, r.px_sum)
            for r in zonal_stats(vdf, zones, PYR, ZOOM).collect()
        }
        assert by_label == {1: by_zone["z1"], 2: by_zone["z2"]}


def _stack_rows(stacks, tile=(1, 1), band=0, dtype="uint8"):
    """stacks: {ts_idx: 2d array}"""
    rows = []
    for ts, arr in stacks.items():
        a = np.asarray(arr, dtype=np.dtype(dtype))
        rows.append(
            (ZOOM, tile[0], tile[1], band, ts, a.shape[0], a.shape[1],
             dtype, np.ascontiguousarray(a).tobytes(), 1)
        )
    return rows


def _plane_of(df, tile=(1, 1), band=0, dtype=np.uint8):
    rows = df.collect()
    sel = [r for r in rows if (r.tile_row, r.tile_col, r.band) == (*tile, band)]
    assert len(sel) == 1
    r = sel[0]
    assert r.ts_idx == 0
    return np.frombuffer(r.payload, dtype=dtype).reshape(r.height, r.width), r


class TestComposite:
    def test_median_matches_numpy_with_nodata(self, spark):
        rng = np.random.default_rng(21)
        n = 4
        stacks = {}
        for t in range(5):
            a = rng.integers(1, 255, size=(n, n)).astype(np.uint8)
            a[rng.random((n, n)) < 0.35] = 0
            stacks[t] = a
        df = spark.createDataFrame(_stack_rows(stacks, dtype="uint8"),
                                   TILE_BANDS_SCHEMA)
        got, row = _plane_of(temporal_composite(df, "median", nodata=0))
        st = np.stack([stacks[t] for t in range(5)]).astype(np.float64)
        st[st == 0] = np.nan
        import warnings
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            want = np.nanmedian(st, axis=0)
        want = np.where(np.isnan(want), 0, np.floor(want + 0.5)).astype(np.uint8)
        np.testing.assert_array_equal(got, want)
        assert row.n_sources == 5

    def test_even_count_median_rounds_half_up(self, spark):
        stacks = {0: [[10]], 1: [[11]], 2: [[20]], 3: [[30]]}
        df = spark.createDataFrame(
            [(ZOOM, 0, 0, 0, t, 1, 1, "uint8",
              np.array(v, np.uint8).tobytes(), 1) for t, v in stacks.items()],
            TILE_BANDS_SCHEMA)
        got, _ = _plane_of(temporal_composite(df, "median"), tile=(0, 0))
        # middles are 11 and 20 → 15.5 → round-half-up 16
        assert got[0, 0] == 16

    def test_methods_on_known_stack(self, spark):
        # per-pixel: [nodata, 40, 10] over ts 0,1,2
        stacks = {0: [[0]], 1: [[40]], 2: [[10]]}
        rows = [(ZOOM, 0, 0, 0, t, 1, 1, "uint8",
                 np.array(v, np.uint8).tobytes(), 1) for t, v in stacks.items()]
        expect = {"median": 25, "mean": 25, "min": 10, "max": 40,
                  "first": 40, "latest": 10}
        for meth, val in expect.items():
            df = spark.createDataFrame(rows, TILE_BANDS_SCHEMA)
            got, _ = _plane_of(temporal_composite(df, meth, nodata=0),
                               tile=(0, 0))
            assert got[0, 0] == val, meth

    def test_all_hole_pixel_comes_back_nodata(self, spark):
        stacks = {0: [[7, 0]], 1: [[9, 0]]}
        df = spark.createDataFrame(
            [(ZOOM, 0, 0, 0, t, 1, 2, "uint8",
              np.array(v, np.uint8).tobytes(), 1) for t, v in stacks.items()],
            TILE_BANDS_SCHEMA)
        got, _ = _plane_of(temporal_composite(df, "median", nodata=0),
                           tile=(0, 0))
        assert got[0, 0] == 8 and got[0, 1] == 0

    def test_groups_are_per_tile_band(self, spark):
        rows = (_stack_rows({0: [[1, 1], [1, 1]], 1: [[3, 3], [3, 3]]},
                            tile=(1, 1), band=0)
                + _stack_rows({0: [[9, 9], [9, 9]]}, tile=(1, 1), band=1)
                + _stack_rows({0: [[5, 5], [5, 5]]}, tile=(2, 2), band=0))
        df = spark.createDataFrame(rows, TILE_BANDS_SCHEMA)
        out = temporal_composite(df, "mean")
        assert out.count() == 3
        g, _ = _plane_of(out, tile=(1, 1), band=0)
        assert g[0, 0] == 2
        g, _ = _plane_of(out, tile=(1, 1), band=1)
        assert g[0, 0] == 9

    def test_float_dtype_passthrough(self, spark):
        stacks = {0: [[1.5]], 1: [[2.5]], 2: [[4.0]]}
        df = spark.createDataFrame(
            [(ZOOM, 0, 0, 0, t, 1, 1, "float32",
              np.array(v, np.float32).tobytes(), 1) for t, v in stacks.items()],
            TILE_BANDS_SCHEMA)
        got, _ = _plane_of(temporal_composite(df, "median"), tile=(0, 0),
                           dtype=np.float32)
        assert got[0, 0] == pytest.approx(2.5)

    def test_errors(self, spark):
        df = spark.createDataFrame(
            _stack_rows({0: [[1]]}, tile=(0, 0)), TILE_BANDS_SCHEMA)
        with pytest.raises(ValueError, match="unknown composite method"):
            temporal_composite(df, "mode")
        mixed = spark.createDataFrame(
            [(ZOOM, 0, 0, 0, 0, 1, 1, "uint8", b"\x01", 1),
             (ZOOM, 0, 0, 0, 1, 1, 2, "uint8", b"\x01\x02", 1)],
            TILE_BANDS_SCHEMA)
        with pytest.raises(Exception, match="disagree on shape"):
            temporal_composite(mixed, "median").collect()

    def test_one_exchange_in_plan(self, spark):
        df = spark.createDataFrame(
            _stack_rows({0: [[1]], 1: [[2]]}, tile=(0, 0)), TILE_BANDS_SCHEMA)
        plan = (temporal_composite(df, "median")
                ._jdf.queryExecution().executedPlan().toString())
        assert plan.count("Exchange") == 1, plan

    def test_job_composite_process(self, spark, tmp_path):
        """Job surface: multi-ts sink → process: composite → single-
        layer sink equal to a direct temporal_composite."""
        from mapchete_xarray_spark.plans.job import Job
        from mapchete_xarray_spark.sources.tiledir import (
            TileDirConfig,
            TileDirectory,
            TileDirError,
        )

        steps = ["2021-01-01", "2021-01-02", "2021-01-03"]
        src = TileDirectory(
            TileDirConfig(path=str(tmp_path / "stack"), zoom=ZOOM, bands=1,
                          tile_size=TPX, time={"steps": steps})
        )
        src.prepare()
        rng = np.random.default_rng(27)
        rows = []
        for ts in range(3):
            a = rng.integers(0, 255, (TPX, TPX)).astype(np.uint8)
            a[rng.random((TPX, TPX)) < 0.3] = 0
            rows.append((ZOOM, 3, 5, 0, ts, TPX, TPX, "uint8",
                         a.tobytes(), 1))
        src.write(spark.createDataFrame(rows, TILE_BANDS_SCHEMA))

        spec = {
            "process": "composite",
            "composite": "median",
            "zoom_levels": [ZOOM],
            "input": {"path": str(tmp_path / "stack")},
            "output": {"path": str(tmp_path / "flat"), "bands": 1,
                       "tile_size": TPX},
        }
        r = Job(spec).run(spark)
        assert r["tiles"] == 1
        got = TileDirectory.open(str(tmp_path / "flat")).read(
            spark
        ).collect()
        assert len(got) == 1 and got[0].ts_idx == 0
        want = temporal_composite(
            src.read(spark).drop("chunk_row", "chunk_col", "attempt_id"),
            "median", nodata=0,
        ).collect()
        assert got[0].payload == want[0].payload
        assert got[0].n_sources == want[0].n_sources == 3

        bad = dict(spec, output={"path": str(tmp_path / "flat2"),
                                 "bands": 1, "tile_size": TPX,
                                 "time": {"steps": steps}})
        with pytest.raises(TileDirError, match="single layer"):
            Job(bad).run(spark)

    def test_sparse_split_matches_dense(self, spark):
        """Mixed sparse/dense fixture: for every method, with nodata
        holes, the single-plane integer tiles come back byte-identical
        (the dense path's single-plane shortcut) with ts_idx 0 and
        their own n_sources, next to the two composited stacks."""
        rng = np.random.default_rng(23)
        rows = []
        # 6 single-plane tiles, 2 multi-plane stacks, with holes
        for t in range(6):
            a = rng.integers(0, 255, (4, 4)).astype(np.uint8)
            rows += [(ZOOM, 5, t, 0, 2, 4, 4, "uint8", a.tobytes(), 3)]
        for t in (10, 11):
            for ts in range(3):
                a = rng.integers(0, 255, (4, 4)).astype(np.uint8)
                a[rng.random((4, 4)) < 0.3] = 0
                rows += [(ZOOM, 5, t, 0, ts, 4, 4, "uint8", a.tobytes(), 1)]
        df = spark.createDataFrame(rows, TILE_BANDS_SCHEMA)
        singles = {(5, t, 0): (rows[t][8], 0, 3) for t in range(6)}
        for meth in ("median", "mean", "min", "max", "first", "latest"):
            got = {
                (r.tile_row, r.tile_col, r.band):
                (r.payload, r.ts_idx, r.n_sources)
                for r in temporal_composite(df, meth, nodata=0).collect()
            }
            assert len(got) == 8, meth
            assert {k: got[k] for k in singles} == singles, meth

    def test_sparse_float_single_follows_nan_rule(self, spark):
        # a raw-NaN pixel in a float single-plane tile maps to fill —
        # the single-plane shortcut must not pass float planes through
        a = np.array([[1.5, np.nan]], dtype=np.float32)
        df = spark.createDataFrame(
            [(ZOOM, 0, 0, 0, 0, 1, 2, "float32", a.tobytes(), 1)],
            TILE_BANDS_SCHEMA)
        got, _ = _plane_of(
            temporal_composite(df, "median"), tile=(0, 0),
            dtype=np.float32)
        assert got[0, 0] == pytest.approx(1.5) and got[0, 1] == 0.0
