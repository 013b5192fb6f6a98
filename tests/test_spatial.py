"""Spatial operator correctness: bucket grid, ray-cast PIP,
ring kNN, salted aggregation — each against a brute-force reference."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapchete_xarray_spark.geom import (
    BoxGrid,
    EdgeTable,
    points_in_polygon,
    polygon_bounds,
    polygon_wkb,
    wkb_polygon,
    wkb_rings,
)
from mapchete_xarray_spark.sources.aoi import aoi_pandas, aoi_ring

RNG = np.random.default_rng(7)


class TestWKB:
    def test_roundtrip(self):
        ring = aoi_ring(5)
        out = wkb_polygon(polygon_wkb(ring))
        np.testing.assert_allclose(out, ring)

    def test_rejects_non_polygon(self):
        import struct

        point_wkb = struct.pack("<BIdd", 1, 1, 1.0, 2.0)
        with pytest.raises(ValueError):
            wkb_polygon(point_wkb)


def _random_boxes(rng, nb, snap, cover):
    """Random boxes, snapped to multiples of 5 when ``snap`` (shared
    edges, zero-width and zero-height boxes), optionally plus one box
    over the whole extent."""
    lo = rng.uniform(-50, 50, (nb, 2))
    size = rng.exponential(5, (nb, 2)) * (rng.random((nb, 2)) > 0.2)
    if snap:
        lo, size = np.round(lo / 5) * 5, np.round(size / 5) * 5
    boxes = np.column_stack([lo, lo + size])
    if cover and nb:
        boxes = np.vstack([boxes, [[boxes[:, 0].min(), boxes[:, 1].min(),
                                    boxes[:, 2].max(), boxes[:, 3].max()]]])
    return boxes


class TestBoxGrid:
    """``BoxGrid.query_points`` returns exactly the pairs of a
    brute-force inclusive envelope check, each once."""

    @staticmethod
    def _check(boxes, px, py):
        boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
        px, py = np.asarray(px, dtype=np.float64), np.asarray(py, dtype=np.float64)
        p, b = BoxGrid(boxes).query_points(px, py)
        got = list(zip(p.tolist(), b.tolist()))
        assert len(got) == len(set(got))
        inside = (
            (px[:, None] >= boxes[None, :, 0])
            & (px[:, None] <= boxes[None, :, 2])
            & (py[:, None] >= boxes[None, :, 1])
            & (py[:, None] <= boxes[None, :, 3])
        )
        assert set(got) == set(zip(*(i.tolist() for i in np.nonzero(inside))))
        return got

    def test_vs_bruteforce(self):
        boxes = np.column_stack(
            [
                RNG.uniform(-100, 90, 300),
                RNG.uniform(-80, 70, 300),
                np.zeros(300),
                np.zeros(300),
            ]
        )
        boxes[:, 2] = boxes[:, 0] + RNG.uniform(0.1, 20, 300)
        boxes[:, 3] = boxes[:, 1] + RNG.uniform(0.1, 15, 300)
        self._check(boxes, RNG.uniform(-110, 120, 500), RNG.uniform(-90, 90, 500))

    def test_single_box(self):
        got = self._check([[0.0, 0.0, 10.0, 10.0]], [5.0, 20.0, 10.0], [5.0, 5.0, 0.0])
        assert sorted(got) == [(0, 0), (2, 0)]

    def test_empty_grid(self):
        assert self._check(np.empty((0, 4)), [5.0], [5.0]) == []

    def test_non_finite_coordinates(self):
        """Non-finite or far-out points match nothing; a non-finite box
        is refused."""
        nan, inf = float("nan"), float("inf")
        got = self._check(
            [[0.0, 0.0, 10.0, 10.0]],
            [nan, 5.0, inf, -inf, 5.0, 1e308, -1e308],
            [5.0, nan, 5.0, 5.0, 5.0, 5.0, 5.0],
        )
        assert got == [(4, 0)]
        with pytest.raises(ValueError, match="finite"):
            BoxGrid(np.array([[-inf, 0.0, 1.0, 1.0]]))

    @given(
        st.integers(0, 60),
        st.integers(0, 40),
        st.integers(0, 10**6),
        st.booleans(),
        st.booleans(),
    )
    @settings(max_examples=60, deadline=None)
    def test_property(self, nb, npts, seed, snap, cover):
        """``_random_boxes``; points random plus every box corner,
        every edge midpoint and every cell boundary of the grid."""
        rng = np.random.default_rng(seed)
        boxes = _random_boxes(rng, nb, snap, cover)
        px = [rng.uniform(-60, 60, npts)]
        py = [rng.uniform(-60, 60, npts)]
        for x, y in ((0, 1), (2, 3), (0, 3), (2, 1)):
            px.append(boxes[:, x])
            py.append(boxes[:, y])
        px.append((boxes[:, 0] + boxes[:, 2]) / 2)
        py.append(boxes[:, 1])
        px.append(boxes[:, 0])
        py.append((boxes[:, 1] + boxes[:, 3]) / 2)
        g = BoxGrid(boxes)
        cx = g.x0 + g.side * np.arange(g.nx + 1)
        cy = g.y0 + g.side * np.arange(g.ny + 1)
        px.append(np.repeat(cx, len(cy)))
        py.append(np.tile(cy, len(cx)))
        self._check(boxes, np.concatenate(px), np.concatenate(py))

    @given(
        st.integers(0, 60),
        st.integers(0, 30),
        st.integers(0, 10**6),
        st.booleans(),
        st.booleans(),
    )
    @settings(max_examples=60, deadline=None)
    def test_query_boxes_property(self, nb, nq, seed, snap, cover):
        """``query_boxes`` returns exactly the pairs of a brute-force
        inclusive overlap check, each once, sorted by (query, box).
        Boxes: ``_random_boxes``.  Queries: random (snapped with the
        boxes), every box itself and its edges as zero-width and
        zero-height queries (touching its neighbours' edges), boxes
        outside the grid, and one over the whole grid."""
        rng = np.random.default_rng(seed)
        boxes = _random_boxes(rng, nb, snap, cover)
        q = _random_boxes(rng, nq, snap, False)
        far = [[200.0, 200.0, 300.0, 300.0], [-300.0, -10.0, -200.0, 10.0],
               [-10.0, 200.0, 10.0, 300.0]]
        whole = [[-1e3, -1e3, 1e3, 1e3]]
        qboxes = np.vstack([q, boxes, boxes[:, [0, 1, 0, 3]],
                            boxes[:, [0, 3, 2, 3]], far, whole])
        qi, bi = BoxGrid(boxes).query_boxes(qboxes)
        got = list(zip(qi.tolist(), bi.tolist()))
        assert got == sorted(set(got))
        a, b = qboxes[:, None, :], boxes[None, :, :]
        overlap = (
            (a[..., 0] <= b[..., 2]) & (a[..., 2] >= b[..., 0])
            & (a[..., 1] <= b[..., 3]) & (a[..., 3] >= b[..., 1])
        )
        assert set(got) == set(zip(*(i.tolist() for i in np.nonzero(overlap))))


class TestEdgeTable:
    def test_all_pairs_equal_points_in_polygon(self):
        """The one-pass refine equals ``points_in_polygon`` per
        geometry, bit for bit, on random points plus every ring vertex
        and edge midpoint of the fixture (holes and multiparts)."""
        aoi = aoi_pandas(60)
        geoms = [wkb_rings(w) for w in aoi.wkb]
        assert any(len(g) > 1 for g in geoms)
        verts = np.vstack([r for g in geoms for r in g])
        mids = np.vstack([(r[:-1] + r[1:]) / 2 for g in geoms for r in g])
        pts = np.vstack([verts, mids, RNG.uniform([-180, -90], [180, 90], (2000, 2))])
        table = EdgeTable(geoms)
        pair_p = np.tile(np.arange(len(pts)), len(geoms))
        pair_g = np.repeat(np.arange(len(geoms)), len(pts))
        got = table.contains(pts[pair_p, 0], pts[pair_p, 1], pair_g)
        want = np.concatenate(
            [points_in_polygon(pts[:, 0], pts[:, 1], g) for g in geoms]
        )
        np.testing.assert_array_equal(got, want)
        assert want.any()

    def test_no_pairs(self):
        table = EdgeTable([wkb_rings(w) for w in aoi_pandas(3).wkb])
        empty = np.empty(0)
        assert table.contains(empty, empty, empty.astype(np.int64)).shape == (0,)


class TestRayCast:
    def test_square(self):
        ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
        inside = points_in_polygon(np.array([5.0]), np.array([5.0]), ring)
        outside = points_in_polygon(np.array([15.0]), np.array([5.0]), ring)
        assert inside[0] and not outside[0]

    def test_concave(self):
        # U-shape: the notch is outside
        ring = np.array(
            [[0, 0], [10, 0], [10, 10], [6, 10], [6, 4], [4, 4], [4, 10], [0, 10], [0, 0]],
            dtype=float,
        )
        r = points_in_polygon(np.array([5.0, 2.0]), np.array([7.0, 7.0]), ring)
        assert not r[0] and r[1]

    def test_vs_matplotlib_free_brute(self):
        """Winding-independent check: centroid of every AOI is inside
        its own convex blob."""
        for j in range(0, 50, 7):
            ring = aoi_ring(j)
            cx, cy = ring[:-1, 0].mean(), ring[:-1, 1].mean()
            assert points_in_polygon(np.array([cx]), np.array([cy]), ring)[0]


class TestHolesAndMultiParts:
    EXT = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    HOLE = np.array([[3, 3], [7, 3], [7, 7], [3, 7], [3, 3]], dtype=float)

    def test_hole_parity(self):
        rings = [self.EXT, self.HOLE]
        # in hole → out; in shell annulus → in; outside → out
        got = points_in_polygon(
            np.array([5.0, 1.0, 11.0]), np.array([5.0, 1.0, 5.0]), rings
        )
        assert got.tolist() == [False, True, False]

    def test_polygon_wkb_holes_roundtrip(self):
        from mapchete_xarray_spark.geom import wkb_rings

        rr = wkb_rings(polygon_wkb([self.EXT, self.HOLE]))
        assert len(rr) == 2
        np.testing.assert_array_equal(rr[0], self.EXT)
        np.testing.assert_array_equal(rr[1], self.HOLE)

    def test_multipolygon_wkb_roundtrip(self):
        from mapchete_xarray_spark.geom import multipolygon_wkb, wkb_rings

        rr = wkb_rings(multipolygon_wkb([[self.EXT, self.HOLE], [self.EXT + 20]]))
        assert len(rr) == 3
        got = points_in_polygon(
            np.array([25.0, 5.0, 1.0]), np.array([25.0, 5.0, 1.0]), rr
        )
        assert got.tolist() == [True, False, True]

    def test_wkb_polygon_strict_on_holes(self):
        with pytest.raises(ValueError, match="rings"):
            wkb_polygon(polygon_wkb([self.EXT, self.HOLE]))

    def test_fixture_contains_holes_and_multiparts(self):
        from mapchete_xarray_spark.geom import wkb_rings
        from mapchete_xarray_spark.sources.aoi import aoi_geometry

        g7 = aoi_geometry(7)
        assert len(g7) == 1 and len(g7[0]) == 2  # holed
        g13 = aoi_geometry(13)
        assert len(g13) == 2  # two parts
        # hole centroid excluded by the full geometry, included by the
        # exterior alone
        ext, hole = g7[0]
        hx, hy = np.array([hole[:-1, 0].mean()]), np.array([hole[:-1, 1].mean()])
        assert points_in_polygon(hx, hy, ext)[0]
        assert not points_in_polygon(hx, hy, g7[0])[0]
        # second part's centroid is inside the multipolygon
        p2 = g13[1][0]
        cx, cy = np.array([p2[:-1, 0].mean()]), np.array([p2[:-1, 1].mean()])
        assert points_in_polygon(cx, cy, wkb_rings(aoi_pandas(14).wkb[13]))[0]

    def test_fixture_parts_disjoint(self):
        from mapchete_xarray_spark.geom import polygon_bounds
        from mapchete_xarray_spark.sources.aoi import aoi_geometry

        for j in range(3, 200, 10):
            parts = aoi_geometry(j)
            assert len(parts) == 2
            b1, b2 = polygon_bounds(parts[0][0]), polygon_bounds(parts[1][0])
            assert b1[2] < b2[0] or b2[2] < b1[0]  # disjoint in x by construction

    def test_fixture_holes_nested(self):
        from mapchete_xarray_spark.geom import polygon_bounds
        from mapchete_xarray_spark.sources.aoi import aoi_geometry

        for j in range(7, 200, 10):
            parts = aoi_geometry(j)
            assert len(parts[0]) == 2
            ext, hole = parts[0]
            be, bh = polygon_bounds(ext), polygon_bounds(hole)
            assert be[0] < bh[0] and bh[2] < be[2] and be[1] < bh[1] and bh[3] < be[3]
            # every hole vertex is inside the exterior
            assert points_in_polygon(hole[:-1, 0], hole[:-1, 1], ext).all()


@pytest.mark.spark
class TestPipJoinSpark:
    def test_matches_bruteforce(self, spark):
        from mapchete_xarray_spark.operators.pip import pip_join, pip_join_bruteforce

        n = 3000
        pdf = pd.DataFrame(
            {
                "key": np.arange(n, dtype=np.int64),
                "lon": RNG.uniform(-180, 180, n),
                "lat": RNG.uniform(-90, 90, n),
            }
        )
        aoi = aoi_pandas(60)
        got = pip_join(spark.createDataFrame(pdf), aoi, keep=("key",))
        got_set = {(r.key, r.aoi_id) for r in got.collect()}
        assert got_set == pip_join_bruteforce(pdf, aoi)

    def test_hot_city_polygon_is_hit(self, spark):
        from mapchete_xarray_spark.operators.pip import pip_join

        # points exactly at the three hot cities → aoi0000..0002 must match
        pdf = pd.DataFrame(
            {"key": [0, 1, 2], "lon": [16.37, -74.0, 139.69], "lat": [48.21, 40.71, 35.69]}
        )
        got = pip_join(spark.createDataFrame(pdf), aoi_pandas(10), keep=("key",))
        hit_aois = {r.aoi_id for r in got.collect()}
        assert {"aoi0000", "aoi0001", "aoi0002"} <= hit_aois


    def test_null_and_nan_coordinates_match_nothing(self, spark):
        from mapchete_xarray_spark.operators.pip import pip_join

        pts = spark.createDataFrame(
            [(0, None, 48.21), (1, 16.37, None), (2, float("nan"), 48.21), (3, 16.37, 48.21)],
            "key long, lon double, lat double",
        )
        got = pip_join(pts, aoi_pandas(10), keep=("key",))
        assert {(r.key, r.aoi_id) for r in got.collect()} == {(3, "aoi0000")}

    def test_empty_aoi_table(self, spark):
        from mapchete_xarray_spark.operators.pip import pip_join

        pdf = pd.DataFrame({"key": [0, 1], "lon": [16.37, 0.0], "lat": [48.21, 0.0]})
        got = pip_join(spark.createDataFrame(pdf), aoi_pandas(0), keep=("key",))
        assert got.collect() == []

    def test_keep_types_and_plan(self, spark):
        """Any ``keep`` column type survives (Arrow ``take``), the
        coordinates may be kept too, and the plan is one MapInArrow
        with no MapInPandas."""
        from mapchete_xarray_spark.operators.pip import pip_join

        pts = spark.createDataFrame(
            [(7, "vienna", [1, 2], 16.37, 48.21), (8, None, None, 0.0, 0.0)],
            "key long, name string, tags array<int>, lon double, lat double",
        )
        got = pip_join(pts, aoi_pandas(10), keep=("key", "name", "tags", "lon"))
        assert got.columns == ["key", "name", "tags", "lon", "aoi_id"]
        assert got.schema["tags"].dataType == pts.schema["tags"].dataType
        rows = [tuple(r) for r in got.collect()]
        assert (7, "vienna", [1, 2], 16.37, "aoi0000") in rows
        assert {r[0] for r in rows} == {7}
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan


@pytest.mark.spark
class TestKnnSpark:
    def test_matches_bruteforce(self, spark):
        from mapchete_xarray_spark.operators.knn import knn_join

        nd, nq, k = 800, 10, 5
        data = pd.DataFrame(
            {
                "key": np.arange(nd, dtype=np.int64),
                "lon": RNG.uniform(-30, 30, nd),
                "lat": RNG.uniform(-30, 30, nd),
            }
        )
        qs = pd.DataFrame(
            {
                "qkey": np.arange(nq, dtype=np.int64),
                "lon": RNG.uniform(-35, 35, nq),
                "lat": RNG.uniform(-35, 35, nq),
            }
        )
        out = knn_join(
            spark.createDataFrame(data), spark.createDataFrame(qs), k=k, zoom=6
        ).toPandas()
        # brute force
        dx = qs.lon.to_numpy()[:, None] - data.lon.to_numpy()[None, :]
        dy = qs.lat.to_numpy()[:, None] - data.lat.to_numpy()[None, :]
        dist = np.sqrt(dx * dx + dy * dy)
        for qi in range(nq):
            order = np.lexsort((data.key.to_numpy(), dist[qi]))[:k]
            expected = data.key.to_numpy()[order].tolist()
            got = out[out.qkey == qi].sort_values("rn").key.tolist()
            assert got == expected, f"query {qi}"

    def test_nonbroadcast_frontier_matches(self, spark, monkeypatch):
        """The promised graceful degradation when the query side
        outgrows broadcast: past the sizing budget the frontier join
        becomes a hinted shuffle equi-join on the cell; rows must be
        identical (the plan never looks at the join strategy)."""
        from mapchete_xarray_spark import sizing
        from mapchete_xarray_spark.operators.knn import knn_join

        nd, nq, k = 400, 8, 4
        data = spark.createDataFrame(
            pd.DataFrame(
                {
                    "key": np.arange(nd, dtype=np.int64),
                    "lon": RNG.uniform(-30, 30, nd),
                    "lat": RNG.uniform(-30, 30, nd),
                }
            )
        )
        qs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "qkey": np.arange(nq, dtype=np.int64),
                    "lon": RNG.uniform(-35, 35, nq),
                    "lat": RNG.uniform(-35, 35, nq),
                }
            )
        )
        bcast = knn_join(data, qs, k=k, zoom=6).toPandas()
        monkeypatch.setattr(sizing, "BROADCAST_MAX_BYTES", 0)
        shuffled = knn_join(data, qs, k=k, zoom=6)
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        shuf = shuffled.toPandas()
        key = ["qkey", "rn"]
        assert (
            bcast.sort_values(key).reset_index(drop=True)[["qkey", "key", "rn"]]
            .equals(shuf.sort_values(key).reset_index(drop=True)[["qkey", "key", "rn"]])
        )

    def test_sparse_far_queries(self, spark):
        """Query far from all data → must still return k via disk growth."""
        from mapchete_xarray_spark.operators.knn import knn_join

        data = pd.DataFrame({"key": [1, 2, 3], "lon": [100.0, 101.0, 102.0], "lat": [50.0, 50.0, 50.0]})
        qs = pd.DataFrame({"qkey": [0], "lon": [-170.0], "lat": [-80.0]})
        out = knn_join(
            spark.createDataFrame(data), spark.createDataFrame(qs), k=2, zoom=6
        ).toPandas()
        assert out.key.tolist() == [1, 2]

    def test_k_below_one_raises(self, spark):
        """k = 0 used to filter every candidate, so no query ever
        finished and the search widened to the full grid."""
        from mapchete_xarray_spark.operators.knn import knn_join

        data = spark.range(3).selectExpr("id as key", "0.0 lon", "0.0 lat")
        qs = spark.range(1).selectExpr("id as qkey", "0.0 lon", "0.0 lat")
        for k in (0, -1):
            with pytest.raises(ValueError, match="k >= 1"):
                knn_join(data, qs, k=k)

    def test_nearest_two_cells_away(self, spark):
        """A query at its cell's corner whose only own-cell point sits
        at the far corner: the nearest point lies two cells away
        (distance > span, < √2·span), so the planned disk must reach
        ring 2 even though the query's own cell already holds k."""
        from mapchete_xarray_spark.operators.knn import knn_join

        # zoom 3: 22.5° cells; the query's cell is lon [0, 22.5) × lat [22.5, 45)
        data = pd.DataFrame({"key": [1, 2], "lon": [22.4, -23.0], "lat": [22.6, 44.9]})
        qs = pd.DataFrame({"qkey": [0], "lon": [0.1], "lat": [44.9]})
        got = knn_join(
            spark.createDataFrame(data), spark.createDataFrame(qs), k=1, zoom=3
        ).toPandas()
        _assert_knn_equal(got, _knn_brute(data, qs, 1))

    def test_query_outside_the_extent(self, spark):
        """A query past lon 180 is tiled into the last column but lies
        outside it, so a planned disk could miss a nearer point a few
        rows away; such queries search the whole grid."""
        from mapchete_xarray_spark.operators.knn import knn_join

        # key 1 shares the query's clamped cell (lon [177.1875, 180) ×
        # lat [-2.8125, 0) at zoom 6); key 2, three rows south, is nearer
        data = pd.DataFrame(
            {"key": [1, 2, 3], "lon": [177.2, 179.99, 0.0], "lat": [-2.7, -10.5, 0.0]}
        )
        qs = pd.DataFrame({"qkey": [0, 1], "lon": [200.0, 170.0], "lat": [-1.0, 95.0]})
        got = knn_join(
            spark.createDataFrame(data), spark.createDataFrame(qs), k=1, zoom=6
        ).toPandas()
        _assert_knn_equal(got, _knn_brute(data, qs, 1))

    def test_fewer_points_than_k(self, spark):
        """With fewer than k points in total every query searches the
        whole grid and gets all of them, in (dist, key) order."""
        from mapchete_xarray_spark.operators.knn import knn_join

        data = pd.DataFrame({"key": [7, 3, 5], "lon": [100.0, -60.0, 10.0], "lat": [50.0, -40.0, 0.0]})
        qs = pd.DataFrame({"qkey": [0, 1], "lon": [-170.0, 12.0], "lat": [-80.0, 1.0]})
        for haversine in (False, True):
            got = knn_join(
                spark.createDataFrame(data), spark.createDataFrame(qs), k=5,
                haversine=haversine,
            ).toPandas()
            _assert_knn_equal(got, _knn_brute(data, qs, 5, haversine), tol=1e-6)


def _haversine_np(qlon, qlat, dlon, dlat):
    """Independent numpy twin of the engine's haversine (same formula
    from the published definition, written separately)."""
    R = 6371008.8
    p1, p2 = np.radians(qlat), np.radians(dlat)
    dphi = np.radians(dlat - qlat)
    dlmb = np.radians(dlon - qlon)
    a = np.sin(dphi / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2) ** 2
    return 2 * R * np.arcsin(np.minimum(1.0, np.sqrt(a)))


@pytest.mark.spark
class TestKnnGeodesic:
    def _brute(self, data, qs, k):
        d = _haversine_np(
            qs.lon.to_numpy()[:, None],
            qs.lat.to_numpy()[:, None],
            data.lon.to_numpy()[None, :],
            data.lat.to_numpy()[None, :],
        )
        out = {}
        for qi, qk in enumerate(qs.qkey.to_numpy()):
            order = np.lexsort((data.key.to_numpy(), d[qi]))[:k]
            out[int(qk)] = data.key.to_numpy()[order].tolist()
        return out

    def test_high_latitude_matches_bruteforce(self, spark):
        """Polar band — where cos φ shrinks longitude the most and
        where the termination bound degrades to vertical-only."""
        from mapchete_xarray_spark.operators.knn import knn_join

        nd, nq, k = 600, 8, 5
        data = pd.DataFrame(
            {
                "key": np.arange(nd, dtype=np.int64),
                "lon": RNG.uniform(-180, 180, nd),
                "lat": RNG.uniform(70, 89.5, nd),
            }
        )
        qs = pd.DataFrame(
            {
                "qkey": np.arange(nq, dtype=np.int64),
                "lon": RNG.uniform(-180, 180, nq),
                "lat": RNG.uniform(72, 88, nq),
            }
        )
        got = knn_join(
            spark.createDataFrame(data),
            spark.createDataFrame(qs),
            k=k,
            zoom=5,
            haversine=True,
        ).toPandas()
        exp = self._brute(data, qs, k)
        for qk, keys in exp.items():
            assert got[got.qkey == qk].sort_values("rn").key.tolist() == keys, qk

    def test_antimeridian_wrap(self, spark):
        """A neighbor across lon=±180 must be found through the
        column wrap, not via a full-grid scan."""
        from mapchete_xarray_spark.operators.knn import knn_join

        data = pd.DataFrame(
            {"key": [1, 2], "lon": [179.5, 150.0], "lat": [10.0, 10.0]}
        )
        qs = pd.DataFrame({"qkey": [0], "lon": [-179.5], "lat": [10.0]})
        stats = {}
        out = knn_join(
            spark.createDataFrame(data),
            spark.createDataFrame(qs),
            k=1,
            zoom=6,
            haversine=True,
            stats=stats,
        ).toPandas()
        assert out.key.tolist() == [1]
        # found in round 1 through the wrap (cells 0 and ncols-1 are
        # adjacent), no disk blow-up
        assert stats["rounds"] <= 2

    def test_midlat_matches_bruteforce_and_planar_differs(self, spark):
        """At 60°N the geodesic ranking genuinely differs from
        degrees-Euclidean: 1° of longitude is half a degree of
        latitude in meters."""
        from mapchete_xarray_spark.operators.knn import knn_join

        data = pd.DataFrame(
            {
                "key": [1, 2],
                # key 1: 1.2° east; key 2: 0.8° north.  planar says 2
                # is closer (0.8 < 1.2); haversine says 1 is (1.2° lon
                # at 60°N ≈ 0.6° of arc < 0.8°)
                "lon": [11.2, 10.0],
                "lat": [60.0, 60.8],
            }
        )
        qs = pd.DataFrame({"qkey": [0], "lon": [10.0], "lat": [60.0]})
        sd, sq = spark.createDataFrame(data), spark.createDataFrame(qs)
        geo = knn_join(sd, sq, k=1, zoom=6, haversine=True).toPandas()
        planar = knn_join(sd, sq, k=1, zoom=6).toPandas()
        assert geo.key.tolist() == [1]
        assert planar.key.tolist() == [2]
        # dist is meters and matches the independent numpy formula
        want = float(_haversine_np(10.0, 60.0, 11.2, 60.0))
        assert abs(geo.dist[0] - want) < 1e-6

    def test_polar_query_terminates_without_full_column_expansion(self, spark):
        """Round-7 perf fix: the split termination bound stays
        positive at |lat| > 81° (the naive band bound collapses to 0
        at the pole and forced a 2→4→…→64 full-column expansion —
        5 extra driver rounds for nothing)."""
        from mapchete_xarray_spark.operators.knn import knn_join

        rng = np.random.default_rng(3)
        # dense polar neighborhoods: kth is a few km, far below even
        # the small-t0 split bound — the old bound still returned 0
        # here (|qlat| + (R+1)·span crosses 90°) and expanded to a
        # full-column disk regardless of how close the kth was
        data = pd.DataFrame(
            {
                "key": np.arange(800, dtype=np.int64),
                "lon": np.concatenate(
                    [rng.uniform(8, 12, 400), rng.uniform(-152, -148, 400)]
                ),
                "lat": np.concatenate(
                    [rng.uniform(83.5, 85, 400), rng.uniform(-84.5, -83, 400)]
                ),
            }
        )
        qs = pd.DataFrame(
            {"qkey": [0, 1], "lon": [10.0, -150.0], "lat": [84.2, -83.5]}
        )
        stats = {}
        got = knn_join(
            spark.createDataFrame(data),
            spark.createDataFrame(qs),
            k=3,
            zoom=6,
            haversine=True,
            stats=stats,
        ).toPandas()
        exp = TestKnnGeodesic._brute(self, data, qs, 3)
        for qk, keys in exp.items():
            assert got[got.qkey == qk].sort_values("rn").key.tolist() == keys
        assert stats["rounds"] == 1, stats

    def test_longitude_past_the_antimeridian(self, spark):
        """A point stored at lon 200 lies at -160 on the sphere: it is
        tiled there, so a query at -160.5 finds it (55 km) before the
        points 2° north (222 km) and at -150 (1150 km)."""
        from mapchete_xarray_spark.operators.knn import knn_join

        data = pd.DataFrame(
            {"key": [1, 2, 3], "lon": [200.0, -150.0, -160.5], "lat": [10.0, 10.0, 12.0]}
        )
        qs = pd.DataFrame({"qkey": [0, 1], "lon": [-160.5, 199.0], "lat": [10.0, 10.0]})
        got = knn_join(
            spark.createDataFrame(data), spark.createDataFrame(qs), k=1, haversine=True
        ).toPandas()
        _assert_knn_equal(got, _knn_brute(data, qs, 1, haversine=True), tol=1e-6)
        assert got.key.tolist() == [1, 1]

    def test_haversine_requires_geodetic(self, spark):
        from mapchete_xarray_spark.operators.knn import knn_join

        with pytest.raises(ValueError, match="geodetic"):
            knn_join(
                spark.range(1).selectExpr("id as key", "0.0 lon", "0.0 lat"),
                spark.range(1).selectExpr("id as qkey", "0.0 lon", "0.0 lat"),
                k=1,
                grid="mercator",
                haversine=True,
            )


@pytest.mark.spark
class TestSaltedAgg:
    def test_equals_plain_groupby(self, spark):
        from pyspark.sql import functions as F

        from mapchete_xarray_spark.operators.skew import hot_keys_presampled, salted_agg

        df = spark.range(0, 20000).withColumn("cell", (F.col("id") % 7).cast("long"))
        plain = {(r.cell, r.n) for r in df.groupBy("cell").agg(F.count("*").alias("n")).collect()}
        salted = {
            (r.cell, r.n)
            for r in salted_agg(
                df,
                ["cell"],
                [F.count("*").alias("_c")],
                [F.sum("_c").cast("long").alias("n")],
                salt_source="id",
            ).collect()
        }
        assert plain == salted
        hot = hot_keys_presampled(df.sample(fraction=0.1, seed=42), "cell", 1000, 0.1)
        assert hot.count() == 7  # every cell is hot in this uniform toy

    def test_hot_salted_agg_cold_path_no_fanout(self, spark):
        """Census-driven salting: ONLY hot keys fan out in phase 1;
        every cold key produces exactly one partial (salt 0)."""
        from pyspark.sql import functions as F

        from mapchete_xarray_spark.operators.skew import hot_keys_presampled, hot_salted_agg

        # 1 hot key (90k rows) + 1000 cold keys (10 rows each)
        df = spark.range(0, 100_000).withColumn(
            "cell", F.expr("case when id < 90000 then 0 else 1 + id % 1000 end").cast("long")
        )
        hot = hot_keys_presampled(df.sample(fraction=0.1, seed=42), "cell", 5000, 0.1)
        hot_set = {r.cell for r in hot.collect()}
        assert hot_set == {0}
        out = hot_salted_agg(
            df,
            "cell",
            ["cell"],
            [F.count("*").alias("_c")],
            [F.sum("_c").cast("long").alias("n")],
            hot,
            n_salts=8,
        )
        plain = {(r.cell, r.n) for r in df.groupBy("cell").agg(F.count("*").alias("n")).collect()}
        assert {(r.cell, r.n) for r in out.collect()} == plain
        # cold-path audit: reproduce phase 1 and count partials per key
        hot_flag = hot.withColumn("_is_hot", F.lit(True))
        row_salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(8))
        p1 = (
            df.join(F.broadcast(hot_flag), "cell", "left")
            .withColumn("_salt", F.when(F.col("_is_hot").isNotNull(), row_salt).otherwise(F.lit(0)))
            .groupBy("cell", "_salt")
            .count()
        )
        partials = {r.cell: r.n for r in p1.groupBy("cell").agg(F.count("*").alias("n")).collect()}
        assert partials[0] == 8  # hot key spread over all salts
        assert all(v == 1 for k, v in partials.items() if k != 0)  # no cold fan-out


def _knn_brute(data, qs, k, haversine=False):
    """{qkey: [(key, dist), ...]}: every pair's distance, ranked by
    (dist, key) — the serial reference.  The planar expression keeps
    the engine's operation order, so its doubles are bit-identical."""
    qlon, qlat = qs.lon.to_numpy()[:, None], qs.lat.to_numpy()[:, None]
    dlon, dlat = data.lon.to_numpy()[None, :], data.lat.to_numpy()[None, :]
    if haversine:
        d = _haversine_np(qlon, qlat, dlon, dlat)
    else:
        d = np.sqrt((dlon - qlon) * (dlon - qlon) + (dlat - qlat) * (dlat - qlat))
    keys = data.key.to_numpy()
    out = {}
    for qi, qk in enumerate(qs.qkey.to_numpy()):
        order = np.lexsort((keys, d[qi]))[:k]
        out[int(qk)] = [(int(keys[o]), float(d[qi, o])) for o in order]
    return out


def _assert_knn_equal(got, want, tol=0.0):
    """Engine rows (qkey, key, dist, rn) equal the reference: same keys
    in the same rank order, distances within ``tol``."""
    assert sorted(got.qkey.unique().tolist()) == sorted(want)
    for qk, exp in want.items():
        rows = got[got.qkey == qk].sort_values("rn")
        assert rows.rn.tolist() == list(range(1, len(exp) + 1)), qk
        assert rows.key.tolist() == [key for key, _ in exp], qk
        np.testing.assert_allclose(rows.dist.to_numpy(), [d for _, d in exp], rtol=0, atol=tol)


def _blob_points(rng, lon0, lat0, width, n_blob, n_background):
    """A dense square blob (lon wrapped into [-180, 180)) on a sparse
    worldwide background, keys 0.."""
    lon = np.concatenate(
        [lon0 + rng.uniform(0, width, n_blob), rng.uniform(-180, 180, n_background)]
    )
    lat = np.concatenate(
        [lat0 + rng.uniform(0, width, n_blob), rng.uniform(-85, 85, n_background)]
    )
    lon = (lon + 180.0) % 360.0 - 180.0
    return pd.DataFrame({"key": np.arange(len(lon), dtype=np.int64), "lon": lon, "lat": lat})


def _append(data, lons, lats):
    """``data`` plus points at (lons, lats) under fresh keys, which
    are interleaved so that tie order is not insertion order."""
    n = len(lons)
    keys = int(data.key.max()) + 1 + np.random.default_rng(n).permutation(n)
    return pd.concat(
        [data, pd.DataFrame({"key": keys, "lon": lons, "lat": lats})], ignore_index=True
    )


def _with_ties(data, lon, lat, step):
    """Three duplicates of (lon, lat) plus, if ``step``, four points
    exactly ``step`` away from it (dyadic values: the four distances
    are equal in floating point)."""
    lons, lats = [lon] * 3, [lat] * 3
    if step:
        lons += [lon - step, lon + step, lon, lon]
        lats += [lat, lat, lat - step, lat + step]
    return _append(data, lons, lats)


@pytest.mark.spark
class TestKnnFineLevel:
    """A dense blob on a sparse background: the blob's coarse cells are
    searched at the fine zoom.  Queries inside the blob, at its edge
    (where a fine disk spills into a non-dense neighbour) and in the
    sparse area beside it must all equal brute force, ties included."""

    def test_planar_blob_matches_bruteforce(self, spark):
        from mapchete_xarray_spark.operators.knn import knn_join

        rng = np.random.default_rng(11)
        # zoom 3: coarse cells are 22.5°; the blob fills the corner of
        # the cell lon [0, 22.5) × lat [22.5, 45) up to both borders
        data = _blob_points(rng, 18.5, 41.0, 4.0, 4000, 1500)
        data = _with_ties(data, 20.5, 43.0, 2.0**-10)
        # just across the blob's borders, in sparse coarse cells: only
        # found if the edge queries' fine disks reach into them
        data = _append(data, [22.51, 22.53, 20.0, 20.02], [43.0, 43.01, 45.01, 45.02])
        qs = pd.DataFrame(
            {
                "lon": [20.5, 19.0, 21.7, 22.49, 22.45, 20.0, 22.6, 23.5, 40.0, -100.0, 18.4],
                "lat": [43.0, 42.0, 44.2, 43.0, 44.99, 44.98, 43.0, 45.5, 30.0, -20.0, 40.9],
            }
        )
        qs.insert(0, "qkey", np.arange(len(qs), dtype=np.int64))
        for k in (1, 5, 9):
            stats = {}
            got = knn_join(
                spark.createDataFrame(data), spark.createDataFrame(qs), k=k, zoom=3,
                stats=stats,
            ).toPandas()
            assert stats["fine_parents"] >= 1, stats
            _assert_knn_equal(got, _knn_brute(data, qs, k))

    @pytest.mark.parametrize(
        "lon0, lat0, queries, across",
        [
            # straddles the antimeridian (the blob's coarse cells are
            # the first and the last column) on the equator, a row border
            (178.0, 0.0, [(179.9, 2.0), (-179.9, 0.02), (-178.01, 3.0),
                          (178.0, 3.99), (-177.5, 2.0), (175.0, 2.0), (179.9, -0.3)],
             [(179.9, -0.01), (-179.95, -0.02)]),
            # at 84°N in the top coarse row, against a column border
            (18.5, 82.0, [(20.5, 84.0), (22.45, 85.9), (22.49, 84.0), (30.0, 84.0),
                          (20.0, 89.5), (-160.0, 86.0), (20.0, 80.0)],
             [(22.51, 84.0), (22.53, 85.9)]),
        ],
    )
    def test_haversine_blob_matches_bruteforce(self, spark, lon0, lat0, queries, across):
        from mapchete_xarray_spark.operators.knn import knn_join

        rng = np.random.default_rng(13)
        data = _blob_points(rng, lon0, lat0, 4.0, 4000, 1500)
        q_lon, q_lat = queries[0]
        data = _with_ties(data, q_lon, q_lat, 0.0)  # duplicates only
        data = _append(data, [x for x, _ in across], [y for _, y in across])
        qs = pd.DataFrame(
            {
                "qkey": np.arange(len(queries), dtype=np.int64),
                "lon": [x for x, _ in queries],
                "lat": [y for _, y in queries],
            }
        )
        for k in (1, 5, 9):
            stats = {}
            got = knn_join(
                spark.createDataFrame(data), spark.createDataFrame(qs), k=k, zoom=3,
                haversine=True, stats=stats,
            ).toPandas()
            assert stats["fine_parents"] >= 1, stats
            # libm vs JVM trig: distances agree to far below a millimeter
            _assert_knn_equal(got, _knn_brute(data, qs, k, haversine=True), tol=1e-6)


@pytest.mark.spark
class TestKnnHistogramCache:
    def test_cached_histogram_serves_later_calls(self, spark, tmp_path):
        """The histogram is a property of the data version, not of k or
        the query set: a second call (other k, other queries) reuses it
        and stays exact, and rewritten files miss the cache."""
        from mapchete_xarray_spark.operators.knn import knn_join

        rng = np.random.default_rng(5)
        path = str(tmp_path / "points.parquet")
        data = _blob_points(rng, -75.0, 39.0, 2.0, 3000, 1000)
        spark.createDataFrame(data).write.parquet(path)
        qs = pd.DataFrame(
            {"qkey": np.arange(6, dtype=np.int64),
             "lon": [-74.0, -73.1, -76.5, 0.0, 120.0, -74.9],
             "lat": [40.0, 40.9, 39.5, 0.0, -30.0, 39.1]}
        )
        for k, cached in ((5, False), (3, True)):
            stats = {}
            got = knn_join(
                spark.read.parquet(path), spark.createDataFrame(qs.iloc[k - 3 :]), k=k,
                stats=stats,
            ).toPandas()
            assert stats["hist_cached"] is cached
            _assert_knn_equal(got, _knn_brute(data, qs.iloc[k - 3 :], k))
        moved = data.assign(lon=data.lon * 0.5)
        spark.createDataFrame(moved).write.mode("overwrite").parquet(path)
        stats = {}
        got = knn_join(
            spark.read.parquet(path), spark.createDataFrame(qs), k=5, stats=stats
        ).toPandas()
        assert stats["hist_cached"] is False
        _assert_knn_equal(got, _knn_brute(moved, qs, 5))


@pytest.mark.spark
def test_knn_job_budget(spark, spark_jobs, tmp_path):
    """A warm kNN op (histogram cached) is one broadcast of the
    frontier, the data scan with the join and the partial top-k, and
    the final top-k: at most 3 Spark jobs."""
    from mapchete_xarray_spark.operators.knn import knn_join

    rng = np.random.default_rng(9)
    path = str(tmp_path / "points.parquet")
    spark.createDataFrame(_blob_points(rng, 16.0, 47.0, 2.0, 5000, 5000)).write.parquet(path)
    data = spark.read.parquet(path)
    qs = spark.createDataFrame(
        pd.DataFrame(
            {"qkey": np.arange(50, dtype=np.int64),
             "lon": np.concatenate([rng.uniform(16, 18, 25), rng.uniform(-180, 180, 25)]),
             "lat": np.concatenate([rng.uniform(47, 49, 25), rng.uniform(-80, 80, 25)])}
        )
    )
    knn_join(data, qs, k=5).collect()
    stats = {}
    rows, jobs = spark_jobs(lambda: knn_join(data, qs, k=5, stats=stats).collect())
    assert stats["hist_cached"] is True
    assert stats["rounds"] == 1
    assert len(rows) == 50 * 5
    assert jobs <= 3, jobs


# Spark jobs of one warm tilebench-shaped PIP op (pip_join, then a
# groupBy(aoi_id) aggregate, collected), measured 3 times: 2.
PIP_JOBS = 2


def test_pip_job_budget(spark, spark_jobs, tmp_path):
    """A PIP op is the map-only join feeding the aggregate's shuffle
    map stage, then the final aggregate: PIP_JOBS Spark jobs."""
    from pyspark.sql import functions as F

    from mapchete_xarray_spark.operators.pip import pip_join

    rng = np.random.default_rng(11)
    path = str(tmp_path / "points.parquet")
    spark.createDataFrame(_blob_points(rng, 15.5, 47.5, 2.0, 5000, 5000)).write.parquet(path)
    data = spark.read.parquet(path)
    aoi = aoi_pandas(60)

    def op():
        return (
            pip_join(data, aoi)
            .groupBy("aoi_id")
            .agg(F.count("*").alias("n"), F.sum("key").alias("s"))
            .collect()
        )

    op()
    rows, jobs = spark_jobs(op)
    assert rows and jobs <= PIP_JOBS, jobs
