"""The benchmark's three workloads.

Each workload builds its inputs from the seed (``setup``), computes
the expected result of every op by a path independent of the engine
(``expect``, not counted in the set-up time), runs ops
through the engine's public functions, and checks each op's output
after the op's timer has stopped.

- ``assign_scan``: tile counts over a skewed point table (tiling,
  shuffle, salting; no Python boundary).
- ``spatial_join``: broadcast point-in-polygon join alternating with
  ring-expansion kNN (Arrow/numpy boundary and the driver-side round
  loop).
- ``tile_pyramid``: materialize image footprints to tiles, write the
  base level and build two overview levels (codecs, mosaic paste,
  tile-directory writes and reads).
"""

from __future__ import annotations

import itertools
import os
import shutil
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as pads
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapchete_xarray_spark import codecs, grid
from mapchete_xarray_spark.functions import oracle_raster, portable, tiling
from mapchete_xarray_spark.geom import polygon_bounds
from mapchete_xarray_spark.operators import knn, mosaic, overviews, pip, skew
from mapchete_xarray_spark.sources import aoi as aoi_src
from mapchete_xarray_spark.sources import images as images_src
from mapchete_xarray_spark.sources.pyramid import PyramidDirectory


class OutputMismatch(AssertionError):
    """An op returned a result that differs from its expectation."""


def _expect_equal(what: str, got, want) -> None:
    if got != want:
        raise OutputMismatch(f"{what}: got {got!r}, expected {want!r}")


def drain(df: DataFrame):
    """Consume every output column (a bare count() would let Catalyst
    prune columns nothing groups on): row count plus an XOR of a hash
    over all columns."""
    return df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*df.columns)).alias("h")
    ).collect()[0]


def _key_base(seed: int, span: int) -> int:
    """Seeded start of the synthetic row-index range."""
    return 1_000_000 + (seed % 100_000) * span


def _write_points(path: str, base: int, n: int) -> None:
    """Skewed synthetic points (30% in 3 hot cities) from the engine's
    portable SQL, written by DuckDB so the engine only sees a file."""
    con = duckdb.connect()
    con.execute(
        f"copy (select key, {portable.synth_lon_sql('key')} as lon, "
        f"{portable.synth_lat_sql('key')} as lat "
        f"from (select range as key from range({base}, {base + n}))) "
        f"to '{path}' (format parquet)"
    )
    con.close()


class Workload:
    """What the loop in run.py calls.  ``setup`` builds the inputs and
    returns their sizes; ``expect`` builds the expectations and returns
    sizes only they measure; ``run`` performs one op untraced;
    ``chains`` spells the same op as traced steps (see ``spans.py``)
    and ``from_chains`` shapes their values like ``run``'s output;
    ``check`` raises on a wrong output and returns per-op counters."""

    name: str
    kinds: tuple
    # after one warm-up op of a kind, the kind's next op was still up
    # to 2x slower than later ones (JIT, codegen, worker caches)
    warmup_cycles = 2

    def from_chains(self, values: list):
        return values[0][-1]

    def after_op(self) -> None:
        self.spark.catalog.clearCache()


class AssignScan(Workload):
    """Closed loop over three tile-count op kinds on one point table."""

    name = "assign_scan"
    n_points = 500_000
    # its ops take under a second, and they kept getting faster for
    # the first two timed cycles after two warm-up cycles
    warmup_cycles = 4
    # kind -> (grid, zoom, salted)
    KINDS = {
        "geodetic_z5": ("geodetic", 5, False),
        "mercator_z12": ("mercator", 12, False),
        "hot_cells_salted": ("geodetic", 8, True),
    }
    kinds = tuple(KINDS)

    def setup(self, spark, seed: int, work: str) -> dict:
        self.spark = spark
        self.path = os.path.join(work, "points.parquet")
        _write_points(self.path, _key_base(seed, self.n_points), self.n_points)
        self.points = spark.read.parquet(self.path)
        return {"points": self.n_points}

    def expect(self) -> dict:
        self.expected = {k: self._duckdb_checksum(self.path, k) for k in self.kinds}
        return {}

    def _duckdb_checksum(self, path: str, kind: str) -> tuple:
        grid_name, zoom, _ = self.KINDS[kind]
        r, c = portable.lonlat_tile_sql("lon", "lat", grid_name, zoom)
        tid = portable.cell_id_sql("r", "c", zoom)
        con = duckdb.connect()
        row = con.execute(
            f"select count(*), sum(n), sum(cast(tile_id as hugeint) * n) from "
            f"(select {tid} as tile_id, count(*) as n from "
            f"(select {r} as r, {c} as c from read_parquet('{path}')) group by 1)"
        ).fetchone()
        con.close()
        return tuple(int(v) for v in row)

    def _tiles(self, kind: str) -> DataFrame:
        grid_name, zoom, _ = self.KINDS[kind]
        return tiling.with_tile_columns(self.points, "lon", "lat", grid_name, zoom)

    def _counts(self, kind: str) -> DataFrame:
        t = self._tiles(kind)
        if self.KINDS[kind][2]:
            return skew.salted_agg(
                t,
                ["tile_id"],
                [F.count("*").alias("_c")],
                [F.sum("_c").cast("long").alias("n")],
                n_salts=16,
                salt_source="key",
            )
        return t.groupBy("tile_id").agg(F.count("*").alias("n"))

    @staticmethod
    def _checksum(counts: DataFrame) -> tuple:
        row = counts.agg(
            F.count("*"),
            F.sum("n"),
            F.sum(F.col("tile_id").cast("decimal(38,0)") * F.col("n")),
        ).collect()[0]
        return tuple(int(v) for v in row)

    def run(self, kind: str, i: int):
        return self._checksum(self._counts(kind))

    def chains(self, kind: str, i: int) -> list:
        steps = []
        if self.KINDS[kind][2]:
            steps.append(("functions.tiling", lambda: drain(self._tiles(kind))))
            steps.append(("operators.skew", lambda: self.run(kind, i)))
        else:
            steps.append(("functions.tiling", lambda: self.run(kind, i)))
        return [steps]

    def rows(self, kind: str) -> int:
        return self.n_points

    def check(self, kind: str, i: int, out) -> dict:
        _expect_equal(f"{kind} (rows, sum n, sum tile_id*n)", out, self.expected[kind])
        return {}


class SpatialJoin(Workload):
    """Alternates a broadcast PIP join with a kNN join of a fresh
    seeded query batch.  AOIs and queries come from the engine's own
    fixtures: the AOIs are ``sources.aoi`` polygons at a seeded id
    range and the queries a key range of the synthetic point generator,
    as in the repo's kNN query (30% of them in the hot cities)."""

    name = "spatial_join"
    n_points = 500_000
    n_aoi = 200
    n_queries = 100
    k = 5
    knn_checked = 4  # queries per kNN op checked by brute force
    kinds = ("pip", "knn")

    def setup(self, spark, seed: int, work: str) -> dict:
        self.spark = spark
        self.seed = seed
        self.path = os.path.join(work, "points.parquet")
        self.base = _key_base(seed, self.n_points)
        _write_points(self.path, self.base, self.n_points)
        self.points = spark.read.parquet(self.path)
        self.aoi = self._aoi_table(np.random.default_rng(seed))
        return {"points": self.n_points, "aoi": len(self.aoi),
                "knn_queries": self.n_queries, "k": self.k}

    def expect(self) -> dict:
        con = duckdb.connect()
        arr = con.execute(
            f"select key, lon, lat from read_parquet('{self.path}') order by lon"
        ).fetchnumpy()
        con.close()
        self.key, self.lon, self.lat = arr["key"], arr["lon"], arr["lat"]
        self.expected_pip = self._pip_bruteforce()
        return {}

    def _aoi_table(self, rng) -> pd.DataFrame:
        """As ``sources.aoi.aoi_pandas``: the 3 hot-city polygons, then
        the fixture's seeded blobs (holes and multipolygons included),
        here from a seeded start id on.  An id whose hole placement
        has no interior point is skipped, as ``aoi_geometry`` refuses
        it."""
        n_hot = len(portable.HOT_CITIES)
        start = n_hot + int(rng.integers(0, 50_000))
        rows = []
        for j in itertools.chain(range(n_hot), itertools.count(start)):
            if len(rows) == self.n_aoi:
                break
            try:
                parts = aoi_src.aoi_geometry(j)
            except ValueError:  # degenerate scanline in hole placement
                continue
            minx, miny, maxx, maxy = polygon_bounds([r for part in parts for r in part])
            rows.append((f"aoi{j:05d}", aoi_src.aoi_wkb(j), minx, miny, maxx, maxy))
        return pd.DataFrame(rows, columns=["aoi_id", "wkb", "minx", "miny", "maxx", "maxy"])

    def _pip_bruteforce(self) -> dict:
        """{aoi_id: (hits, sum of hit keys)} by the serial every-point
        ray-cast reference, run per polygon on its bbox window."""
        out = {}
        for a in range(len(self.aoi)):
            row = self.aoi.iloc[[a]]
            lo = np.searchsorted(self.lon, row.minx.iloc[0], side="left")
            hi = np.searchsorted(self.lon, row.maxx.iloc[0], side="right")
            sel = slice(lo, hi)
            m = (self.lat[sel] >= row.miny.iloc[0]) & (self.lat[sel] <= row.maxy.iloc[0])
            pts = pd.DataFrame(
                {"key": self.key[sel][m], "lon": self.lon[sel][m], "lat": self.lat[sel][m]}
            )
            hits = pip.pip_join_bruteforce(pts, row)
            if hits:
                out[row.aoi_id.iloc[0]] = (len(hits), sum(int(k) for k, _ in hits))
        return out

    def _queries(self, i: int) -> pd.DataFrame:
        """A seeded range of ``n_queries`` consecutive keys past the
        data's keys, placed by the numpy twin of the portable point
        SQL; a contiguous range puts exactly 30% in the hot cities."""
        rng = np.random.default_rng([self.seed, i])
        start = self.base + self.n_points + int(rng.integers(0, 10**9))
        key = np.arange(start, start + self.n_queries, dtype=np.int64)
        return pd.DataFrame({"qkey": key, "lon": oracle_raster.synth_lon(key),
                             "lat": oracle_raster.synth_lat(key)})

    def _pip(self):
        return {
            r.aoi_id: (int(r.n), int(r.s))
            for r in pip.pip_join(self.points, self.aoi)
            .groupBy("aoi_id")
            .agg(F.count("*").alias("n"), F.sum("key").alias("s"))
            .collect()
        }

    def _knn(self, i: int):
        q = self.spark.createDataFrame(self._queries(i))
        stats: dict = {}
        rows = knn.knn_join(self.points, q, self.k, stats=stats).collect()
        return rows, stats

    def run(self, kind: str, i: int):
        return self._pip() if kind == "pip" else self._knn(i)

    def chains(self, kind: str, i: int) -> list:
        layer = "operators.pip" if kind == "pip" else "operators.knn"
        return [[(layer, lambda: self.run(kind, i))]]

    def rows(self, kind: str) -> int:
        return self.n_points

    def check(self, kind: str, i: int, out) -> dict:
        if kind == "pip":
            _expect_equal("pip {aoi_id: (hits, sum key)}", out, self.expected_pip)
            hits = sum(n for n, _ in out.values())
            return {"pip_rows_out_per_row_in": hits / self.n_points}
        rows, stats = out
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(int(r.qkey), []).append((int(r.rn), int(r.key), float(r.dist)))
        q = self._queries(i)
        _expect_equal("knn queries answered", sorted(by_q), list(q.qkey))
        rng = np.random.default_rng([self.seed, i, 1])
        for pos in rng.choice(self.n_queries, self.knn_checked, replace=False):
            qk, qlon, qlat = q.qkey.iloc[pos], q.lon.iloc[pos], q.lat.iloc[pos]
            d = np.sqrt((self.lon - qlon) * (self.lon - qlon) + (self.lat - qlat) * (self.lat - qlat))
            # every point at or under the kth distance, then (dist, key) order
            near = np.flatnonzero(d <= np.partition(d, self.k - 1)[self.k - 1])
            top = near[np.lexsort((self.key[near], d[near]))][: self.k]
            want = [(int(self.key[t]), float(d[t])) for t in top]
            got = [(key, dist) for _, key, dist in sorted(by_q[int(qk)])]
            _expect_equal(f"knn query {qk} (key, dist)", got, want)
        return {"knn_rounds": stats.get("rounds", 0)}


class TilePyramid(Workload):
    """Materialize a seeded image table to z6 tiles, write the base
    level of a fresh pyramid archive and build two overview levels."""

    name = "tile_pyramid"
    kinds = ("pyramid",)
    # an op takes about 10 s and the timed phase holds one; a second
    # warm-up op would not fit the benchmark's time budget
    warmup_cycles = 1
    n_images = 100
    zoom = 6
    levels = 2
    bands = 3
    tiles_checked = 3  # base tiles per op checked against the serial paste

    def setup(self, spark, seed: int, work: str) -> dict:
        self.spark = spark
        self.seed = seed
        self.work = work
        self.pyr = grid.GEODETIC
        base = _key_base(seed, self.n_images)
        path = os.path.join(work, "images.parquet")
        t0 = time.perf_counter()
        parts = 2 * spark.sparkContext.defaultParallelism

        def gen(batches):
            for b in batches:
                yield images_src._gen_batch(b["id"].to_numpy())

        imgs = spark.range(base, base + self.n_images, numPartitions=parts).mapInPandas(
            gen, images_src.IMAGES_SCHEMA
        )
        (
            images_src.with_geometry(imgs, zoom=self.zoom)
            .select("image_id", "bytes", "w", "h", "fmt", "minx", "miny", "maxx", "maxy")
            .write.parquet(path)
        )
        self.images_rows_per_s = self.n_images / (time.perf_counter() - t0)
        self.images = spark.read.parquet(path)
        self.path = path
        return {"images": self.n_images, "zoom": self.zoom, "levels": self.levels}

    def expect(self) -> dict:
        tab = pads.dataset(self.path).to_table(columns=["image_id", "bytes", "w", "h", "fmt"])
        pdf = tab.to_pandas().sort_values("image_id").reset_index(drop=True)
        self.idx = pdf.image_id.str[3:].astype(np.int64).to_numpy()
        self.payload = list(pdf.bytes)
        self.w = pdf.w.to_numpy()
        self.h = pdf.h.to_numpy()
        self.fmt = list(pdf.fmt)
        self.pixel_bytes = int((self.w.astype(np.int64) * self.h * codecs.CHANNELS).sum())
        self._expected_tiles()
        return {"pixel_bytes": self.pixel_bytes}

    # -- serial reference (the paste arithmetic of oracle_raster) -------------

    def _expected_tiles(self) -> None:
        """Footprints from the numpy twins of the synthetic geometry,
        then every (image, tile) candidate the paste would touch."""
        ps = 180.0 / 2**self.zoom / 256
        lon = oracle_raster.synth_lon(self.idx)
        lat = oracle_raster.synth_lat(self.idx)
        self.minx = np.maximum(lon - self.w * ps / 2, -180.0)
        self.maxx = np.minimum(lon + self.w * ps / 2, 180.0)
        self.miny = np.maximum(lat - self.h * ps / 2, -90.0)
        self.maxy = np.minimum(lat + self.h * ps / 2, 90.0)
        span = self.pyr.tile_span(self.zoom)
        nrows, ncols = self.pyr.matrix_height(self.zoom), self.pyr.matrix_width(self.zoom)
        b = self.pyr.bounds
        self.sources: dict = {}  # (row, col) -> [image positions in paint order]
        for i in range(len(self.idx)):
            r_lo = max(int(np.floor((b.top - self.maxy[i]) / span)), 0)
            r_hi = min(int(np.floor((b.top - self.miny[i]) / span)), nrows - 1)
            c_lo = max(int(np.floor((self.minx[i] - b.left) / span)), 0)
            c_hi = min(int(np.floor((self.maxx[i] - b.left) / span)), ncols - 1)
            for tr in range(r_lo, r_hi + 1):
                for tc in range(c_lo, c_hi + 1):
                    if self._window(i, tr, tc) is not None:
                        self.sources.setdefault((tr, tc), []).append(i)
        base = set(self.sources)
        self.expected_counts = {
            self.zoom - lv: len({(r >> lv, c >> lv) for r, c in base})
            for lv in range(self.levels + 1)
        }

    def _window(self, i: int, tr: int, tc: int):
        ps = self.pyr.pixel_size(self.zoom)
        span = self.pyr.tile_span(self.zoom)
        left = self.pyr.bounds.left + tc * span
        top = self.pyr.bounds.top - tr * span
        c0 = (self.minx[i] - left) / ps
        r0 = (top - self.maxy[i]) / ps
        c1 = (self.maxx[i] - left) / ps
        r1 = (top - self.miny[i]) / ps
        tile_px = self.pyr.tile_size
        tc0, tr0 = max(0, int(round(c0))), max(0, int(round(r0)))
        tc1, tr1 = min(tile_px, int(round(c1))), min(tile_px, int(round(r1)))
        if tc1 <= tc0 or tr1 <= tr0:
            return None
        return c0, r0, c1, r1, tc0, tr0, tc1, tr1

    def _serial_tile(self, tr: int, tc: int) -> np.ndarray:
        tile_px = self.pyr.tile_size
        canvas = np.zeros((tile_px, tile_px, self.bands), dtype=np.uint8)
        for i in self.sources.get((tr, tc), ()):
            c0, r0, c1, r1, tc0, tr0, tc1, tr1 = self._window(i, tr, tc)
            w, h = int(self.w[i]), int(self.h[i])
            arr = codecs.decode_image(self.payload[i], w, h, self.fmt[i])
            cols, rows = np.arange(tc0, tc1), np.arange(tr0, tr1)
            sx = np.clip((((cols + 0.5) - c0) / max(c1 - c0, 1e-12) * w).astype(np.int64), 0, w - 1)
            sy = np.clip((((rows + 0.5) - r0) / max(r1 - r0, 1e-12) * h).astype(np.int64), 0, h - 1)
            canvas[np.ix_(rows, cols)] = arr[np.ix_(sy, sx)][..., : self.bands]
        return canvas

    def _serial_parent(self, pr: int, pc: int) -> np.ndarray:
        """One overview level up: 2x2 average, round half up."""
        tile_px = self.pyr.tile_size
        half = tile_px // 2
        canvas = np.zeros((tile_px, tile_px, self.bands), dtype=np.uint8)
        for qr in (0, 1):
            for qc in (0, 1):
                child = (2 * pr + qr, 2 * pc + qc)
                if child not in self.sources:
                    continue
                m = self._serial_tile(*child).reshape(half, 2, half, 2, self.bands)
                ds = np.floor(m.astype(np.float64).mean(axis=(1, 3)) + 0.5).astype(np.uint8)
                canvas[qr * half : (qr + 1) * half, qc * half : (qc + 1) * half] = ds
        return canvas

    # -- ops -------------------------------------------------------------------

    def _archive(self, i: int) -> PyramidDirectory:
        p = PyramidDirectory(
            os.path.join(self.work, f"pyramid_{i}"),
            base_zoom=self.zoom, levels=self.levels, bands=self.bands,
        )
        p.prepare()
        return p

    def _tiles(self) -> DataFrame:
        return mosaic.materialize_tiles(self.images, self.pyr, self.zoom)

    def run(self, kind: str, i: int):
        arch = self._archive(i)
        arch.write_base(self._tiles())
        arch.build(self.spark)
        return arch, None

    def chains(self, kind: str, i: int) -> list:
        """The op spelled out as the public calls ``build`` makes, so
        reading a level, deriving the overview and writing it are each
        a traced step."""
        arch = self._traced_archive = self._archive(i)
        cand = lambda: drain(mosaic.candidate_tiles(self.images, self.pyr, self.zoom))  # noqa: E731
        chains = [[
            ("operators.mosaic", cand),
            ("operators.mosaic", lambda: drain(self._tiles())),
            ("sources.tiledir.write", lambda: arch.write_base(self._tiles())),
        ]]
        for child, z in zip(arch.zooms, arch.zooms[1:]):
            read = lambda c=child: arch.level(c).read(self.spark).drop(  # noqa: E731
                "chunk_row", "chunk_col", "attempt_id"
            )
            chains.append([
                ("sources.tiledir.read", lambda r=read: drain(r())),
                ("operators.overviews", lambda r=read: drain(overviews.overview_level(r()))),
                ("sources.tiledir.write",
                 lambda r=read, z=z: arch.level(z).write(overviews.overview_level(r()), mode="continue")),
            ])
        return chains

    def from_chains(self, values: list):
        """The archive, with the candidate-tile row count of the first
        step in place of ``run``'s None."""
        return self._traced_archive, int(values[0][0].n)

    def rows(self, kind: str) -> int:
        return self.n_images

    def _read_level(self, arch: PyramidDirectory, z: int) -> pd.DataFrame:
        path = os.path.join(arch.path, f"z{z}", "data")
        return (
            pads.dataset(path, format="parquet", partitioning="hive")
            .to_table(columns=["tile_row", "tile_col", "band", "payload", "n_sources"])
            .to_pandas()
        )

    def check(self, kind: str, i: int, out) -> dict:
        arch, n_candidates = out
        levels = {z: self._read_level(arch, z) for z in arch.zooms}
        for z, df in levels.items():
            got = (len(df), len(df.drop_duplicates(["tile_row", "tile_col"])))
            want = self.expected_counts[z]
            _expect_equal(f"z{z} (tile-band rows, tiles)", got, (want * self.bands, want))
        rng = np.random.default_rng([self.seed, i])
        keys = sorted(self.sources)
        picks = [keys[j] for j in rng.choice(len(keys), self.tiles_checked, replace=False)]
        samples = [(self.zoom, rc, self._serial_tile(*rc)) for rc in picks]
        pr, pc = picks[0][0] // 2, picks[0][1] // 2
        samples.append((self.zoom - 1, (pr, pc), self._serial_parent(pr, pc)))
        for z, (tr, tc), want in samples:
            df = levels[z]
            got = df[(df.tile_row == tr) & (df.tile_col == tc)].sort_values("band")
            _expect_equal(f"z{z} tile ({tr}, {tc}) bands", list(got.band), list(range(self.bands)))
            for b, payload in zip(got.band, got.payload):
                if payload != np.ascontiguousarray(want[:, :, b]).tobytes():
                    raise OutputMismatch(f"z{z} tile ({tr}, {tc}) band {b}: pixels differ")
        n_src = int(levels[self.zoom].query("band == 0").n_sources.sum())
        _expect_equal("base n_sources total", n_src, sum(len(v) for v in self.sources.values()))
        files = [os.path.join(d, f) for d, _, fs in os.walk(arch.path) for f in fs]
        sink_bytes = sum(os.path.getsize(f) for f in files)
        extra = {"sink_bytes_per_pixel_byte": sink_bytes / self.pixel_bytes,
                 "tiledir_write_bytes": sink_bytes, "tiledir_write_files": len(files)}
        if n_candidates is not None:
            extra["mosaic_candidates_per_image"] = n_candidates / self.n_images
        return extra

    def after_op(self) -> None:
        super().after_op()
        for d in os.listdir(self.work):
            if d.startswith("pyramid_"):
                shutil.rmtree(os.path.join(self.work, d))

    def decode_mb_per_s(self, rng, n: int = 32, min_s: float = 0.2) -> float:
        """``codecs.decode_image`` over a seeded sample of payloads."""
        pick = rng.choice(len(self.payload), min(n, len(self.payload)), replace=False)
        done = 0
        t0 = time.perf_counter()
        while True:
            for j in pick:
                done += codecs.decode_image(
                    self.payload[j], int(self.w[j]), int(self.h[j]), self.fmt[j]
                ).nbytes
            el = time.perf_counter() - t0
            if el >= min_s:
                return done / 1e6 / el


WORKLOADS = {w.name: w for w in (AssignScan, SpatialJoin, TilePyramid)}
