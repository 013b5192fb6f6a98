"""Tests for Morton cell ids, hierarchy, rings, and codecs."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapchete_xarray_spark.cells import (
    cell_decode,
    cell_disk,
    cell_id,
    cell_parent,
    cell_ring,
    cell_to_quadkey,
    deinterleave2,
    interleave2,
)
from mapchete_xarray_spark.codecs import decode_image, encode_image, psnr


class TestMorton:
    def test_known_values(self):
        assert int(interleave2(0, 0)) == 0
        assert int(interleave2(1, 0)) == 1
        assert int(interleave2(0, 1)) == 2
        assert int(interleave2(1, 1)) == 3
        assert int(interleave2(2, 0)) == 4
        assert int(interleave2(3, 5)) == 0b100111  # col bits even, row odd

    @given(st.integers(0, 2**28 - 1), st.integers(0, 2**28 - 1))
    @settings(max_examples=200, deadline=None)
    def test_roundtrip(self, col, row):
        code = interleave2(col, row)
        r, c = deinterleave2(code)
        assert (int(r), int(c)) == (row, col)

    @given(st.integers(1, 28), st.integers(0, 2**20 - 1), st.integers(0, 2**20 - 1))
    @settings(max_examples=200, deadline=None)
    def test_cell_id_roundtrip(self, zoom, row, col):
        row %= 2**zoom
        col %= 2**zoom
        cid = cell_id(zoom, row, col)
        z, r, c = cell_decode(cid)
        assert (int(z), int(r), int(c)) == (zoom, row, col)
        assert int(cid) >= 0  # sortable as signed int64

    def test_parent_is_shift(self):
        cid = cell_id(5, 7, 34)
        z, r, c = cell_decode(cell_parent(cid))
        assert (int(z), int(r), int(c)) == (4, 3, 17)
        z, r, c = cell_decode(cell_parent(cid, 2))
        assert (int(z), int(r), int(c)) == (3, 1, 8)

    def test_parent_below_zero_raises(self):
        with pytest.raises(ValueError):
            cell_parent(cell_id(0, 0, 0))

    def test_quadkey(self):
        # Bing golden: tile (z=3, x=3, y=5) → "213"
        assert cell_to_quadkey(cell_id(3, 5, 3)) == ["213"]

    def test_zorder_locality(self):
        """Sibling cells under one parent are contiguous in cell-id order."""
        ids = sorted(
            int(cell_id(3, r, c)) for r in (2, 3) for c in (4, 5)
        )
        assert ids == list(range(ids[0], ids[0] + 4))


class TestRings:
    def test_ring0(self):
        rs, cs = cell_ring(7, 34, 0, 32, 64)
        assert rs.tolist() == [7] and cs.tolist() == [34]

    def test_ring1_count(self):
        rs, cs = cell_ring(7, 34, 1, 32, 64)
        assert len(rs) == 8
        cheb = np.maximum(np.abs(rs - 7), np.abs(cs - 34))
        assert (cheb == 1).all()

    def test_ring_k_count_interior(self):
        rs, cs = cell_ring(16, 32, 3, 32, 64)
        assert len(rs) == 8 * 3

    def test_ring_clipped_at_pole(self):
        rs, cs = cell_ring(0, 0, 1, 32, 64, wrap_x=False)
        assert (rs >= 0).all() and (cs >= 0).all()
        assert len(rs) == 3  # corner cell: only 3 in-grid neighbors

    def test_ring_wraps_x(self):
        rs, cs = cell_ring(16, 0, 1, 32, 64, wrap_x=True)
        assert len(rs) == 8
        assert 63 in cs.tolist()  # wrapped across antimeridian

    def test_disk(self):
        rs, cs = cell_disk(16, 32, 2, 32, 64)
        assert len(rs) == 25  # (2k+1)^2


class TestQuadkeySql:
    def test_sql_expr_matches_cells(self):
        """The portable quadkey SQL (queries._quadkey_sql_expr) must
        agree with cells.cell_to_quadkey digit for digit."""
        import duckdb

        from mapchete_xarray_spark.cells import cell_id, cell_to_quadkey
        from mapchete_xarray_spark.queries import _quadkey_sql_expr

        zoom = 7
        rng = np.random.default_rng(3)
        rows = rng.integers(0, 2**zoom, size=50)
        cols = rng.integers(0, 2**zoom, size=50)
        want = cell_to_quadkey(cell_id(zoom, rows, cols))
        con = duckdb.connect()
        expr = _quadkey_sql_expr("r", "c", zoom)
        vals = ",".join(f"({r},{c})" for r, c in zip(rows, cols))
        got = [
            x[0]
            for x in con.execute(
                f"select {expr} from (values {vals}) t(r, c)"
            ).fetchall()
        ]
        assert got == list(want)


class TestCodecs:
    def _img(self, h=32, w=48, seed=7):
        rng = np.random.default_rng(seed)
        return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)

    def test_raw_roundtrip_lossless(self):
        img = self._img()
        out = decode_image(encode_image(img, "raw"), 48, 32, "raw")
        np.testing.assert_array_equal(out, img)

    def test_q8_psnr_over_40db(self):
        img = self._img()
        out = decode_image(encode_image(img, "q8"), 48, 32, "q8")
        assert psnr(img, out) >= 40.0  # north-rule lossy invariant

    def test_q8_idempotent(self):
        img = self._img()
        once = decode_image(encode_image(img, "q8"), 48, 32, "q8")
        twice = decode_image(encode_image(once, "q8"), 48, 32, "q8")
        np.testing.assert_array_equal(once, twice)

    def test_q8_psnr_floor_on_flat_tiles(self):
        """The 40 dB bound must hold for ANY content, not on average:
        a constant tile sitting at a quantizer-step midpoint is the
        true worst case (the old 31-level table measured 36.1 dB on
        it).  Every constant value must clear the floor."""
        worst = float("inf")
        for v in range(256):
            img = np.full((16, 16, 3), v, dtype=np.uint8)
            out = decode_image(encode_image(img, "q8"), 16, 16, "q8")
            worst = min(worst, psnr(img, out))
        assert worst >= 40.0, worst

    def test_dct_psnr_floor_adversarial_half_steps(self):
        """Adversarial content whose DCT coefficients sit at quantizer
        half-steps maximizes rounding error in every cell; the scaled
        table must still clear 40 dB (the old 0.12 scale bottomed out
        at 36.5 dB here)."""
        from mapchete_xarray_spark import codecs as _c

        block = np.einsum("ji,jk,kl->il", _c._D, _c._DCT_QTAB / 2.0, _c._D)
        img = np.clip(
            np.rint(np.tile(block[..., None], (4, 4, 3)) + 128), 0, 255
        ).astype(np.uint8)
        out = decode_image(encode_image(img, "dct"), 32, 32, "dct")
        assert psnr(img, out) >= 40.0

    def test_dct_psnr_over_40db_worst_case_noise(self):
        """Uniform noise is the DCT's worst case (zero spatial
        correlation — every coefficient active); the scaled quant
        table must STILL clear the north-rule 40 dB floor, because an
        orthonormal transform maps coefficient-domain quant error 1:1
        to pixel-domain MSE."""
        img = self._img(h=64, w=64)
        out = decode_image(encode_image(img, "dct"), 64, 64, "dct")
        assert psnr(img, out) >= 40.0

    def test_dct_compresses_smooth_content(self):
        """Smooth content zeroes the high-frequency cells → zlib runs
        collapse; payload must be genuinely smaller than raw (this is
        a real transform codec, not a quantize-in-place stand-in)."""
        yy, xx = np.mgrid[0:64, 0:96]
        smooth = np.stack(
            [
                (xx * 255 // 95).astype(np.uint8),
                (yy * 255 // 63).astype(np.uint8),
                ((xx + yy) * 255 // 158).astype(np.uint8),
            ],
            axis=2,
        )
        payload = encode_image(smooth, "dct")
        assert len(payload) < smooth.nbytes / 3
        out = decode_image(payload, 96, 64, "dct")
        assert psnr(smooth, out) >= 40.0

    def test_dct_non_multiple_of_8_shapes(self):
        img = self._img(h=33, w=50)
        out = decode_image(encode_image(img, "dct"), 50, 33, "dct")
        assert out.shape == (33, 50, 3)
        assert psnr(img, out) >= 40.0

    def test_dct_corrupt_payload_raises(self):
        img = self._img(h=16, w=16)
        payload = encode_image(img, "dct")
        with pytest.raises(ValueError, match="header"):
            decode_image(payload, 16, 8, "dct")

    def test_bad_fmt_raises(self):
        for fmt in ("exr", "gif", "bmp", "ppm"):
            with pytest.raises(ValueError, match="unknown fmt"):
                encode_image(self._img(), fmt)
        for fmt in ("gif", "bmp", "ppm"):
            with pytest.raises(ValueError, match="unknown fmt"):
                decode_image(b"\x00" * 12, 2, 2, fmt)
        with pytest.raises(ValueError):
            decode_image(b"\x00" * 12, 2, 2, "png")

    def test_size_mismatch_raises(self):
        with pytest.raises(ValueError, match="payload size"):
            decode_image(b"\x00" * 10, 4, 4, "raw")


class TestRingWrapDedup:
    def test_wrapped_ring_is_duplicate_free(self):
        """Ring width 2k+1 > ncols under wrap_x aliases columns; each
        (row, col) must appear exactly once (a kNN frontier would
        otherwise re-search cells)."""
        rs, cs = cell_ring(0, 0, 2, 2, 4, wrap_x=True)
        pairs = list(zip(rs.tolist(), cs.tolist()))
        assert len(pairs) == len(set(pairs))
        rs, cs = cell_disk(0, 1, 2, 2, 4, wrap_x=True)
        pairs = list(zip(rs.tolist(), cs.tolist()))
        assert len(pairs) == len(set(pairs))
        # the whole 2x4 grid is within distance 2 of any cell here
        assert set(pairs) == {(r, c) for r in range(2) for c in range(4)}

    def test_unwrapped_behavior_unchanged(self):
        rs, cs = cell_ring(7, 34, 1, 32, 64)
        assert len(rs) == 8
