"""Lossless WebP (VP8L) codec — spec-level hand-assembled bitstreams,
encoder round-trips, the external libwebp-encoded fixture, and the
Spark decode_stats path.

tests/data/python_16x16.webp is CPython's own committed test asset
(Lib/test/imghdrdata/python.webp, PSF-licensed) — a lossy VP8 file
whose ALPH alpha plane is a REAL libwebp-produced VP8L stream: the
interop proof an own-encoder round-trip can't give."""

import os
import zlib

import numpy as np
import pandas as pd
import pytest

from mapchete_xarray_spark import codecs, vp8l

DATA = os.path.join(os.path.dirname(__file__), "data")
RNG = np.random.default_rng(99)


class _W:
    """The test's own LSB-first bit writer (independent of the
    codec's), for hand-assembling spec streams."""

    def __init__(self):
        self.bits = []

    def w(self, value, n):
        self.bits += [(value >> i) & 1 for i in range(n)]
        return self

    def code(self, value, n):
        # prefix codes go on the wire MSB-first
        self.bits += [(value >> i) & 1 for i in range(n - 1, -1, -1)]
        return self

    def done(self):
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            out[i >> 3] |= b << (i & 7)
        return bytes(out)


def _header(w, h):
    return _W().w(0x2F, 8).w(w - 1, 14).w(h - 1, 14).w(0, 1).w(0, 3)


class TestHandAssembledStreams:
    def test_literal_plus_lz77_distance_map(self):
        """4x1 image: one literal then three length-1 distance-1
        copies through the 2D distance map (plane code 2 -> (1,0)).
        Exercises: normal-form code with repeat-18 runs, simple codes
        in both 1-bit and 8-bit forms, LZ77 prefix decoding."""
        bw = _header(4, 1)
        bw.w(0, 1)  # no transforms
        bw.w(0, 1)  # no color cache
        bw.w(0, 1)  # no meta prefix codes
        # GREEN (alphabet 280): symbols {0: len1, 256: len1}
        bw.w(0, 1)  # normal form
        bw.w(0, 4)  # num_code_lengths = 4 (order 17,18,0,1)
        bw.w(0, 3).w(2, 3).w(2, 3).w(1, 3)  # len(18)=2 len(0)=2 len(1)=1
        bw.w(0, 1)  # no max-symbol escape
        # cl canonical: 1->'0', 0->'10', 18->'11'
        bw.code(0b0, 1)  # symbol 0 has length 1
        bw.code(0b11, 2).w(127, 7)  # 18: 138 zeros (symbols 1..138)
        bw.code(0b11, 2).w(106, 7)  # 18: 117 zeros (symbols 139..255)
        bw.code(0b0, 1)  # symbol 256 has length 1
        bw.code(0b11, 2).w(12, 7)  # 18: 23 zeros (symbols 257..279)
        # RED: simple 1-symbol, 8-bit form, value 200
        bw.w(1, 1).w(0, 1).w(1, 1).w(200, 8)
        # BLUE: simple 1-symbol, value 31
        bw.w(1, 1).w(0, 1).w(1, 1).w(31, 8)
        # ALPHA: simple 1-symbol, value 255
        bw.w(1, 1).w(0, 1).w(1, 1).w(255, 8)
        # DISTANCE: simple 1-symbol, 1-BIT form, value 1
        bw.w(1, 1).w(0, 1).w(0, 1).w(1, 1)
        # pixels: green canonical {0:'0', 256:'1'}
        bw.code(0, 1)  # literal g=0 (r/b/a are 0-bit codes)
        for _ in range(3):
            bw.code(1, 1)  # length code 0 -> length 1 (no extra bits)
            # distance symbol 1 (0 bits) -> plane code 2 -> (1,0) -> 1
        img = vp8l.decode_vp8l_chunk(bw.done())
        assert img.shape == (1, 4, 4)
        expected = np.tile(np.array([255, 200, 0, 31], np.uint8), (1, 4, 1))
        np.testing.assert_array_equal(img, expected)

    def test_color_cache_hit(self):
        """2x1 image: literal pixel then a color-cache hit emitting
        the same ARGB.  The cache index is computed from the spec's
        hash (0x1e35a7bd * argb) >> (32 - bits), written here
        independently."""
        argb = (255 << 24) | (1 << 16) | (9 << 8) | 2
        cache_bits = 1
        idx = ((0x1E35A7BD * argb) & 0xFFFFFFFF) >> (32 - cache_bits)
        cache_sym = 256 + 24 + idx  # alphabet is 282 with a 2-slot cache
        bw = _header(2, 1)
        bw.w(0, 1)  # no transforms
        bw.w(1, 1).w(cache_bits, 4)  # color cache on
        bw.w(0, 1)  # no meta
        # GREEN: symbols {9: len1, cache_sym: len1}
        bw.w(0, 1)  # normal form
        bw.w(0, 4)  # num_code_lengths = 4 (order 17,18,0,1)
        # cl lengths {17:3, 18:3, 0:2, 1:1} -> canonical
        # 1->'0', 0->'10', 17->'110', 18->'111'
        bw.w(3, 3).w(3, 3).w(2, 3).w(1, 3)
        bw.w(0, 1)  # no max-symbol escape
        bw.code(0b110, 3).w(9 - 3, 3)  # 17: 9 zeros (symbols 0..8)
        bw.code(0b0, 1)  # symbol 9 has length 1
        bw.code(0b111, 3).w(138 - 11, 7)  # 18: 138 zeros (10..147)
        bw.code(0b111, 3).w(132 + idx - 11, 7)  # 18: zeros to cache_sym
        bw.code(0b0, 1)  # cache_sym has length 1
        if idx == 0:
            bw.code(0b10, 2)  # one trailing zero (symbol 281)
        # red/blue/alpha: simple 1-symbol values 1, 2, 255
        bw.w(1, 1).w(0, 1).w(0, 1).w(1, 1)
        bw.w(1, 1).w(0, 1).w(1, 1).w(2, 8)
        bw.w(1, 1).w(0, 1).w(1, 1).w(255, 8)
        # distance: simple 1-symbol value 0
        bw.w(1, 1).w(0, 1).w(0, 1).w(0, 1)
        # pixels: literal (green '0'), then the cache hit (green '1')
        bw.code(0, 1)
        bw.code(1, 1)
        img = vp8l.decode_vp8l_chunk(bw.done())
        np.testing.assert_array_equal(
            img, np.tile(np.array([255, 1, 9, 2], np.uint8), (1, 2, 1))
        )

    def test_meta_prefix_groups(self):
        """8x1 image with a prefix-code (entropy) image: two groups,
        block size 16>>... precision 2 -> blocks of 4 -> meta image
        2x1; first 4 pixels decode through group 0 (green 10), last 4
        through group 1 (green 20)."""
        bw = _header(8, 1)
        bw.w(0, 1)  # no transforms
        bw.w(0, 1)  # no color cache
        bw.w(1, 1)  # meta prefix codes present
        bw.w(0, 3)  # precision = 2 -> subsample 8 -> 2 wide
        # --- the meta image itself (2x1, no cache bit group) ---
        bw.w(0, 1)  # meta image: no color cache
        # green: simple 2-symbol (0 and 1): meta index = (red<<8)|green
        bw.w(1, 1).w(1, 1).w(1, 1).w(0, 8).w(1, 8)
        # red/blue/alpha: simple 1-symbol value 0
        for _ in range(3):
            bw.w(1, 1).w(0, 1).w(0, 1).w(0, 1)
        # distance: simple 1-symbol value 0
        bw.w(1, 1).w(0, 1).w(0, 1).w(0, 1)
        # meta pixels: green 0 then green 1 (canonical {0:'0',1:'1'})
        bw.code(0, 1).code(1, 1)
        # --- two prefix-code groups ---
        for green_val in (10, 20):
            # green: simple 1-symbol
            bw.w(1, 1).w(0, 1).w(1, 1).w(green_val, 8)
            # red/blue: simple 1-symbol value = green+1 / green+2
            bw.w(1, 1).w(0, 1).w(1, 1).w(green_val + 1, 8)
            bw.w(1, 1).w(0, 1).w(1, 1).w(green_val + 2, 8)
            # alpha 255
            bw.w(1, 1).w(0, 1).w(1, 1).w(255, 8)
            # distance
            bw.w(1, 1).w(0, 1).w(0, 1).w(0, 1)
        # pixel data: every code is 0-bit, so nothing on the wire
        img = vp8l.decode_vp8l_chunk(bw.done())
        assert img.shape == (1, 8, 4)
        # [a, r, g, b]
        np.testing.assert_array_equal(
            img[0, :4], np.tile(np.array([255, 11, 10, 12], np.uint8), (4, 1))
        )
        np.testing.assert_array_equal(
            img[0, 4:], np.tile(np.array([255, 21, 20, 22], np.uint8), (4, 1))
        )

    def test_subtract_green_inverse(self):
        """2x1 with the subtract-green transform: stored residuals
        r-g, b-g must come back as r, b."""
        bw = _header(2, 1)
        bw.w(1, 1).w(2, 2)  # transform: subtract green
        bw.w(0, 1)  # no more transforms
        bw.w(0, 1)  # no cache
        bw.w(0, 1)  # no meta
        # green: simple 1-symbol 100
        bw.w(1, 1).w(0, 1).w(1, 1).w(100, 8)
        # red residual: (30 - 100) mod 256 = 186
        bw.w(1, 1).w(0, 1).w(1, 1).w(186, 8)
        # blue residual: (140 - 100) mod 256 = 40
        bw.w(1, 1).w(0, 1).w(1, 1).w(40, 8)
        # alpha 255, distance dummy
        bw.w(1, 1).w(0, 1).w(1, 1).w(255, 8)
        bw.w(1, 1).w(0, 1).w(0, 1).w(0, 1)
        img = vp8l.decode_vp8l_chunk(bw.done())
        np.testing.assert_array_equal(
            img, np.tile(np.array([255, 30, 100, 140], np.uint8), (1, 2, 1))
        )


class TestRoundTrip:
    def test_literal_path(self):
        img = RNG.integers(0, 256, (23, 31, 3), dtype=np.uint8)
        data = vp8l.encode(img)
        assert data[:4] == b"RIFF" and data[8:12] == b"WEBP"
        np.testing.assert_array_equal(vp8l.decode(data), img)

    def test_palette_paths_all_bundle_widths(self):
        # palettes of 2/4/16 colors bundle 8/4/2 pixels per byte;
        # 17+ colors use unbundled indices
        for ncol in (2, 3, 4, 9, 16, 17, 130, 256):
            base = np.unique(
                RNG.integers(0, 256, (ncol * 2, 3), dtype=np.uint8), axis=0
            )[:ncol]
            img = base[RNG.integers(0, len(base), (11, 27))]
            np.testing.assert_array_equal(
                vp8l.decode(vp8l.encode(img)), img, err_msg=f"ncol={ncol}"
            )

    def test_degenerate_sizes(self):
        for h, w in [(1, 1), (1, 9), (9, 1), (2, 2), (16, 16)]:
            img = RNG.integers(0, 256, (h, w, 3), dtype=np.uint8)
            np.testing.assert_array_equal(vp8l.decode(vp8l.encode(img)), img)

    def test_codec_dispatch(self):
        img = RNG.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        payload = codecs.encode_image(img, "webp")
        np.testing.assert_array_equal(
            codecs.decode_image(payload, 8, 8, "webp"), img
        )
        with pytest.raises(ValueError, match="metadata"):
            codecs.decode_image(payload, 9, 8, "webp")


class TestExternalFixture:
    """A REAL libwebp bitstream (CPython's committed python.webp):
    its ALPH chunk is VP8L-coded (compression=1, filter=0) — decoding
    it pins the entropy/transform conventions against an independent
    encoder."""

    def _alph(self):
        data = open(f"{DATA}/python_16x16.webp", "rb").read()
        chunks = dict(vp8l._riff_chunks(data))
        assert set(chunks) >= {b"VP8X", b"ALPH", b"VP8 "}
        return chunks[b"ALPH"]

    def test_alpha_plane_golden(self):
        plane = vp8l.decode_alpha_chunk(self._alph(), 16, 16)
        assert plane.shape == (16, 16) and plane.dtype == np.uint8
        # pinned from the first successful decode, eyeballed as the
        # Python-logo silhouette (two interlocking snakes)
        assert zlib.crc32(plane.tobytes()) == 2550879177
        # structural: anti-aliased glyph on transparent ground
        assert (plane == 255).mean() > 0.3
        assert (plane == 0).mean() > 0.1
        assert len(np.unique(plane)) > 20

    def test_lossy_vp8_refused(self):
        data = open(f"{DATA}/python_16x16.webp", "rb").read()
        with pytest.raises(NotImplementedError, match="lossy VP8"):
            vp8l.decode(data)

    def test_not_webp_rejected(self):
        with pytest.raises(ValueError, match="RIFF"):
            vp8l.decode(b"\x89PNG\r\n\x1a\n" + b"\x00" * 24)


class TestPredictorAndColorTransforms:
    """The predictor (14 modes + edge rules) and color-transform
    inverses, driven by TEST-SIDE forward transforms written here
    independently from the spec.  Streams are assembled with the
    codec's low-level entropy writers — the entropy layer itself is
    already cross-validated (hand-assembled streams above + the
    external libwebp fixture)."""

    @staticmethod
    def _avg2(a, b):
        return (a + b) // 2

    def _predict(self, out, x, y, w, mode):
        # spec edge rules first
        if x == 0 and y == 0:
            return np.array([255, 0, 0, 0], np.int64)
        if y == 0:
            return out[0, x - 1]
        if x == 0:
            return out[y - 1, 0]
        L = out[y, x - 1].astype(np.int64)
        T = out[y - 1, x].astype(np.int64)
        TL = out[y - 1, x - 1].astype(np.int64)
        TR = (out[y - 1, x + 1] if x + 1 < w else out[y, 0]).astype(np.int64)
        if mode == 0:
            return np.array([255, 0, 0, 0], np.int64)
        if mode == 1:
            return L
        if mode == 2:
            return T
        if mode == 3:
            return TR
        if mode == 4:
            return TL
        if mode == 5:
            return self._avg2(self._avg2(L, TR), T)
        if mode == 6:
            return self._avg2(L, TL)
        if mode == 7:
            return self._avg2(L, T)
        if mode == 8:
            return self._avg2(TL, T)
        if mode == 9:
            return self._avg2(T, TR)
        if mode == 10:
            return self._avg2(self._avg2(L, TL), self._avg2(T, TR))
        if mode == 11:
            p = L + T - TL
            return L if int(np.abs(p - L).sum()) < int(np.abs(p - T).sum()) else T
        if mode == 12:
            return np.clip(L + T - TL, 0, 255)
        if mode == 13:
            a = self._avg2(L, T)
            d = a - TL
            return np.clip(a + np.sign(d) * (np.abs(d) // 2), 0, 255)
        raise AssertionError(mode)

    def _stream_with_predictor(self, pixels, mode, size_bits=2):
        """pixels: (h, w, 4) [a,r,g,b] -> VP8L chunk body with a
        single-mode predictor transform; residuals computed by the
        TEST's forward predictor."""
        h, w, _ = pixels.shape
        res = np.zeros_like(pixels)
        recon = pixels.astype(np.int64)
        for y in range(h):
            for x in range(w):
                pred = self._predict(recon, x, y, w, mode)
                res[y, x] = (recon[y, x] - pred) % 256
        bw = vp8l._BitWriter()
        bw.write(0x2F, 8)
        bw.write(w - 1, 14)
        bw.write(h - 1, 14)
        bw.write(0, 1)
        bw.write(0, 3)
        bw.write(1, 1)  # transform present
        bw.write(0, 2)  # predictor
        bw.write(size_bits - 2, 3)
        bh = (h + (1 << size_bits) - 1) >> size_bits
        bwid = (w + (1 << size_bits) - 1) >> size_bits
        modes = np.zeros((bh * bwid, 4), np.uint8)
        modes[:, 0] = 255
        modes[:, 2] = mode  # green channel carries the mode
        vp8l._write_literal_image(bw, modes, top_level=False)
        bw.write(0, 1)  # no more transforms
        vp8l._write_literal_image(bw, res.reshape(-1, 4).astype(np.uint8),
                                  top_level=True)
        return bw.done()

    def test_all_14_predictor_modes_roundtrip(self):
        img = RNG.integers(0, 256, (9, 11, 4), dtype=np.uint8)
        img[:, :, 0] = 255
        for mode in range(14):
            got = vp8l.decode_vp8l_chunk(self._stream_with_predictor(img, mode))
            np.testing.assert_array_equal(got, img, err_msg=f"mode={mode}")

    def test_predictor_tr_wrap_on_last_column(self):
        # mode 3 (top-right) forces the last column through the
        # TR-wraps-to-current-row-start rule every row
        img = RNG.integers(0, 256, (6, 4, 4), dtype=np.uint8)
        img[:, :, 0] = 255
        got = vp8l.decode_vp8l_chunk(self._stream_with_predictor(img, 3))
        np.testing.assert_array_equal(got, img)

    def test_color_transform_roundtrip(self):
        """Forward color transform written from the spec: deltas are
        SUBTRACTED on encode, added back on decode; red shifts by
        g2r(green), blue by g2b(green) + r2b(final red)."""
        h, w = 8, 12
        size_bits = 2
        img = RNG.integers(0, 256, (h, w, 4), dtype=np.uint8)
        img[:, :, 0] = 255
        g2r, g2b, r2b = 37, 200, 91  # stored uint8, interpreted int8

        def delta(t, c):
            t = t - 256 if t >= 128 else t
            c = c - 256 if c >= 128 else c
            return (t * c) >> 5

        res = img.astype(np.int64).copy()
        for y in range(h):
            for x in range(w):
                a, r, g, b = img[y, x].astype(np.int64)
                new_r = (r - delta(g2r, g)) % 256
                new_b = (b - delta(g2b, g) - delta(r2b, r)) % 256
                res[y, x] = [a, new_r, g, new_b]
        bw = vp8l._BitWriter()
        bw.write(0x2F, 8)
        bw.write(w - 1, 14)
        bw.write(h - 1, 14)
        bw.write(0, 1)
        bw.write(0, 3)
        bw.write(1, 1)  # transform present
        bw.write(1, 2)  # color transform
        bw.write(size_bits - 2, 3)
        bh = (h + 3) >> 2
        bwid = (w + 3) >> 2
        # cte sub-image: blue=g2r, green=g2b, red=r2b
        cte = np.zeros((bh * bwid, 4), np.uint8)
        cte[:, 0] = 255
        cte[:, 1] = r2b
        cte[:, 2] = g2b
        cte[:, 3] = g2r
        vp8l._write_literal_image(bw, cte, top_level=False)
        bw.write(0, 1)  # no more transforms
        vp8l._write_literal_image(bw, res.reshape(-1, 4).astype(np.uint8),
                                  top_level=True)
        got = vp8l.decode_vp8l_chunk(bw.done())
        np.testing.assert_array_equal(got, img)


class TestAlphaFilters:
    """ALPH row filters 1-3 inverted against a TEST-SIDE forward
    filter written from the container spec (raw-compression chunks,
    so the filter layer is isolated from the entropy machinery)."""

    @staticmethod
    def _forward(plane, method):
        h, w = plane.shape
        res = np.zeros_like(plane, dtype=np.int64)
        p = plane.astype(np.int64)
        for y in range(h):
            for x in range(w):
                if y == 0 and x == 0:
                    pred = 0
                elif y == 0:
                    pred = p[0, x - 1]
                elif x == 0:
                    pred = p[y - 1, 0]
                elif method == 1:
                    pred = p[y, x - 1]
                elif method == 2:
                    pred = p[y - 1, x]
                else:
                    pred = min(
                        max(p[y, x - 1] + p[y - 1, x] - p[y - 1, x - 1], 0), 255
                    )
                res[y, x] = (p[y, x] - pred) % 256
        return res.astype(np.uint8)

    def test_unfilter_inverts_forward(self):
        plane = RNG.integers(0, 256, (9, 14), dtype=np.uint8)
        for method in (1, 2, 3):
            body = bytes([method << 2]) + self._forward(plane, method).tobytes()
            got = vp8l.decode_alpha_chunk(body, 14, 9)
            np.testing.assert_array_equal(got, plane, err_msg=f"filter={method}")

    def test_filter_zero_raw(self):
        plane = RNG.integers(0, 256, (5, 7), dtype=np.uint8)
        body = bytes([0]) + plane.tobytes()
        np.testing.assert_array_equal(vp8l.decode_alpha_chunk(body, 7, 5), plane)


class TestTransformComposition:
    def test_subtract_green_then_predictor_reversed_on_decode(self):
        """libwebp's usual photo pipeline applies subtract-green, then
        the predictor, so the stream lists them in that order and the
        decoder must invert them REVERSED (predictor first).  Forward
        transforms here are test-side."""
        h, w, size_bits, mode = 7, 10, 2, 2  # predictor mode 2 = Top
        img = RNG.integers(0, 256, (h, w, 4), dtype=np.uint8)
        img[:, :, 0] = 255
        # forward subtract-green
        sg = img.astype(np.int64).copy()
        sg[:, :, 1] = (sg[:, :, 1] - sg[:, :, 2]) % 256
        sg[:, :, 3] = (sg[:, :, 3] - sg[:, :, 2]) % 256
        # forward predictor (mode fixed) on the subtract-green domain
        helper = TestPredictorAndColorTransforms()
        res = np.zeros_like(sg)
        for y in range(h):
            for x in range(w):
                pred = helper._predict(sg, x, y, w, mode)
                res[y, x] = (sg[y, x] - pred) % 256
        bw = vp8l._BitWriter()
        bw.write(0x2F, 8)
        bw.write(w - 1, 14)
        bw.write(h - 1, 14)
        bw.write(0, 1)
        bw.write(0, 3)
        bw.write(1, 1)
        bw.write(2, 2)  # transform: subtract green (first)
        bw.write(1, 1)
        bw.write(0, 2)  # transform: predictor (second)
        bw.write(size_bits - 2, 3)
        bh = (h + 3) >> 2
        bwid = (w + 3) >> 2
        modes = np.zeros((bh * bwid, 4), np.uint8)
        modes[:, 0] = 255
        modes[:, 2] = mode
        vp8l._write_literal_image(bw, modes, top_level=False)
        bw.write(0, 1)  # no more transforms
        vp8l._write_literal_image(bw, res.reshape(-1, 4).astype(np.uint8),
                                  top_level=True)
        got = vp8l.decode_vp8l_chunk(bw.done())
        np.testing.assert_array_equal(got, img)


@pytest.mark.spark
class TestSparkDecodeStats:
    def test_decode_stats_accepts_webp(self, spark):
        """WebP payload rows flow through the same feature-extract
        operator as raw (lossless codec => identical stats)."""
        from mapchete_xarray_spark.operators.multimodal import decode_stats

        imgs = [RNG.integers(0, 256, (16, 16, 3), dtype=np.uint8) for _ in range(3)]
        pdf = pd.DataFrame(
            {
                "image_id": [f"v{i}" for i in range(3)],
                "bytes": [vp8l.encode(a) for a in imgs],
                "w": 16,
                "h": 16,
                "fmt": "webp",
            }
        )
        raw_pdf = pdf.assign(bytes=[a.tobytes() for a in imgs], fmt="raw")
        w_stats = decode_stats(spark.createDataFrame(pdf)).toPandas()
        r_stats = decode_stats(spark.createDataFrame(raw_pdf)).toPandas()
        for col in ("mean_r", "mean_g", "mean_b", "std_lum", "phash"):
            a = w_stats.sort_values("image_id")[col].to_numpy()
            b = r_stats.sort_values("image_id")[col].to_numpy()
            np.testing.assert_array_equal(a, b)


class TestLZ77Emission:
    def test_compression_and_exact_roundtrip(self):
        rng = np.random.default_rng(5)
        tile = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        big = np.tile(tile, (16, 16, 1))  # highly repetitive
        data = vp8l.encode(big)
        assert len(data) < big.size // 20  # LZ77 must actually bite
        np.testing.assert_array_equal(vp8l.decode(data), big)

    def test_long_match_spans_prefix_extra_bits(self):
        # a 5000-pixel constant run forces max-length (4096) matches
        # with large extra-bit fields in both length and distance
        img = np.full((50, 100, 3), 77, np.uint8)
        img[0, 0] = (1, 2, 3)
        data = vp8l.encode(img)
        assert len(data) < 200
        np.testing.assert_array_equal(vp8l.decode(data), img)

    def test_prefix_encode_inverts_prefix_value(self):
        from mapchete_xarray_spark.vp8l import (
            _BitReader, _BitWriter, _prefix_encode, _prefix_value
        )

        for v in list(range(1, 70)) + [500, 4096, 120000, 786432]:
            code, nbits, extra = _prefix_encode(v)
            bw = _BitWriter()
            bw.write(extra, nbits)
            assert _prefix_value(code, _BitReader(bw.done() or b"\x00")) == v


class TestAdviceR8FarMatch:
    def test_match_beyond_prefix_range_falls_back_to_literal(self):
        """A greedy LZ77 match farther back than the largest
        representable prefix value (1048576) must be emitted as
        literals, not raise from _prefix_encode (ADVICE r8 —
        reproduced with a >1.05M-pixel image repeating its opening
        pixel run at the end)."""
        n = 1100 * 1100
        idx = np.arange(n, dtype=np.uint32)
        img = np.stack(
            [(idx & 255), ((idx >> 8) & 255), ((idx >> 16) & 255)], axis=1
        ).astype(np.uint8).reshape(1100, 1100, 3)
        img[-1, -8:] = img[0, :8]  # far match, distance ~n-8 > 2^20
        data = vp8l.encode(img)
        np.testing.assert_array_equal(vp8l.decode(data), img)
