"""Pure-numpy baseline JFIF codec (jpeg.py, round 7): spec-level
tests with a hand-assembled bitstream written independently in this
file, encoder round-trips across subsampling/quality/restart, a real
external fixture (Spark's own mllib sample images — produced by a
real camera/encoder chain), a cross-decoder check against the JVM's
ImageIO via Spark's image datasource, and the decode_stats Spark
path."""

import os
import struct

import numpy as np
import pandas as pd
import pytest

from mapchete_xarray_spark import codecs, jpeg

DATA = os.path.join(os.path.dirname(__file__), "data")
RNG = np.random.default_rng(13)


def _gradient(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [
            xx * 255 / max(w - 1, 1),
            yy * 255 / max(h - 1, 1),
            (xx + yy) * 255 / max(w + h - 2, 1),
        ],
        axis=2,
    ).astype(np.uint8)


class TestSpec:
    def test_zigzag_order(self):
        """ZIG regenerated from the diagonal rule (T.81 figure 5),
        written here independently of the module constant."""
        want = []
        for s in range(15):
            diag = [(r, s - r) for r in range(min(s, 7), max(0, s - 7) - 1, -1)]
            if s % 2:  # odd diagonals run top-right → bottom-left
                diag.reverse()
            want += [r * 8 + c for r, c in diag]
        assert list(jpeg.ZIG) == want

    def test_annex_k_huffman_tables_are_canonical(self):
        """Every standard table forms a valid canonical prefix code
        (codes never overflow their length — a transcription error in
        BITS/HUFFVAL would)."""
        for bits, vals in (
            jpeg._K_DC_LUM,
            jpeg._K_DC_CHR,
            jpeg._K_AC_LUM,
            jpeg._K_AC_CHR,
        ):
            assert sum(bits) == len(vals)
            for code, ln, _ in jpeg._canonical_codes(bits, vals):
                assert code < (1 << ln)

    def test_minimal_handbuilt_gray_block(self):
        """A single-component 8×8 JPEG assembled BY HAND in this test
        (own segment writer, entropy bits worked out from the spec's
        canonical-code procedure): DC diff category 0 ('00' in the
        standard luminance DC table) + EOB ('1010' in the standard
        luminance AC table), padded with 1s → one byte 0x2B.  All
        coefficients zero ⇒ the decoded plane is exactly 128 grey."""

        def seg(marker, body):
            return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

        bits_dc, vals_dc = jpeg._K_DC_LUM
        bits_ac, vals_ac = jpeg._K_AC_LUM
        data = (
            b"\xff\xd8"
            + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
            + seg(0xC0, bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0]))
            + seg(0xC4, bytes([0x00]) + bytes(bits_dc) + bytes(vals_dc))
            + seg(0xC4, bytes([0x10]) + bytes(bits_ac) + bytes(vals_ac))
            + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
            + bytes([0b00101011])
            + b"\xff\xd9"
        )
        out = jpeg.decode(data)
        assert out.shape == (8, 8, 3)
        assert (out == 128).all()

    def test_lossless_sof3_rejected(self):
        payload = jpeg.encode(_gradient(16, 16))
        i = payload.index(b"\xff\xc0")
        mangled = payload[:i] + b"\xff\xc3" + payload[i + 2 :]
        with pytest.raises(NotImplementedError, match="SOF3"):
            jpeg.decode(mangled)

    def test_not_a_jpeg_rejected(self):
        with pytest.raises(ValueError, match="SOI"):
            jpeg.decode(b"\x89PNG\r\n\x1a\n")


class TestRoundTrip:
    def test_444_psnr(self):
        img = _gradient(37, 53)
        out = jpeg.decode(jpeg.encode(img, quality=95))
        assert out.shape == img.shape
        assert codecs.psnr(img, out) >= 48

    def test_420_psnr_and_odd_sizes(self):
        """4:2:0 halves chroma resolution, so a full-range gradient
        packed into very few pixels legitimately costs PSNR (real
        libjpeg behaves the same) — thresholds are size-aware."""
        for h, w, floor in ((37, 53, 38), (16, 16, 30), (8, 8, 25), (9, 23, 28)):
            img = _gradient(h, w)
            out = jpeg.decode(jpeg.encode(img, quality=90, subsample=True))
            assert out.shape == (h, w, 3)
            assert codecs.psnr(img, out) >= floor, (h, w)

    def test_noise_survives(self):
        img = RNG.integers(0, 256, (24, 31, 3), dtype=np.uint8)
        out = jpeg.decode(jpeg.encode(img, quality=95))
        assert codecs.psnr(img, out) >= 30

    def test_restart_interval_identical(self):
        """RSTn markers change the bit framing, not the pixels."""
        img = _gradient(40, 40)
        plain = jpeg.decode(jpeg.encode(img, quality=90, subsample=True))
        rst = jpeg.decode(
            jpeg.encode(img, quality=90, subsample=True, restart_interval=2)
        )
        np.testing.assert_array_equal(plain, rst)

    def test_codec_dispatch(self):
        img = _gradient(12, 10)
        payload = codecs.encode_image(img, "jpeg")
        assert payload[:2] == b"\xff\xd8"
        out = codecs.decode_image(payload, 10, 12, "jpeg")
        # dispatch default is q90 4:2:0; a 12x10 full-range gradient
        # is the chroma-subsampling worst case (see test_420_psnr)
        assert codecs.psnr(img, out) >= 28
        with pytest.raises(ValueError, match="metadata"):
            codecs.decode_image(payload, 11, 12, "jpeg")


class TestExternalFixture:
    """A real camera JPEG (Spark's mllib sample data — baseline SOF0,
    4:2:0, the wild default) — the interop proof an own-encoder
    round-trip can't give."""

    def test_decodes(self):
        arr = jpeg.decode(open(f"{DATA}/kitten_300x296.jpg", "rb").read())
        assert arr.shape == (296, 300, 3) and arr.dtype == np.uint8
        # photographic content: non-trivial dynamic range per channel
        assert (arr.max(axis=(0, 1)) - arr.min(axis=(0, 1)) > 100).all()

    def test_reencode_roundtrip(self):
        first = jpeg.decode(open(f"{DATA}/kitten_300x296.jpg", "rb").read())
        again = jpeg.decode(jpeg.encode(first, quality=90, subsample=True))
        assert codecs.psnr(first, again) >= 30


@pytest.mark.spark
class TestSparkPaths:
    def test_cross_decoder_vs_jvm_imageio(self, spark):
        """Decode the fixture with the JVM's ImageIO (Spark's image
        datasource — a fully independent JPEG implementation) and with
        jpeg.decode; the two must agree to high PSNR (decoders differ
        legitimately in IDCT rounding and chroma upsampling)."""
        row = (
            spark.read.format("image")
            .load(f"file://{DATA}/kitten_300x296.jpg")
            .select("image.*")
            .collect()[0]
        )
        assert (row.height, row.width, row.nChannels) == (296, 300, 3)
        jvm = (
            np.frombuffer(bytes(row.data), np.uint8)
            .reshape(row.height, row.width, 3)[:, :, ::-1]  # BGR → RGB
        )
        ours = jpeg.decode(open(f"{DATA}/kitten_300x296.jpg", "rb").read())
        # measured 50.7 dB (mean abs diff 0.47 intensity units)
        assert codecs.psnr(jvm, ours) >= 45
        # channel means agree to < 1 intensity step
        assert np.abs(
            jvm.mean(axis=(0, 1)) - ours.mean(axis=(0, 1))
        ).max() < 1.0

    def test_decode_stats_accepts_jpeg(self, spark):
        """JPEG payload rows flow through the same feature-extract
        operator as raw/q8/png: stats equal the stats of the decoded
        pixels fed through as raw."""
        from mapchete_xarray_spark.operators.multimodal import decode_stats

        imgs = [_gradient(16, 16), _gradient(16, 16)[::-1].copy()]
        payloads = [codecs.encode_image(a, "jpeg") for a in imgs]
        decoded = [codecs.decode_image(p, 16, 16, "jpeg") for p in payloads]
        pdf = pd.DataFrame(
            {
                "image_id": ["j0", "j1"],
                "bytes": payloads,
                "w": 16,
                "h": 16,
                "fmt": "jpeg",
            }
        )
        raw_pdf = pdf.assign(bytes=[a.tobytes() for a in decoded], fmt="raw")
        js = decode_stats(spark.createDataFrame(pdf)).toPandas().sort_values("image_id")
        rs = (
            decode_stats(spark.createDataFrame(raw_pdf))
            .toPandas()
            .sort_values("image_id")
        )
        for col in ("mean_r", "mean_g", "mean_b", "std_lum", "phash"):
            assert (js[col].to_numpy() == rs[col].to_numpy()).all(), col


class TestRgbColorSpace:
    """ADVICE r7 #3: 3-component baseline JPEGs marked as stored-RGB
    (Adobe APP14 transform=0, or component IDs 'R','G','B') must skip
    the YCbCr matrix instead of silently decoding wrong colors."""

    COLOR = (200, 30, 60)

    def _const_jpeg(self):
        img = np.zeros((16, 16, 3), dtype=np.uint8)
        img[:] = self.COLOR
        return jpeg.encode(img, quality=95)

    @staticmethod
    def _ycbcr(rgb):
        r, g, b = (float(v) for v in rgb)
        return (
            0.299 * r + 0.587 * g + 0.114 * b,
            128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b,
            128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b,
        )

    def test_app14_transform0_skips_matrix(self):
        payload = self._const_jpeg()
        normal = jpeg.decode(payload)
        assert np.abs(normal[0, 0].astype(float) - self.COLOR).max() <= 3
        app14 = (
            b"\xff\xee" + struct.pack(">H", 14)
            + b"Adobe" + b"\x00\x64" + b"\x00\x00" * 2 + b"\x00"
        )
        marked = payload[:2] + app14 + payload[2:]
        out = jpeg.decode(marked)
        # stored planes ARE the output: expect (Y, Cb, Cr) values
        exp = self._ycbcr(self.COLOR)
        assert np.abs(out[0, 0].astype(float) - exp).max() <= 3
        assert np.abs(out[0, 0].astype(float) - self.COLOR).max() > 20

    def test_rgb_component_ids_skip_matrix(self):
        payload = bytearray(self._const_jpeg())
        # patch SOF0 component ids 1,2,3 → 'R','G','B' (+ SOS to match)
        sof = payload.find(b"\xff\xc0")
        assert sof >= 0
        for i, cid in enumerate((0x52, 0x47, 0x42)):
            payload[sof + 4 + 6 + 3 * i] = cid
        sos = payload.find(b"\xff\xda")
        for i, cid in enumerate((0x52, 0x47, 0x42)):
            payload[sos + 4 + 1 + 2 * i] = cid
        out = jpeg.decode(bytes(payload))
        exp = self._ycbcr(self.COLOR)
        assert np.abs(out[0, 0].astype(float) - exp).max() <= 3

    def test_app14_ycbcr_unchanged(self):
        payload = self._const_jpeg()
        app14 = (
            b"\xff\xee" + struct.pack(">H", 14)
            + b"Adobe" + b"\x00\x64" + b"\x00\x00" * 2 + b"\x01"
        )
        marked = payload[:2] + app14 + payload[2:]
        np.testing.assert_array_equal(jpeg.decode(marked), jpeg.decode(payload))


class TestProgressive:
    """SOF2 decode (T.81 Annex G).  The committed fixture was written
    by the JVM's ImageIO encoder in progressive mode (full scan
    script: interleaved DC first + refinement, per-component AC
    spectral bands with successive approximation Al=2→0) — an encoder
    sharing no code with this module."""

    FIXTURE = os.path.join(
        os.path.dirname(__file__), "data", "kitten_progressive.jpg"
    )

    def test_scan_script_is_really_progressive(self):
        data = open(self.FIXTURE, "rb").read()
        assert b"\xff\xc2" in data  # SOF2
        assert data.count(b"\xff\xda") >= 6  # multi-scan

    def test_decodes_close_to_baseline_twin(self):
        prog = jpeg.decode(open(self.FIXTURE, "rb").read())
        base = jpeg.decode(
            open(
                os.path.join(
                    os.path.dirname(__file__), "data", "kitten_300x296.jpg"
                ),
                "rb",
            ).read()
        )
        assert prog.shape == base.shape == (296, 300, 3)
        mse = np.mean((prog.astype(float) - base.astype(float)) ** 2)
        psnr = 10 * np.log10(255**2 / mse)
        # two independent lossy encodes of the same photo at q≈0.9
        assert psnr > 38.0, psnr

    def test_no_scans_raises(self):
        data = open(self.FIXTURE, "rb").read()
        first_sos = data.index(b"\xff\xda")
        with pytest.raises(ValueError, match="SOF/SOS"):
            jpeg.decode(data[:first_sos] + b"\xff\xd9")

    def test_truncated_scan_script_degrades_gracefully(self):
        # progressive's point: a prefix of the scan script is a valid
        # coarse image — decoding must not crash, just be blurrier
        data = open(self.FIXTURE, "rb").read()
        cut = data.index(b"\xff\xda", data.index(b"\xff\xda") + 2)
        coarse = jpeg.decode(data[:cut] + b"\xff\xd9")
        full = jpeg.decode(data)
        assert coarse.shape == full.shape
        mse = np.mean((coarse.astype(float) - full.astype(float)) ** 2)
        assert 10 < 10 * np.log10(255**2 / max(mse, 1e-9)) < 48


@pytest.mark.spark
class TestProgressiveJvmCrossCheck:
    def test_same_file_both_decoders(self, spark):
        """Decode the SAME progressive bitstream with the JVM's
        ImageIO (via Spark's image source) and with jpeg.decode: the
        only legitimate differences are IDCT/rounding ulps — ≈51 dB,
        the identical agreement level the baseline path shows."""
        path = TestProgressive.FIXTURE
        row = (
            spark.read.format("image").load(path).select("image.*").collect()[0]
        )
        jvm = np.frombuffer(bytes(row.data), np.uint8).reshape(
            row.height, row.width, row.nChannels
        )[:, :, ::-1]
        mine = jpeg.decode(open(path, "rb").read())
        mse = np.mean((mine.astype(float) - jvm.astype(float)) ** 2)
        psnr = 10 * np.log10(255**2 / mse)
        assert psnr > 48.0, psnr
        assert np.abs(mine.astype(int) - jvm.astype(int)).max() <= 8
