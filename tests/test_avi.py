"""MJPEG-in-AVI container: RIFF walk, frame sampling, the committed
fixture, Spark fan-out, and loud refusals.

The committed fixture (``tests/data/moving_square_8f.avi``) was built
once by ``avi.encode`` over ``jpeg.encode`` frames and pins the
container layout across codec changes; frame decode parity is
asserted against direct ``jpeg.decode`` of the embedded payloads —
the container walk must be a pure pass-through."""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest

from mapchete_xarray_spark import avi, jpeg, vp8l

FIXTURE = os.path.join(os.path.dirname(__file__), "data", "moving_square_8f.avi")


def _synth_frames(n=8, w=64, h=48):
    out = []
    for i in range(n):
        img = np.zeros((h, w, 3), dtype=np.uint8)
        img[:, :, 0] = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
        img[:, :, 2] = np.linspace(255, 0, h, dtype=np.uint8)[:, None]
        x = 4 + i * 6
        img[10:30, x : x + 10] = (20, 230, 20)
        out.append(img)
    return out


class TestContainer:
    def test_roundtrip_metadata(self):
        payloads = [jpeg.encode(f, quality=90) for f in _synth_frames(5)]
        buf = avi.encode(payloads, 64, 48, fps=12.5)
        info = avi.parse_avi(buf)
        assert (info.width, info.height) == (64, 48)
        assert info.fps == 12.5
        assert info.n_frames == 5
        assert info.fourcc == "MJPG"

    def test_frame_decode_is_passthrough(self):
        payloads = [jpeg.encode(f, quality=92) for f in _synth_frames(4)]
        buf = avi.encode(payloads, 64, 48, fps=10.0)
        for i, rgb in avi.frames(buf):
            np.testing.assert_array_equal(rgb, jpeg.decode(payloads[i]))

    def test_committed_fixture(self):
        buf = open(FIXTURE, "rb").read()
        info = avi.parse_avi(buf)
        assert info.n_frames == 8 and info.fps == 10.0
        assert (info.width, info.height) == (64, 48)
        # the moving square is where the generator put it
        for i, rgb in avi.frames(buf, [0, 7]):
            x = 4 + i * 6
            patch = rgb[15:25, x + 2 : x + 8]
            assert patch[:, :, 1].mean() > 180, i  # green square
            assert patch[:, :, 0].mean() < 80, i

    def test_every_nth_and_timestamps(self):
        buf = open(FIXTURE, "rb").read()
        s = avi.frame_sample(buf, every=3)
        assert [(i, t) for i, t, _ in s] == [(0, 0.0), (3, 0.3), (6, 0.6)]
        s2 = avi.frame_sample(buf, timestamps_sec=[0.0, 0.21, 9.9])
        assert [i for i, _, _ in s2] == [0, 2, 7]  # clamped to last frame
        with pytest.raises(ValueError, match="exactly one"):
            avi.frame_sample(buf, every=2, timestamps_sec=[0.0])

    def test_non_mjpg_refused(self):
        buf = bytearray(open(FIXTURE, "rb").read())
        k = buf.find(b"vidsMJPG")
        buf[k + 4 : k + 8] = b"cvid"
        with pytest.raises(NotImplementedError, match="cvid"):
            avi.parse_avi(bytes(buf))

    def test_not_riff(self):
        with pytest.raises(ValueError, match="RIFF"):
            avi.parse_avi(b"\x89PNG" + b"\x00" * 32)
        with pytest.raises(ValueError, match="RIFF"):
            avi.parse_avi(b"GIF89a" + b"\x00" * 32)
        with pytest.raises(ValueError, match="AVI"):
            avi.parse_avi(b"RIFF" + struct.pack("<I", 8) + b"WAVE" + b"\x00" * 8)
        # a real (lossless) WebP is a RIFF form too, just not 'AVI '
        webp = vp8l.encode(np.zeros((4, 4, 3), np.uint8))
        assert webp[:4] == b"RIFF" and webp[8:12] == b"WEBP"
        with pytest.raises(ValueError, match="AVI"):
            avi.parse_avi(webp)


@pytest.mark.spark
class TestSparkVideo:
    def test_sample_video_frames_real_decode(self, spark):
        from mapchete_xarray_spark.operators.multimodal import (
            sample_video_frames,
        )

        buf = open(FIXTURE, "rb").read()
        vids = spark.createDataFrame(
            [(f"vid{i}", bytearray(buf)) for i in range(3)],
            "video_id string, bytes binary",
        )
        out = sample_video_frames(vids, n_frames=4).toPandas()
        assert len(out) == 12
        assert sorted(set(out.frame_idx)) == [0, 2, 5, 7]  # evenly spaced over 8
        assert set(zip(out.w, out.h)) == {(64, 48)}
        # decoded bytes match a driver-side decode of the same frame
        row = out[(out.video_id == "vid1") & (out.frame_idx == 5)].iloc[0]
        _, want = next(avi.frames(buf, [5]))
        got = np.frombuffer(bytes(row.frame_bytes), np.uint8).reshape(48, 64, 3)
        np.testing.assert_array_equal(got, want)
        assert row.t_sec == 0.5
