"""Real-decode tests: actual PPM/BMP/WAV payloads built byte-by-byte in
the test, pushed through the distributed mapInArrow path, and checked
against the known pixel/sample values. Undecodable payloads must come
back quarantined (decode_ok=false), never raise. The Catalyst stand-ins
(decode_features, frame_sample) are pinned against hashlib, and a source
scan keeps multimodal.py at one Python boundary."""

from __future__ import annotations

import hashlib
import itertools
import pathlib
import struct

import numpy as np
import pytest

from reddit_tech_jobs_data_pipeline_spark.operators import multimodal
from reddit_tech_jobs_data_pipeline_spark.operators.multimodal import (
    decode_image,
    decode_real_features,
    decode_wav,
)


def ppm_bytes(pixels: np.ndarray) -> bytes:
    h, w, _ = pixels.shape
    return b"P6\n# comment\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


def bmp_bytes(pixels: np.ndarray) -> bytes:
    """Minimal 24bpp bottom-up BMP with standard 54-byte headers."""
    h, w, _ = pixels.shape
    row_bytes = (w * 3 + 3) & ~3
    raster = bytearray()
    for row in pixels[::-1]:  # bottom-up
        line = row[:, ::-1].astype(np.uint8).tobytes()  # RGB -> BGR
        raster += line + b"\x00" * (row_bytes - len(line))
    size = 54 + len(raster)
    header = b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0)
    return header + dib + bytes(raster)


def wav_bytes(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Minimal PCM16 mono WAV."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


PIXELS = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
SAMPLES = (np.sin(np.linspace(0, 6.28, 64)) * 1000).astype(np.int16)


class TestPureDecoders:
    def test_ppm_roundtrip(self):
        assert np.array_equal(decode_image(ppm_bytes(PIXELS)), PIXELS)

    def test_bmp_roundtrip_with_row_padding(self):
        # width 3 -> 9-byte rows padded to 12: exercises the pad/flip/BGR path
        assert np.array_equal(decode_image(bmp_bytes(PIXELS)), PIXELS)

    def test_wav_roundtrip(self):
        rate, got = decode_wav(wav_bytes(SAMPLES, rate=8000))
        assert rate == 8000
        assert np.array_equal(got[:, 0], SAMPLES)

    def test_compressed_formats_raise_not_implemented(self):
        with pytest.raises(NotImplementedError):
            decode_image(b"\xff\xd8\xff\xe0 jpeg")
        with pytest.raises(NotImplementedError):
            decode_wav(b"ID3\x03 mp3 payload")


class TestDistributedRealDecode:
    def test_mixed_batch_decodes_and_quarantines(self, spark):
        rows = [
            (1, "image", bytearray(ppm_bytes(PIXELS))),
            (2, "image", bytearray(bmp_bytes(PIXELS))),
            (3, "audio", bytearray(wav_bytes(SAMPLES))),
            (4, "image", bytearray(b"\x89PNG rest-of-png")),
            (5, "video", bytearray(b"anything")),
            (6, "image", None),
        ]
        blobs = spark.createDataFrame(
            rows, "id long, modality string, content binary"
        )
        got = {r.id: r for r in decode_real_features(blobs).collect()}

        assert got[1].decode_ok and got[2].decode_ok
        assert got[1].shape == [2, 3, 3] and got[2].shape == [2, 3, 3]
        expect_means = [float(PIXELS[..., c].mean()) for c in range(3)]
        for i in (1, 2):
            assert got[i].feature == pytest.approx(expect_means)

        assert got[3].decode_ok
        assert got[3].shape == [64, 1]
        assert got[3].feature[0] == 8000.0
        assert got[3].feature[1] == pytest.approx(
            float(np.sqrt(np.mean(SAMPLES.astype("float64") ** 2)))
        )

        for i in (4, 5, 6):  # compressed / video / empty -> quarantined
            assert not got[i].decode_ok and got[i].error
        assert "external library" in got[4].error


# payload lengths 0..4 cover every video frame count (1 + len % 4); None
# is a NULL payload, which both stand-ins read as empty
NATIVE_ROWS = [
    (i, mod, payload)
    for i, (mod, payload) in enumerate(
        itertools.product(
            ("image", "audio", "video", "text"),
            (None, b"", b"a", b"ab", b"\x00\xffz", b"\x80abc"),
        )
    )
]
PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def _native_blobs(spark):
    return spark.createDataFrame(
        NATIVE_ROWS, "id long, modality string, content binary"
    )


def _assert_no_python_node(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not [n for n in PYTHON_NODES if n in plan], plan


class TestCatalystStandIns:
    @pytest.mark.parametrize("dim", [0, 4, 20])
    def test_decode_features_matches_hashlib(self, spark, dim):
        out = multimodal.decode_features(_native_blobs(spark), dim)
        _assert_no_python_node(out)
        assert out.schema["feature"].dataType.simpleString() == "array<double>"
        want = {
            i: (
                mod,
                len(payload or b""),
                hashlib.md5(payload or b"").hexdigest(),
                [b / 255.0 for b in hashlib.md5(payload or b"").digest()[:dim]],
            )
            for i, mod, payload in NATIVE_ROWS
        }
        got = {
            r.id: (r.modality, r.n_bytes, r.content_md5, r.feature)
            for r in out.collect()
        }
        assert got == want

    def test_decode_features_refuses_negative_dim(self, spark):
        with pytest.raises(ValueError, match="dim"):
            multimodal.decode_features(_native_blobs(spark), -1)

    def test_frame_sample_matches_hashlib(self, spark):
        out = multimodal.frame_sample(_native_blobs(spark))
        _assert_no_python_node(out)
        want = []
        for i, mod, payload in NATIVE_ROWS:
            p = payload or b""
            n = {"video": 1 + len(p) % 4, "audio": 2}.get(mod, 1)
            want += [
                (i, mod, f, hashlib.md5(p + b"#" + str(f).encode()).hexdigest())
                for f in range(n)
            ]
        got = [(r.id, r.modality, r.frame_idx, r.frame_md5) for r in out.collect()]
        assert sorted(got) == sorted(want)
        video_ids = {i for i, mod, _ in NATIVE_ROWS if mod == "video"}
        frames_per_video = {sum(1 for r in got if r[0] == i) for i in video_ids}
        assert frames_per_video == {1, 2, 3, 4}


def test_multimodal_has_one_python_boundary():
    """Only multimodal._map_rows crosses to Python, and the decode-error
    tuple is spelled out once — per-operator batch loops must not come
    back."""
    src = pathlib.Path(multimodal.__file__).read_text()
    assert src.count("mapInArrow(") == 1
    assert "mapInPandas(" not in src
    assert src.count("(NotImplementedError, ValueError, IndexError, EOFError)") == 1
