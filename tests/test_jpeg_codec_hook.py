"""The optional native-JPEG-codec hook (sources/images.py::jpeg_codec).

No native binding exists in this sandbox (PIL/cv2/turbojpeg are not
installed), so the hook must resolve to the pure io.jpeg decoder under
'auto'; the native plumbing is exercised by injecting fake candidates —
a correct one (wraps the pure decoder, must be selected and produce
bit-identical batches) and a broken one (fails the PSNR self-check,
must be skipped in auto mode and refused when forced).
"""

from __future__ import annotations

import sys
import types

import numpy as np
import pytest

from spatial4n_spark.io.jpeg import jpeg_decode_batch, jpeg_encode
from spatial4n_spark.sources import images as I


@pytest.fixture(autouse=True)
def _fresh_codec_cache(monkeypatch):
    monkeypatch.setattr(I, "_jpeg_codec_cache", None)
    monkeypatch.delenv("SPATIAL4N_JPEG_CODEC", raising=False)
    yield
    I._jpeg_codec_cache = None


def _test_jpegs(n=4):
    bufs = []
    for i in range(n):
        pix = I._mix64(
            np.arange(24 * 24 * 3, dtype=np.uint64) + np.uint64(i * 0x1F123)
        )
        rgb = (pix & np.uint64(0xFF)).astype(np.uint8).reshape(24, 24, 3)
        bufs.append(jpeg_encode(rgb))
    return bufs


def test_auto_resolves_to_pure_in_this_sandbox():
    name, fn = I.jpeg_codec()
    assert name == "pure"
    assert fn is jpeg_decode_batch


def test_env_pure_short_circuits(monkeypatch):
    monkeypatch.setenv("SPATIAL4N_JPEG_CODEC", "pure")
    # even with a (fake) native codec importable, 'pure' wins — this is
    # the bit-exact mode correctness gates pin against the DuckDB oracle
    monkeypatch.setattr(
        I, "_native_jpeg_candidates",
        lambda: iter([("fakelib", jpeg_decode_batch)]),
    )
    assert I.jpeg_codec()[0] == "pure"


def test_forcing_unavailable_codec_raises(monkeypatch):
    monkeypatch.setenv("SPATIAL4N_JPEG_CODEC", "turbojpeg")
    with pytest.raises(ValueError, match="not available"):
        I.jpeg_codec()


def test_verified_native_codec_is_selected_and_bit_equal(monkeypatch):
    calls = []

    def fake_native(bufs):
        calls.append(len(bufs))
        return jpeg_decode_batch(bufs)

    monkeypatch.setattr(
        I, "_native_jpeg_candidates", lambda: iter([("fakelib", fake_native)])
    )
    name, fn = I.jpeg_codec()
    assert name == "fakelib"
    assert calls == [1]  # the PSNR self-check ran exactly once

    # the full decode chokepoint routes jpg through the native fn and
    # produces a batch bit-identical to the pure path
    bufs = _test_jpegs()
    w = np.full(len(bufs), 24)
    fmts = ["jpg"] * len(bufs)
    got = I.decode_image_batch(bufs, w, w, fmts)
    want = jpeg_decode_batch(bufs)
    for g, x in zip(got, want):
        np.testing.assert_array_equal(g, x)
    assert calls == [1, len(bufs)]


def test_broken_native_codec_fails_self_check(monkeypatch, capsys):
    def broken(bufs):
        return [np.zeros((16, 16, 3), np.uint8) for _ in bufs]

    monkeypatch.setattr(
        I, "_native_jpeg_candidates", lambda: iter([("fakelib", broken)])
    )
    # auto: skipped with a warning, falls back to pure
    assert I.jpeg_codec()[0] == "pure"
    assert "failed self-check" in capsys.readouterr().err

    # forced: refused outright — a wrong decoder must never run silently
    I._jpeg_codec_cache = None
    monkeypatch.setenv("SPATIAL4N_JPEG_CODEC", "fakelib")
    with pytest.raises(ValueError, match="self-check"):
        I.jpeg_codec()


def test_self_check_psnr_scores_pure_as_perfect():
    assert I._jpeg_self_check_psnr(jpeg_decode_batch) == float("inf")


def _fake_cv2(decoded):
    """A stand-in ``cv2`` module whose imdecode returns ``decoded``."""
    cv2 = types.ModuleType("cv2")
    cv2.IMREAD_COLOR, cv2.COLOR_BGR2RGB = 1, 4
    cv2.imdecode = lambda buf, flag: decoded
    cv2.cvtColor = lambda img, code: img[..., ::-1]
    return cv2


def test_cv2_undecodable_payload_raises_decode_error(monkeypatch):
    # cv2.imdecode signals an undecodable buffer with None; the candidate
    # must say so, not fail inside cvtColor
    monkeypatch.setitem(sys.modules, "cv2", _fake_cv2(None))
    decode = dict(I._native_jpeg_candidates())["cv2"]
    with pytest.raises(ValueError, match="cv2 could not decode a 10-byte"):
        decode([b"not a jpeg"])
    monkeypatch.setitem(sys.modules, "cv2", _fake_cv2(np.zeros((2, 3, 3), np.uint8)))
    decode = dict(I._native_jpeg_candidates())["cv2"]
    assert decode([b"\xff\xd8"])[0].shape == (2, 3, 3)


def test_broken_native_import_is_skipped(monkeypatch):
    # a native install that fails at import with something other than
    # ImportError (a missing shared library, say) is skipped, not fatal
    def _broken(name):
        raise OSError("libjpeg.so: cannot open shared object file")

    pil = types.ModuleType("PIL")
    pil.__getattr__ = _broken  # ``from PIL import Image`` raises OSError
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "cv2", None)  # not installed
    assert dict(I._native_jpeg_candidates()) == {}
    assert I.jpeg_codec()[0] == "pure"
