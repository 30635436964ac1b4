"""Real-PNG codec: spec structure, lossless round-trip, full defilter
coverage (our encoder writes filter 0 only; the decoder must handle any
of the five, so filtered scanlines are crafted forward and decoded)."""

import struct
import zlib

import numpy as np
import pytest

from spatial4n_spark.sources.images import _png_chunk, _PNG_SIG, png_decode, png_encode


def _rand_rgb(rng, h, w):
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_roundtrip_many_shapes():
    rng = np.random.default_rng(7)
    for h, w in [(1, 1), (3, 5), (8, 8), (17, 31), (32, 32), (64, 64)]:
        rgb = _rand_rgb(rng, h, w)
        np.testing.assert_array_equal(png_decode(png_encode(rgb)), rgb)


def test_structure_is_spec_png():
    rgb = _rand_rgb(np.random.default_rng(1), 4, 6)
    buf = png_encode(rgb)
    assert buf[:8] == _PNG_SIG == b"\x89PNG\r\n\x1a\n"
    (ln,) = struct.unpack(">I", buf[8:12])
    assert buf[12:16] == b"IHDR" and ln == 13
    w, h, depth, ctype, comp, filt, inter = struct.unpack(">IIBBBBB", buf[16:29])
    assert (w, h, depth, ctype, comp, filt, inter) == (6, 4, 8, 2, 0, 0, 0)
    assert buf.endswith(_png_chunk(b"IEND", b""))


def test_crc_validated():
    buf = bytearray(png_encode(_rand_rgb(np.random.default_rng(2), 4, 4)))
    buf[20] ^= 0xFF  # corrupt IHDR payload without fixing its CRC
    with pytest.raises(ValueError, match="crc"):
        png_decode(bytes(buf))


def _filter_row(ftype, row, prev):
    """Apply a PNG filter FORWARD to a reconstructed scanline (spec
    encoding direction) so the decoder's inverse can be exercised."""
    stride = len(row)
    out = np.zeros(stride, dtype=np.uint8)
    for x in range(stride):
        a = int(row[x - 3]) if x >= 3 else 0
        b = int(prev[x])
        c = int(prev[x - 3]) if x >= 3 else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) // 2
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[x] = (int(row[x]) - pred) & 0xFF
    return out


def test_decodes_all_five_filters():
    """Craft a PNG whose five rows use filters 0..4 — a foreign encoder's
    output shape — and check exact reconstruction."""
    rng = np.random.default_rng(3)
    h, w = 5, 7
    rgb = _rand_rgb(rng, h, w)
    stride = w * 3
    recon = rgb.reshape(h, stride)
    scan = bytearray()
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        scan.append(y)  # filter type = row index (0..4)
        scan.extend(_filter_row(y, recon[y], prev).tobytes())
        prev = recon[y]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    buf = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(scan)))
        + _png_chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(png_decode(buf), rgb)


def test_multi_idat_and_unknown_ancillary_chunks():
    """IDAT split across chunks + an ancillary chunk (tEXt) must decode —
    both appear in real-world PNGs."""
    rgb = _rand_rgb(np.random.default_rng(4), 6, 6)
    full = png_encode(rgb)
    # re-assemble: IHDR, tEXt, IDAT split in two
    ihdr = struct.pack(">IIBBBBB", 6, 6, 8, 2, 0, 0, 0)
    lines = np.concatenate([np.zeros((6, 1), np.uint8), rgb.reshape(6, 18)], axis=1)
    idat = zlib.compress(lines.tobytes())
    mid = len(idat) // 2
    buf = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"tEXt", b"Comment\x00synthetic")
        + _png_chunk(b"IDAT", idat[:mid])
        + _png_chunk(b"IDAT", idat[mid:])
        + _png_chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(png_decode(buf), rgb)
    np.testing.assert_array_equal(png_decode(full), rgb)


@pytest.mark.parametrize(
    "fmt,payload,match",
    [
        # last 20 bytes cut: IEND and the tail of IDAT are gone
        ("png", lambda rgb: png_encode(rgb)[:-20], r"png truncated: b'IDAT' chunk .* needs"),
        (
            "png",
            lambda rgb: _PNG_SIG
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0))
            + _png_chunk(b"IDAT", zlib.compress(bytes(100)))
            + _png_chunk(b"IEND", b""),
            r"png IDAT inflates to 100 bytes, expected 200 for 8x8",
        ),
        (
            "png",
            lambda rgb: _PNG_SIG
            + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0))
            + _png_chunk(b"IDAT", b"not a zlib stream")
            + _png_chunk(b"IEND", b""),
            r"png IDAT does not inflate",
        ),
        ("raw", lambda rgb: bytes(5), r"raw payload has 5 bytes, expected 192 for 8x8"),
    ],
    ids=["png_truncated", "png_idat_size", "png_idat_corrupt", "raw_size"],
)
def test_undecodable_payloads_raise_clear_errors(fmt, payload, match):
    """A payload that cannot be decoded raises a ValueError naming the
    format and the expected and actual sizes, not a struct or reshape
    error from deep inside the decoder."""
    from spatial4n_spark.sources.images import decode_image_batch

    buf = payload(_rand_rgb(np.random.default_rng(5), 8, 8))
    with pytest.raises(ValueError, match=match):
        decode_image_batch([buf], np.array([8]), np.array([8]), [fmt])
