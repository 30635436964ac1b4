"""Deterministic synthetic image+caption table (BASELINE.json input_hint).

Schema: image_id:string, bytes:binary, w:int, h:int, fmt:string,
caption:string, phash:long, lon:double, lat:double.

Rows are generated **distributed** (spark.range -> mapInArrow), each row a
pure function of its index under seed=42 — no external data, no driver-side
materialization, scales linearly with partitions (the design-scale table is
10^12 rows; the generator is the sandbox stand-in for the Iceberg scan).

Point distribution (FIXTURES.md §1): mixture of (a) uniform world,
(b) hot clusters near Paris (2.35, 48.85) and Tokyo (139.76, 35.68) that
make a few geohash cells deliberately hot (skew-salting exercise),
(c) a dateline band lon in [175,180] u [-180,-175], (d) a polar band
lat in [85,90].

Image payloads:
- fmt='raw'  : real raw RGB bytes (w*h*3), lossless.
- fmt='png'  : REAL spec-compliant PNG (stdlib zlib — no image library
               needed): 8-bit RGB, non-interlaced, CRC-checked chunks;
               the decoder implements all five scanline filters, so
               foreign PNGs of this variant decode too. Lossless
               round-trip, byte output opens in any viewer.
- fmt='jpg'  : REAL baseline JFIF JPEG (io.jpeg — stdlib+numpy, no
               image library): Annex-K Huffman + quantization tables at
               quality 98, 4:4:4 YCbCr, byte stuffing; opens in any
               viewer. Worst-case (uniform-noise payload) PSNR ~42 dB,
               exercising the >= 40 dB invariant with a real DCT codec.
               The lossy math uses fixed-order summation, so decoded
               pixels are still bit-exactly recomputable by the DuckDB
               oracle (oracles_images mirrors the FDCT->quant->IDCT
               chain; Huffman is lossless and engine-only).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lon double, lat double"
)

_FMTS = ("png", "jpg", "raw")


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — deterministic per-row randomness from the index."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
    x ^= x >> np.uint64(30)
    x = (x * np.uint64(0xBF58476D1CE4E5B9)).astype(np.uint64)
    x ^= x >> np.uint64(27)
    x = (x * np.uint64(0x94D049BB133111EB)).astype(np.uint64)
    x ^= x >> np.uint64(31)
    return x


def _u01(ids: np.ndarray, salt: int) -> np.ndarray:
    """uniform [0,1) doubles, one per id, keyed by (id, salt, seed=42)."""
    h = _mix64(ids.astype(np.uint64) * np.uint64(1_000_003) + np.uint64(salt * 77_003 + 42))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


def synth_coords(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (lon, lat) mixture for row indices."""
    u_kind = _u01(ids, 1)
    u1 = _u01(ids, 2)
    u2 = _u01(ids, 3)
    lon = u1 * 360.0 - 180.0
    lat = u2 * 170.0 - 85.0  # uniform world (avoid exact poles)

    # hot clusters (30%): Paris and Tokyo, ~0.2 deg sigma-ish box
    paris = (u_kind >= 0.50) & (u_kind < 0.68)
    tokyo = (u_kind >= 0.68) & (u_kind < 0.80)
    lon = np.where(paris, 2.35 + (u1 - 0.5) * 0.4, lon)
    lat = np.where(paris, 48.85 + (u2 - 0.5) * 0.4, lat)
    lon = np.where(tokyo, 139.76 + (u1 - 0.5) * 0.4, lon)
    lat = np.where(tokyo, 35.68 + (u2 - 0.5) * 0.4, lat)

    # dateline band (15%): lon in [175,180] u [-180,-175]
    dateline = (u_kind >= 0.80) & (u_kind < 0.95)
    dl_lon = np.where(u1 < 0.5, 175.0 + u1 * 10.0, -180.0 + (u1 - 0.5) * 10.0)
    lon = np.where(dateline, dl_lon, lon)
    lat = np.where(dateline, u2 * 120.0 - 60.0, lat)

    # polar band (5%): lat in [85,90]
    polar = u_kind >= 0.95
    lat = np.where(polar, 85.0 + u2 * 5.0, lat)
    return lon, lat


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def png_encode(rgb: np.ndarray) -> bytes:
    """REAL spec-compliant PNG (stdlib zlib, no image libraries): 8-bit
    RGB (color type 2), non-interlaced, filter-0 scanlines, one zlib
    IDAT. Output opens in any PNG viewer; ``png_decode`` is the exact
    inverse (lossless)."""
    import struct
    import zlib

    h, w, _ = rgb.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    lines = np.concatenate(
        [np.zeros((h, 1), np.uint8), rgb.reshape(h, w * 3)], axis=1
    )
    idat = zlib.compress(lines.tobytes(), 6)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def png_decode(buf: bytes) -> np.ndarray:
    """Full PNG decode for 8-bit non-interlaced RGB: chunk walk with CRC
    verification, zlib inflate, and ALL FIVE scanline filters (None/Sub/
    Up/Average/Paeth — our encoder emits only 0, but foreign PNGs may use
    any). Sub defilters as a vectorized per-channel cumsum; Average and
    Paeth fall back to a per-pixel walk (rows here are <= 32 px)."""
    import struct
    import zlib

    if buf[:8] != _PNG_SIG:
        raise ValueError("bad png signature")
    pos, w = 8, None
    idat = b""
    while pos < len(buf):
        if pos + 8 > len(buf):
            raise ValueError(
                f"png truncated: chunk header at byte {pos} needs 8 bytes, "
                f"payload has {len(buf) - pos}"
            )
        (ln,) = struct.unpack(">I", buf[pos : pos + 4])
        tag = buf[pos + 4 : pos + 8]
        if pos + 12 + ln > len(buf):
            raise ValueError(
                f"png truncated: {tag!r} chunk at byte {pos} needs "
                f"{12 + ln} bytes, payload has {len(buf) - pos}"
            )
        data = buf[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", buf[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"png chunk crc mismatch: {tag!r}")
        if tag == b"IHDR":
            w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", data)
            if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError("unsupported png variant (need 8-bit RGB, no interlace)")
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("png missing IHDR")
    try:
        inflated = zlib.decompress(idat)
    except zlib.error as e:
        raise ValueError(f"png IDAT does not inflate: {e}") from None
    stride = w * 3
    if len(inflated) != h * (stride + 1):
        raise ValueError(
            f"png IDAT inflates to {len(inflated)} bytes, expected "
            f"{h * (stride + 1)} for {w}x{h} RGB scanlines"
        )
    raw = np.frombuffer(inflated, dtype=np.uint8).reshape(h, stride + 1)
    ftypes, rows = raw[:, 0], raw[:, 1:]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft, row = int(ftypes[y]), rows[y]
        if ft == 0:
            rec = row.copy()
        elif ft == 1:  # Sub: recon[x] = raw[x] + recon[x-3] -> cumsum per lane
            rec = (
                np.cumsum(row.reshape(w, 3).astype(np.int64), axis=0) % 256
            ).astype(np.uint8).reshape(stride)
        elif ft == 2:  # Up
            rec = row + prev
        elif ft in (3, 4):  # Average / Paeth: sequential in x
            rec = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                a = int(rec[x - 3]) if x >= 3 else 0
                b = int(prev[x])
                if ft == 3:
                    rec[x] = (int(row[x]) + (a + b) // 2) & 0xFF
                else:
                    c = int(prev[x - 3]) if x >= 3 else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    rec[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad png filter type {ft}")
        out[y] = rec
        prev = rec
    return out.reshape(h, w, 3)


def _encode_payload(rgb: np.ndarray, fmt: str) -> bytes:
    if fmt == "raw":
        return rgb.tobytes()
    if fmt == "png":
        return png_encode(rgb)
    if fmt == "jpg":
        from spatial4n_spark.io.jpeg import jpeg_encode

        return jpeg_encode(rgb)
    raise ValueError(fmt)


# --- optional native JPEG codec hook (round 5) ------------------------
#
# The pure-numpy baseline decoder (io.jpeg) is correct but ~19k img/s on
# 32 cores; a real cluster node has libjpeg-turbo bindings that are
# ~100x faster.  This hook lets the engine USE one when present without
# depending on it: the first jpg decode in each worker process probes
# the registry (PIL -> cv2 -> turbojpeg, all optional imports), runs a
# PSNR self-check of the candidate against the pure decoder on a
# deterministic test image (two correct baseline-JPEG decoders differ
# only in IDCT/upsampling rounding, so anything below the bar is a
# wrong decoder, not a rounding difference), and falls back to io.jpeg
# when nothing qualifies.  ``SPATIAL4N_JPEG_CODEC`` forces the choice:
# 'pure' (bit-exact — what the DuckDB oracle mirrors, so correctness
# gates in an environment that HAS a native codec should set this),
# 'auto' (default), or a registered codec name (raises if unusable).
# Local-mode Python workers inherit the driver env; on a cluster ship
# it via spark.executorEnv.SPATIAL4N_JPEG_CODEC.

_JPEG_SELF_CHECK_DB = 45.0  # cross-decoder PSNR floor (pure vs native)
_jpeg_codec_cache: tuple[str, object] | None = None


def _native_jpeg_candidates():
    """Yield (name, batch-decode callable) for each importable binding,
    in preference order.  Each callable maps list[bytes] ->
    list[(h, w, 3) uint8 RGB], the io.jpeg.jpeg_decode_batch contract."""
    try:  # Pillow
        from io import BytesIO

        from PIL import Image  # type: ignore[import-not-found]

        def _pil(bufs):
            return [
                np.asarray(Image.open(BytesIO(b)).convert("RGB"), dtype=np.uint8)
                for b in bufs
            ]

        yield "pil", _pil
    except Exception:  # a broken native install is unusable, not fatal
        pass
    try:  # OpenCV
        import cv2  # type: ignore[import-not-found]

        def _cv2(bufs):
            out = []
            for b in bufs:
                bgr = cv2.imdecode(np.frombuffer(b, np.uint8), cv2.IMREAD_COLOR)
                if bgr is None:
                    raise ValueError(
                        f"cv2 could not decode a {len(b)}-byte JPEG payload"
                    )
                out.append(cv2.cvtColor(bgr, cv2.COLOR_BGR2RGB))
            return out

        yield "cv2", _cv2
    except Exception:  # a broken native install is unusable, not fatal
        pass
    try:  # PyTurboJPEG
        from turbojpeg import TJPF_RGB, TurboJPEG  # type: ignore[import-not-found]

        tj = TurboJPEG()

        def _turbo(bufs):
            return [tj.decode(b, pixel_format=TJPF_RGB) for b in bufs]

        yield "turbojpeg", _turbo
    except Exception:  # broken lib install surfaces as unusable, not fatal
        pass


def _jpeg_self_check_psnr(decode_batch) -> float:
    """PSNR of a candidate decoder against the pure decoder on one
    deterministic baseline JPEG (the generator's own noise payload —
    worst case for DCT codecs, so rounding differences show fully)."""
    from spatial4n_spark.io.jpeg import jpeg_decode_batch, jpeg_encode

    pix = _mix64(np.arange(16 * 16 * 3, dtype=np.uint64) + np.uint64(7 * 0x1F123))
    rgb = (pix & np.uint64(0xFF)).astype(np.uint8).reshape(16, 16, 3)
    buf = jpeg_encode(rgb)
    ours = jpeg_decode_batch([buf])[0].astype(np.float64)
    theirs = np.asarray(decode_batch([buf])[0], dtype=np.float64)
    if theirs.shape != ours.shape:
        return 0.0
    mse = float(np.mean((ours - theirs) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def jpeg_codec() -> tuple[str, object]:
    """Resolve (name, batch-decode callable) once per process — see the
    hook comment above for the selection and verification rules."""
    global _jpeg_codec_cache
    if _jpeg_codec_cache is not None:
        return _jpeg_codec_cache
    import os

    from spatial4n_spark.io.jpeg import jpeg_decode_batch

    want = os.environ.get("SPATIAL4N_JPEG_CODEC", "auto").strip().lower()
    chosen: tuple[str, object] = ("pure", jpeg_decode_batch)
    if want != "pure":
        found = dict(_native_jpeg_candidates())
        if want != "auto" and want not in found:
            raise ValueError(
                f"SPATIAL4N_JPEG_CODEC={want!r} is not available "
                f"(importable: {sorted(found) or 'none'}; try 'auto' or 'pure')"
            )
        names = [want] if want != "auto" else list(found)
        for name in names:
            psnr = _jpeg_self_check_psnr(found[name])
            if psnr >= _JPEG_SELF_CHECK_DB:
                chosen = (name, found[name])
                break
            if want != "auto":
                raise ValueError(
                    f"jpeg codec {name!r} failed the self-check "
                    f"({psnr:.1f} dB vs the pure decoder, need >= "
                    f"{_JPEG_SELF_CHECK_DB}) — refusing a wrong decoder"
                )
            import sys

            print(
                f"spatial4n_spark: jpeg codec {name!r} failed self-check "
                f"({psnr:.1f} dB), falling back",
                file=sys.stderr,
            )
    _jpeg_codec_cache = chosen
    return chosen


def decode_image_batch(buf_list, w: np.ndarray, h: np.ndarray, fmt_list) -> list[np.ndarray]:
    """Decode a batch of image payloads to (h, w, 3) uint8 arrays.

    The decode twin of ``_encode_payload``: 'png' runs the REAL PNG
    decoder above (chunk walk + zlib inflate + defilter); 'raw' is a
    buffer view; 'jpg' runs whichever decoder ``jpeg_codec`` resolved —
    by default the REAL baseline JPEG decoder (io.jpeg), batched: every
    jpg payload in the batch goes through ONE SIMD-across-images
    Huffman decode + ONE group IDCT; with a verified native binding
    present (PIL/cv2/turbojpeg), that binding instead.
    """
    out: list[np.ndarray | None] = [None] * len(buf_list)
    jpg_idx: list[int] = []
    jpg_bufs: list[bytes] = []
    for i, (buf, wi, hi, fmt) in enumerate(zip(buf_list, w, h, fmt_list)):
        b = bytes(buf)
        if fmt == "png":
            arr = png_decode(b)
            if arr.shape != (int(hi), int(wi), 3):
                raise ValueError(
                    f"png decodes to {arr.shape[1]}x{arr.shape[0]}, metadata "
                    f"says {int(wi)}x{int(hi)}"
                )
            out[i] = arr
        elif fmt == "jpg":
            jpg_idx.append(i)
            jpg_bufs.append(b)
        else:
            if len(b) != int(wi) * int(hi) * 3:
                raise ValueError(
                    f"raw payload has {len(b)} bytes, expected "
                    f"{int(wi) * int(hi) * 3} for {int(wi)}x{int(hi)} RGB"
                )
            out[i] = np.frombuffer(b, dtype=np.uint8).reshape(int(hi), int(wi), 3)
    if jpg_idx:
        _, decode_batch = jpeg_codec()
        for i, arr in zip(jpg_idx, decode_batch(jpg_bufs)):
            if arr.shape != (int(h[i]), int(w[i]), 3):
                raise ValueError(
                    f"jpg decodes to {arr.shape[1]}x{arr.shape[0]}, metadata "
                    f"says {int(w[i])}x{int(h[i])}"
                )
            out[i] = arr
    return out  # type: ignore[return-value]


def _gen_batch(ids: np.ndarray, with_bytes: bool, cell_level: int | None = None) -> pa.RecordBatch:
    n = len(ids)
    lon, lat = synth_coords(ids)
    # sizes 8x8..32x32, deterministic
    size_u = _u01(ids, 4)
    w = (8 + (size_u * 4).astype(np.int32) * 8).astype(np.int32)  # 8,16,24,32
    h = w.copy()
    fmt_idx = (ids % 3).astype(np.int64)
    phash = _mix64(ids.astype(np.uint64) + np.uint64(0xABCD)).astype(np.int64)

    image_id = np.char.add("img", np.char.zfill(ids.astype(str), 9))
    if with_bytes:
        caption = [
            f"caption for img{int(i)} at {la:.4f},{lo:.4f}" for i, la, lo in zip(ids, lat, lon)
        ]
    else:
        # lean metadata mode: payload-dependent columns (bytes, caption)
        # are empty — the per-row Python string formatting is the dominant
        # cost when a consumer only needs (image_id, lon, lat)
        caption = [""] * n
    fmts = [_FMTS[int(k)] for k in fmt_idx]

    if with_bytes:
        payloads: list[bytes | None] = [None] * n
        jpg_pos: list[int] = []
        jpg_rgbs: list[np.ndarray] = []
        for k, (i, wi, hi, fmt) in enumerate(zip(ids, w, h, fmts)):
            npix = int(wi) * int(hi) * 3
            # deterministic pixel noise from the row index
            pix = _mix64(np.arange(npix, dtype=np.uint64) + np.uint64(int(i)) * np.uint64(0x1F123))
            rgb = (pix & np.uint64(0xFF)).astype(np.uint8).reshape(int(hi), int(wi), 3)
            if fmt == "jpg":
                # batched: one FDCT+quant pass over every jpg in the chunk
                jpg_pos.append(k)
                jpg_rgbs.append(rgb)
            else:
                payloads[k] = _encode_payload(rgb, fmt)
        if jpg_pos:
            from spatial4n_spark.io.jpeg import jpeg_encode_batch

            for k, buf in zip(jpg_pos, jpeg_encode_batch(jpg_rgbs)):
                payloads[k] = buf
    else:
        payloads = [b""] * n

    arrays = [
        pa.array(image_id.tolist(), pa.string()),
        pa.array(payloads, pa.binary()),
        pa.array(w, pa.int32()),
        pa.array(h, pa.int32()),
        pa.array(fmts, pa.string()),
        pa.array(caption, pa.string()),
        pa.array(phash, pa.int64()),
        pa.array(lon, pa.float64()),
        pa.array(lat, pa.float64()),
    ]
    names = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lon", "lat"]
    if cell_level is not None:
        # compute-at-ingest cell assignment: same numpy pass, no second
        # Arrow stage downstream just to re-encode the coordinates
        from spatial4n_spark.kernels.geohash import geohash_encode_str

        arrays.append(pa.array(geohash_encode_str(lat, lon, cell_level), pa.string()))
        names.append("_cell")
    return pa.RecordBatch.from_arrays(arrays, names=names)


def phash_variants_df(spark, n_rows: int, copies: int = 2, partitions: int | None = None):
    """Deterministic near-duplicate phash rows for the images table.

    For every base row with ``i % 4 == 0`` emit ``copies`` variants;
    variant ``v`` (1-based) flips ``v`` bit positions of the base phash,
    the positions drawn from splitmix64 with the same (id, salt) keying
    as the coordinate generator (salt = 10 + v, so no overlap with the
    coordinate salts 1..4). Schema: image_id string ('<base>_v<v>'),
    phash long. hamming(base, variant_v) <= v by construction (< v when
    two drawn positions coincide), so with threshold >= copies the dup
    join must recover every (base, variant) and (variant, variant) pair.
    """
    rng = spark.range(0, n_rows, 1, partitions) if partitions else spark.range(n_rows)

    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            ids = batch.column(0).to_numpy()
            ids = ids[ids % 4 == 0]
            if len(ids) == 0:
                continue
            base_ph = _mix64(ids.astype(np.uint64) + np.uint64(0xABCD))
            out_ids: list[str] = []
            out_ph: list[np.ndarray] = []
            for v in range(1, copies + 1):
                h = _mix64(
                    ids.astype(np.uint64) * np.uint64(1_000_003)
                    + np.uint64((10 + v) * 77_003 + 42)
                )
                mask = np.zeros(len(ids), dtype=np.uint64)
                for j in range(v):
                    pos = (h >> np.uint64(6 * j)) & np.uint64(63)
                    mask ^= np.uint64(1) << pos
                out_ph.append(base_ph ^ mask)
                out_ids.extend(
                    f"img{int(i):09d}_v{v}" for i in ids
                )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, pa.string()),
                    pa.array(np.concatenate(out_ph).astype(np.int64), pa.int64()),
                ],
                names=["image_id", "phash"],
            )

    return rng.mapInArrow(gen, "image_id string, phash long")


def images_df(
    spark,
    n_rows: int,
    with_bytes: bool = True,
    partitions: int | None = None,
    cell_level: int | None = None,
):
    """Distributed deterministic images table: spark.range -> mapInArrow.

    ``cell_level``: also emit the geohash ``_cell`` column at that level
    in the same generation pass (consumed directly by the spatial join).
    """
    rng = spark.range(0, n_rows, 1, partitions) if partitions else spark.range(n_rows)
    schema = IMAGES_SCHEMA + (", _cell string" if cell_level is not None else "")

    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            ids = batch.column(0).to_numpy()
            # bound batch memory: chunk to <= 8192 rows
            for s in range(0, len(ids), 8192):
                yield _gen_batch(ids[s : s + 8192], with_bytes, cell_level)

    return rng.mapInArrow(gen, schema)
