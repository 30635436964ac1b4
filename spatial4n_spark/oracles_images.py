"""DuckDB oracles for the image queries: a full independent SQL recompute
of the deterministic image generator (sources/images.py).

Every image row is a pure function of its index ``i`` under seed=42, and
every pixel a pure function of ``(i, j)`` via the splitmix64 finalizer —
so the decode/PSNR/tiling summaries the Spark pipeline produces are
recomputable end-to-end in SQL:

- splitmix64's wrapping 64-bit multiplies are emulated with HUGEINT
  arithmetic (the 64x64 product mod 2^64 via the constant's 32-bit
  halves: every partial term fits in INT128);
- the u01 lattice, the coordinate mixture (uniform / Paris / Tokyo /
  dateline band / polar band), image sizes, and formats mirror the
  generator's numpy ops one-for-one (same IEEE op order, dlit literals);
- per-pixel sums aggregate to the PSNR gate and mosaic-brightness
  results bit-exactly, because both engines reduce exact integers and
  divide once;
- the jpg rows run a full SQL mirror of the REAL JPEG codec's lossy
  math (io.jpeg): Huffman coding is lossless, so decoded pixels are a
  pure function of source pixels — RGB->YCbCr, level shift, FDCT,
  quantize (clamped Annex-K@q98), dequantize, IDCT, +128, YCbCr->RGB,
  clip — every float stage an explicit left-associative term chain with
  the SAME shared constants (io.jpeg.DCT_C / Q tables / color weights
  via dlit), reproducing the engine's decoded pixels bit-for-bit.

The table size adapts to the sf tier exactly as suite.images_for_sf does:
n = max(int(sf * 2_000_000), 1000) = greatest(2 * count(events), 1000)
(events carries exactly 1_000_000 * sf rows in every tier).
"""

from __future__ import annotations

from spatial4n_spark import oracles as O
from spatial4n_spark.oracles import dlit

MASK64 = (1 << 64) - 1
MASK32 = (1 << 32) - 1
_C1 = 0x9E3779B97F4A7C15
_C2 = 0xBF58476D1CE4E5B9
_C3 = 0x94D049BB133111EB

N_IMAGES_SQL = "greatest(2 * (SELECT count(*) FROM events), 1000)"

# NB: wrap-to-64-bit uses bitwise AND with 2^64-1, not % 2^64 — HUGEINT
# modulo is a 128-bit division and measured ~16x slower per pixel.


def _addwrap(x: str, c: int) -> str:
    """(x + c) mod 2^64 for UBIGINT expr x, via HUGEINT + mask."""
    return f"CAST(((CAST({x} AS HUGEINT) + {c}) & {MASK64}) AS UBIGINT)"


def _mulwrap(x: str, c: int) -> str:
    """(x * c) mod 2^64: split the 64-bit constant into 32-bit halves so
    every HUGEINT partial product stays below 2^97 << 2^127."""
    lo = c & 0xFFFFFFFF
    hi = c >> 32
    return (
        f"CAST(((CAST({x} AS HUGEINT) * {lo} + "
        f"((CAST({x} AS HUGEINT) * {hi}) & {MASK32}) * 4294967296) & {MASK64}) AS UBIGINT)"
    )


def _mix64_sql(src_sql: str, keep: list[str], inputs: dict[str, str]) -> str:
    """Chained-subquery splitmix64 over one or more input expressions.

    Each stage is a stacked projection (every intermediate referenced by
    column, evaluated once per level — no exponential expression copies):
    x += C1; x ^= x>>30; x *= C2; x ^= x>>27; x *= C3; x ^= x>>31.
    """
    ks = ", ".join(keep) + (", " if keep else "")
    names = list(inputs)
    s = f"SELECT {ks}" + ", ".join(
        f"{_addwrap(e, _C1)} AS {n}" for n, e in inputs.items()
    ) + f" FROM ({src_sql})"
    for op in (
        lambda x: f"xor({x}, {x} >> 30)",
        lambda x: _mulwrap(x, _C2),
        lambda x: f"xor({x}, {x} >> 27)",
        lambda x: _mulwrap(x, _C3),
        lambda x: f"xor({x}, {x} >> 31)",
    ):
        s = f"SELECT {ks}" + ", ".join(f"{op(n)} AS {n}" for n in names) + f" FROM ({s})"
    return s


def _u01(col: str) -> str:
    """(h >> 11) / 2^53 — exact in both engines (53-bit int, one divide)."""
    return f"CAST(({col} >> 11) AS DOUBLE) / 9007199254740992e0"


_IMAGE_CHUNK: tuple[int, int] | None = None


def set_image_chunk(k: int | None = None, c: int = 0) -> None:
    """Restrict every image oracle to ids with ``i % k == c`` — the
    chunk axis for big-sf sweeps whose single-pass oracle spill exceeds
    the sandbox disk (sf1 image_tiles spills >76 GB).  The filter lands
    at the id GENERATOR, so the whole per-pixel pipeline (pxagg, the
    jpg DCT chain) scales down by 1/k per chunk; the tile aggregates
    are pure sums/counts, so chunk partials merge exactly (see
    tools/sf1_image_tiles_chunked.py).  ``set_image_chunk()`` (no args)
    clears the restriction — the default, and what the normal gate
    path always uses."""
    global _IMAGE_CHUNK
    _IMAGE_CHUNK = (int(k), int(c)) if k else None


def _meta_cte() -> str:
    """Per-image metadata CTE 'geo': (i, w, fmt, lon, lat) mirroring
    sources.images.synth_coords + _gen_batch sizes/format op-for-op."""
    ids = f"SELECT unnest(range(0, CAST({N_IMAGES_SQL} AS BIGINT))) AS i"
    if _IMAGE_CHUNK is not None:
        k, c = _IMAGE_CHUNK
        ids = f"SELECT i FROM ({ids}) WHERE i % {k} = {c}"
    # u01 salts 1..4: mix64(i*1_000_003 + salt*77_003 + 42)
    mixed = _mix64_sql(
        ids,
        ["i"],
        {f"k{s}": f"CAST(i * 1000003 + {s * 77003 + 42} AS UBIGINT)" for s in (1, 2, 3, 4)},
    )
    # floor(u*4) on the u01 lattice == top-2 bits of the hash (exact)
    u = f"""SELECT i,
       {_u01('k1')} AS u_kind, {_u01('k2')} AS u1, {_u01('k3')} AS u2,
       CAST(8 + (k4 >> 62) * 8 AS INTEGER) AS w,
       CASE i % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'raw' END AS fmt
FROM ({mixed})"""
    d = dlit
    lon = f"""CASE
    WHEN u_kind >= {d(0.80)} AND u_kind < {d(0.95)} THEN
      CASE WHEN u1 < {d(0.5)} THEN {d(175.0)} + u1 * {d(10.0)}
           ELSE {d(-180.0)} + (u1 - {d(0.5)}) * {d(10.0)} END
    WHEN u_kind >= {d(0.68)} AND u_kind < {d(0.80)} THEN {d(139.76)} + (u1 - {d(0.5)}) * {d(0.4)}
    WHEN u_kind >= {d(0.50)} AND u_kind < {d(0.68)} THEN {d(2.35)} + (u1 - {d(0.5)}) * {d(0.4)}
    ELSE u1 * {d(360.0)} - {d(180.0)} END"""
    lat = f"""CASE
    WHEN u_kind >= {d(0.95)} THEN {d(85.0)} + u2 * {d(5.0)}
    WHEN u_kind >= {d(0.80)} THEN u2 * {d(120.0)} - {d(60.0)}
    WHEN u_kind >= {d(0.68)} THEN {d(35.68)} + (u2 - {d(0.5)}) * {d(0.4)}
    WHEN u_kind >= {d(0.50)} THEN {d(48.85)} + (u2 - {d(0.5)}) * {d(0.4)}
    ELSE u2 * {d(170.0)} - {d(85.0)} END"""
    # MATERIALIZED: 'geo' is referenced once per polygon in the pip oracle
    # (11x) and twice in the pixel oracles — inline re-expansion of the
    # whole hash chain per reference exhausts the planner/memory
    return f"geo AS MATERIALIZED (SELECT i, w, fmt, {lon} AS lon, {lat} AS lat FROM ({u}))"


def _pixel_agg_cte() -> str:
    """Per-image pixel sums 'pxagg' for the LOSSLESS formats (png/raw):
    decoded pixels == source pixels = splitmix64(j + i*0x1F123) & 255."""
    px_src = (
        "SELECT i, unnest(range(0, 3 * CAST(w AS BIGINT) * w)) AS j "
        "FROM geo WHERE fmt <> 'jpg'"
    )
    mixed = _mix64_sql(px_src, ["i"], {"p": "CAST(i * 127267 + j AS UBIGINT)"})
    return f"""pxagg AS (
  SELECT i, CAST(sum(CAST(p % 256 AS BIGINT)) AS BIGINT) AS sp
  FROM ({mixed})
  GROUP BY i
)"""


def _jpg_chain_ctes() -> str:
    """CTE chain 'jpx' .. 'jdec': bit-exact SQL mirror of io.jpeg's
    lossy math for the jpg images — per-pixel source RGB regenerated
    from splitmix64, pivoted into 8x8 blocks per (image, block, channel),
    pushed through the fixed-order FDCT -> clamped quantize -> dequantize
    -> IDCT -> color conversion, then re-joined to the source pixels for
    exact integer (decoded-sum, squared-error) aggregates per image.

    Every constant is read from io.jpeg (DCT_C, Q_LUMA, Q_CHROMA, color
    weights) and every 8-term sum is emitted as the same left-
    associative chain the numpy kernels evaluate, so both engines round
    identically at every intermediate (validated bit-exact in
    tests/test_jpeg_codec.py and the image gate rows)."""
    from spatial4n_spark.io.jpeg import (
        DCT_C, KB_CB, KCB, KCR, KG_CB, KG_CR, KR_CR, KY, Q_CHROMA, Q_LUMA,
    )

    d = dlit
    # --- per-pixel source RGB for jpg images ---
    jsrc = (
        "SELECT i, w, unnest(range(0, CAST(w AS BIGINT) * w)) AS pix "
        "FROM geo WHERE fmt = 'jpg'"
    )
    mixed = _mix64_sql(
        jsrc,
        ["i", "w", "pix"],
        {
            "hr": "CAST(i * 127267 + 3 * pix AS UBIGINT)",
            "hg": "CAST(i * 127267 + 3 * pix + 1 AS UBIGINT)",
            "hb": "CAST(i * 127267 + 3 * pix + 2 AS UBIGINT)",
        },
    )
    jpx = f"""jpx AS MATERIALIZED (
  SELECT i, w, pix,
         CAST(hr % 256 AS BIGINT) AS r,
         CAST(hg % 256 AS BIGINT) AS g,
         CAST(hb % 256 AS BIGINT) AS b
  FROM ({mixed})
)"""
    # --- YCbCr (forward, fixed op order) + block coordinates ---
    yv = f"(r * {d(KY[0])} + g * {d(KY[1])} + b * {d(KY[2])})"
    cbv = f"((r * {d(KCB[0])} + g * {d(KCB[1])} + b * {d(KCB[2])}) + 128e0)"
    crv = f"((r * {d(KCR[0])} + g * {d(KCR[1])} + b * {d(KCR[2])}) + 128e0)"
    s = f"""SELECT i, w, pix % w AS px, pix // w AS py,
  {yv} AS yv, {cbv} AS cbv, {crv} AS crv FROM jpx"""
    s = f"""SELECT i, w, px // 8 AS bx, py // 8 AS by, px % 8 AS sx, py % 8 AS sy,
  yv, cbv, crv FROM ({s})"""
    s = f"""SELECT i, w, bx, by, ch,
  CASE ch WHEN 0 THEN yv WHEN 1 THEN cbv ELSE crv END AS val, sx, sy
FROM ({s}) CROSS JOIN (VALUES (0), (1), (2)) AS chs(ch)"""
    aggs = ", ".join(
        f"max(CASE WHEN sy = {yy} AND sx = {xx} THEN val END) AS p{yy}{xx}"
        for yy in range(8) for xx in range(8)
    )
    s = f"SELECT i, w, bx, by, ch, {aggs} FROM ({s}) GROUP BY i, w, bx, by, ch"
    keep = "i, w, bx, by, ch"
    # --- FDCT row pass: t{y}{u} = sum_x (p{y}{x} - 128)*C[u][x] ---
    cols = []
    for yy in range(8):
        for u in range(8):
            terms = " + ".join(
                f"(p{yy}{xx} - 128e0) * {d(DCT_C[u, xx])}" for xx in range(8)
            )
            cols.append(f"({terms}) AS t{yy}{u}")
    s = f"SELECT {keep}, {', '.join(cols)} FROM ({s})"
    # --- FDCT col pass: d{v}{u} = sum_y t{y}{u} * C[v][y] ---
    cols = []
    for v in range(8):
        for u in range(8):
            terms = " + ".join(f"t{yy}{u} * {d(DCT_C[v, yy])}" for yy in range(8))
            cols.append(f"({terms}) AS d{v}{u}")
    s = f"SELECT {keep}, {', '.join(cols)} FROM ({s})"
    # --- quantize (clamped to the Annex-K coded range) + dequantize ---
    cols = []
    for v in range(8):
        for u in range(8):
            q = f"(CASE WHEN ch = 0 THEN {Q_LUMA[v, u]} ELSE {Q_CHROMA[v, u]} END)"
            cols.append(
                f"(least(greatest(floor(d{v}{u} / {q} + 0.5e0), -1023e0), 1023e0)"
                f" * {q}) AS z{v}{u}"
            )
    s = f"SELECT {keep}, {', '.join(cols)} FROM ({s})"
    # --- IDCT row pass: e{y}{u} = sum_v z{v}{u} * C[v][y] ---
    cols = []
    for yy in range(8):
        for u in range(8):
            terms = " + ".join(f"z{v}{u} * {d(DCT_C[v, yy])}" for v in range(8))
            cols.append(f"({terms}) AS e{yy}{u}")
    s = f"SELECT {keep}, {', '.join(cols)} FROM ({s})"
    # --- IDCT col pass + level unshift: r{y}{x} = sum_u e{y}{u}*C[u][x] + 128 ---
    cols = []
    for yy in range(8):
        for xx in range(8):
            terms = " + ".join(f"e{yy}{u} * {d(DCT_C[u, xx])}" for u in range(8))
            cols.append(f"(({terms}) + 128e0) AS r{yy}{xx}")
    s = f"SELECT {keep}, {', '.join(cols)} FROM ({s})"
    # --- unpivot block positions, pivot channels back per pixel ---
    case_val = "CASE pos " + " ".join(
        f"WHEN {yy * 8 + xx} THEN r{yy}{xx}" for yy in range(8) for xx in range(8)
    ) + " END"
    s = f"""SELECT i, w, bx, by, ch, pos // 8 AS sy, pos % 8 AS sx, {case_val} AS rec
FROM ({s}) CROSS JOIN (SELECT unnest(range(0, 64)) AS pos)"""
    s = f"""SELECT i, w, (by * 8 + sy) * w + (bx * 8 + sx) AS pix,
  max(CASE WHEN ch = 0 THEN rec END) AS yr,
  max(CASE WHEN ch = 1 THEN rec END) AS cbr,
  max(CASE WHEN ch = 2 THEN rec END) AS crr
FROM ({s}) GROUP BY i, w, by, sy, bx, sx"""
    # --- YCbCr -> RGB (inverse, fixed op order), floor(+0.5), clip ---
    rr = f"least(greatest(floor((yr + (crr - 128e0) * {d(KR_CR)}) + 0.5e0), 0e0), 255e0)"
    gg = (f"least(greatest(floor((yr + (cbr - 128e0) * {d(KG_CB)} + "
          f"(crr - 128e0) * {d(KG_CR)}) + 0.5e0), 0e0), 255e0)")
    bb = f"least(greatest(floor((yr + (cbr - 128e0) * {d(KB_CB)}) + 0.5e0), 0e0), 255e0)"
    s = f"""SELECT i, pix,
  CAST({rr} AS BIGINT) AS dr, CAST({gg} AS BIGINT) AS dg, CAST({bb} AS BIGINT) AS db
FROM ({s})"""
    jdec = f"""jdec AS (
  SELECT d.i,
         CAST(sum(dr + dg + db) AS BIGINT) AS px_dec,
         CAST(sum((dr - p.r) * (dr - p.r) + (dg - p.g) * (dg - p.g)
                  + (db - p.b) * (db - p.b)) AS BIGINT) AS err2
  FROM ({s}) d JOIN jpx p ON d.i = p.i AND d.pix = p.pix
  GROUP BY d.i
)"""
    return f"{jpx},\n{jdec}"


def _img_stats_cte() -> str:
    """'imgstats': per-image decoded-pixel sum, squared error, npix.
    Lossless formats read the source-pixel sum (pxagg); jpg reads the
    SQL-recomputed JPEG quant chain (jdec)."""
    return f"""imgstats AS (
  SELECT g.i, g.w, g.fmt, g.lon, g.lat,
         CASE WHEN g.fmt = 'jpg' THEN j.px_dec ELSE p.sp END AS px_dec,
         CASE WHEN g.fmt = 'jpg' THEN j.err2 ELSE 0 END AS err2,
         3 * CAST(g.w AS BIGINT) * g.w AS npix
  FROM geo g
  LEFT JOIN pxagg p USING (i)
  LEFT JOIN jdec j USING (i)
)"""


def _stats_ctes() -> str:
    """The full WITH-chain every pixel-consuming oracle shares."""
    return f"{_meta_cte()},\n{_pixel_agg_cte()},\n{_jpg_chain_ctes()},\n{_img_stats_cte()}"


def sql_image_decode_check() -> str:
    """Oracle for q_image_decode_check: per-format count, min PSNR, and
    the caption gate. PSNR = 999 for lossless (mse=0), else
    10*log10(255^2/mse) with mse = err2/npix — the same exact-integer
    reduction and single division as operators.raster._psnr_batch.
    caption_ok is structurally always true (both sides build the caption
    from the same (i, lat, lon) formula), asserted as the literal the
    Spark invariant must produce."""
    psnr = (
        "CASE WHEN err2 = 0 THEN 999e0 "
        "ELSE 10e0 * log10(65025e0 / (CAST(err2 AS DOUBLE) / CAST(npix AS DOUBLE))) END"
    )
    return f"""WITH {_stats_ctes()}
SELECT fmt, CAST(count(*) AS BIGINT) AS n,
       round(min({psnr}), 3) AS min_psnr_db,
       CAST(1 AS INTEGER) AS all_captions_ok
FROM imgstats GROUP BY fmt"""


def _geohash_bisect_sql(src_sql: str, keep: list[str], lon: str, lat: str, precision: int) -> str:
    """Exact SQL mirror of kernels.geohash.geohash_encode's binary
    subdivision: 5*precision chained stages, each computing
    mid = (lo + hi) * 0.5 and the strictly-greater test with the SAME
    double ops the kernel uses. The closed-form ceil twin
    (O.geohash_ix_iy_sql) is only bit-equal on dyadic-lattice
    coordinates; the image generator's coordinates are arbitrary doubles,
    so boundary straddlers (~3e-4 of rows at sf0.1) need the true
    bisection. Returns a subquery with columns keep + ix + iy."""
    ks = ", ".join(keep) + (", " if keep else "")
    s = (
        f"SELECT {ks}{lon} AS _v_lon, {lat} AS _v_lat, "
        "-180e0 AS lo_x, 180e0 AS hi_x, -90e0 AS lo_y, 90e0 AS hi_y, "
        f"0::BIGINT AS ix, 0::BIGINT AS iy FROM ({src_sql})"
    )
    even = True
    for _ in range(precision * 5):
        if even:
            s = (
                f"SELECT {ks}_v_lon, _v_lat, lo_y, hi_y, iy, "
                "CASE WHEN _v_lon > (lo_x + hi_x) * 0.5e0 THEN (lo_x + hi_x) * 0.5e0 ELSE lo_x END AS lo_x, "
                "CASE WHEN _v_lon > (lo_x + hi_x) * 0.5e0 THEN hi_x ELSE (lo_x + hi_x) * 0.5e0 END AS hi_x, "
                "ix * 2 + (CASE WHEN _v_lon > (lo_x + hi_x) * 0.5e0 THEN 1 ELSE 0 END) AS ix "
                f"FROM ({s})"
            )
        else:
            s = (
                f"SELECT {ks}_v_lon, _v_lat, lo_x, hi_x, ix, "
                "CASE WHEN _v_lat > (lo_y + hi_y) * 0.5e0 THEN (lo_y + hi_y) * 0.5e0 ELSE lo_y END AS lo_y, "
                "CASE WHEN _v_lat > (lo_y + hi_y) * 0.5e0 THEN hi_y ELSE (lo_y + hi_y) * 0.5e0 END AS hi_y, "
                "iy * 2 + (CASE WHEN _v_lat > (lo_y + hi_y) * 0.5e0 THEN 1 ELSE 0 END) AS iy "
                f"FROM ({s})"
            )
        even = not even
    return f"SELECT {ks}ix, iy FROM ({s})"


def sql_image_tiles() -> str:
    """Oracle for image_tiles' geohash arm: geohash-4 cell mosaics. Every
    generated image passes the PSNR>=40 gate (real JPEG at quality 98:
    worst-case noise-image PSNR ~42.4 dB, extreme-value tail over 700k
    8x8 samples ~41.9 dB), so the gate drops no rows. Chip counts/sums per image
    collapse to closed forms: n_chips = (w/8)^2, sum_px = w^2,
    sum(chip_sum) = decoded pixel sum (jpg via the jdec quant chain)."""
    bisect = _geohash_bisect_sql(
        "SELECT w, px_dec, lon, lat FROM imgstats", ["w", "px_dec"], "lon", "lat", 4
    )
    packed = O.geohash_interleave_sql("ix", "iy", 4)
    cell = O.geohash_chars_sql("packed", 4)
    return f"""WITH {_stats_ctes()},
b AS ({bisect}),
p AS (SELECT w, px_dec, {packed} AS packed FROM b),
cells AS (SELECT w, px_dec, {cell} AS cell FROM p)
SELECT cell,
       CAST(sum((w // 8) * (w // 8)) AS BIGINT) AS n_chips,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(CAST(w AS BIGINT) * w) AS BIGINT) AS sum_px,
       CAST(sum(px_dec) AS BIGINT) / (CAST(sum(CAST(w AS BIGINT) * w) AS BIGINT) * 3)
         AS avg_brightness
FROM cells GROUP BY cell"""


def sql_image_s2_tiles() -> str:
    """Oracle for image_tiles' s2 arm: the same closed-form per-image chip
    aggregates as sql_image_tiles, keyed by S2 level-8 cells.  Unlike
    geohash (whose ceil twin needed the true bisection mirror on these
    arbitrary-double coordinates), the S2 encode chain (oracles_s2) is
    op-for-op IEEE-mirrored end to end, so it is bit-exact on ANY input —
    no lattice assumption."""
    from spatial4n_spark import oracles_s2 as OS2

    enc = OS2.s2_encode_stages_sql("imgpts", "w, px_dec", 8)
    return f"""WITH {_stats_ctes()},
imgpts AS (SELECT w, px_dec, lon, lat FROM imgstats){enc}
SELECT cell,
       CAST(sum((w // 8) * (w // 8)) AS BIGINT) AS n_chips,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(CAST(w AS BIGINT) * w) AS BIGINT) AS sum_px,
       CAST(sum(px_dec) AS BIGINT) / (CAST(sum(CAST(w AS BIGINT) * w) AS BIGINT) * 3)
         AS avg_brightness
FROM s2f GROUP BY cell"""


def sql_image_h3_tiles() -> str:
    """Oracle for image_tiles' h3 arm: the same closed-form per-image chip
    aggregates as sql_image_tiles, keyed by H3 level-7 hex cells.  The
    hex encode chain (oracles_h3) is trig-free and op-for-op
    IEEE-mirrored, so it is bit-exact on ANY input — no lattice
    assumption (same property as the S2 oracle)."""
    from spatial4n_spark import oracles_h3 as OH3

    enc = OH3.h3_encode_stages_sql("imgpts", "w, px_dec", 7)
    return f"""WITH {_stats_ctes()},
imgpts AS (SELECT w, px_dec, lon, lat FROM imgstats){enc}
SELECT cell,
       CAST(sum((w // 8) * (w // 8)) AS BIGINT) AS n_chips,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(sum(CAST(w AS BIGINT) * w) AS BIGINT) AS sum_px,
       CAST(sum(px_dec) AS BIGINT) / (CAST(sum(CAST(w AS BIGINT) * w) AS BIGINT) * 3)
         AS avg_brightness
FROM h3f GROUP BY cell"""


def sql_image_pip_join() -> str:
    """Oracle for q_image_pip_join: per-polygon image counts via the same
    covers-test SQL the lineitem pip_join oracle uses, over the generated
    (lon, lat) points. Pixels are not needed — metadata CTE only."""
    from spatial4n_spark.suite import layer

    parts = [
        f"SELECT '{pid}' AS poly_id, CAST(count(*) AS BIGINT) AS n_images "
        f"FROM geo WHERE {O.pip_sql(shape, 'lon', 'lat')}"
        for pid, shape in layer()
    ]
    union = "\nUNION ALL\n".join(parts)
    return f"""WITH {_meta_cte()}
SELECT poly_id, n_images FROM ({union}) WHERE n_images > 0"""


def sql_image_dup_pairs(copies: int = 2, threshold: int = 3, bands: int = 4) -> str:
    """Oracle for q_image_dup_pairs: regenerate the phash corpus (base
    splitmix64 hashes + the planted bit-flip variants of
    sources.images.phash_variants_df, op-for-op) and recover near-dup
    pairs with the SAME pigeonhole band join the engine uses — exact for
    threshold <= bands-1, so both engines compute the identical set.
    Bitwise primitives (>>, &, xor, bit_count) are 64-bit-pattern
    identical between Spark BIGINT and DuckDB UBIGINT (verified)."""
    ids = f"SELECT unnest(range(0, CAST({N_IMAGES_SQL} AS BIGINT))) AS i"
    base = _mix64_sql(ids, ["i"], {"ph": "CAST(i + 43981 AS UBIGINT)"})  # 0xABCD
    base_rows = (
        f"SELECT 'img' || lpad(CAST(i AS VARCHAR), 9, '0') AS image_id, ph FROM ({base})"
    )
    branches = [base_rows]
    for v in range(1, copies + 1):
        vh = _mix64_sql(
            f"SELECT i, ph FROM ({base}) WHERE i % 4 = 0",
            ["i", "ph"],
            {"h": f"CAST(i * 1000003 + {(10 + v) * 77003 + 42} AS UBIGINT)"},
        )
        mask = f"(CAST(1 AS UBIGINT) << CAST((h >> 0) & 63 AS INTEGER))"
        for j in range(1, v):
            mask = (
                f"xor({mask}, (CAST(1 AS UBIGINT) << "
                f"CAST((h >> {6 * j}) & 63 AS INTEGER)))"
            )
        branches.append(
            f"SELECT 'img' || lpad(CAST(i AS VARCHAR), 9, '0') || '_v{v}' AS image_id, "
            f"xor(ph, {mask}) AS ph FROM ({vh})"
        )
    corpus = "\nUNION ALL\n".join(branches)
    width = 64 // bands
    blk_mask = (1 << width) - 1
    band_vals = ", ".join(f"({b})" for b in range(bands))
    return f"""WITH corpus AS MATERIALIZED ({corpus}),
blocks AS (
  SELECT image_id, ph, bi, (ph >> ({width} * bi)) & {blk_mask} AS bh
  FROM corpus CROSS JOIN (VALUES {band_vals}) AS bvals(bi)
),
cand AS (
  SELECT DISTINCT a.image_id AS image_a, b.image_id AS image_b,
         a.ph AS pa, b.ph AS pb
  FROM blocks a JOIN blocks b USING (bi, bh)
  WHERE a.image_id < b.image_id
)
SELECT image_a, image_b, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(pa, pb)) <= {threshold}"""
