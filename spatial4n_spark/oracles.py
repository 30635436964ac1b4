"""ANSI-SQL oracle generators for the driver's DuckDB correctness gate.

Each generator emits a SQL expression that mirrors the corresponding
numpy kernel *operation for operation* (same IEEE-754 op sequence), so
DuckDB and the Spark engine agree bit-for-bit wherever the kernel's
arithmetic is exact — which it is by construction on the dyadic test
lattice used by the entry queries (coordinates are multiples of 45/512,
exactly representable doubles; products/sums stay under 53 bits).

Mirrored kernels (reference files cited there):
- ``kernels.polygon._ring_test`` / ``points_covered``  -> ``pip_sql``
- ``kernels.bbox.rect_contains_point``                 -> ``rect_contains_sql``
- ``kernels.bbox.relate_range``/``relate_x_range``/
  ``rect_relate_rect``                                 -> ``rect_relate_steps_sql``
- ``kernels.geohash.geohash_encode`` (strict ``>`` mid
  rule == ``ceil(v)-1`` binning on exact lattices)     -> ``geohash_sql``
- ``functions.native.cell_id_int``                     -> ``cell_id_int_sql``
- ``functions.native.haversine_km`` (JVM ``radians`` is
  ``v / 180 * pi`` — mirrored, not ``v * (pi/180)``)   -> ``haversine_km_native_sql``
- ``kernels.distance.distance_deg``+``deg_to_km``      -> ``dist_km_kernel_sql``
- ``kernels.circle.circle_bbox`` + ``kernels.norm``    -> ``circle_bbox_select_sql``

All numeric literals are emitted in e-notation so DuckDB types them as
DOUBLE (bare ``45.0`` would be DECIMAL and change the arithmetic).
"""

from __future__ import annotations

import math

import numpy as np

from spatial4n_spark.kernels.geohash import BASE32
from spatial4n_spark.kernels.polygon import (
    MultiPolygon,
    Polygon,
    Rect,
    close_ring,
    unwrap_dateline,
)

DEG_TO_RAD = np.pi / 180.0  # kernels.distance constant (multiply form)
RAD_TO_DEG = 180.0 / np.pi
EARTH_MEAN_RADIUS_KM = 6371.0087714
PI = math.pi


def dlit(v: float) -> str:
    """Exact DOUBLE literal for DuckDB (17 significant digits, e-notation)."""
    s = format(float(v), ".17g")
    return s if ("e" in s or "E" in s or "inf" in s or "nan" in s) else s + "e0"


# ---------------------------------------------------------------------------
# point-in-polygon (mirrors kernels.polygon points_covered, COVERS semantics)
# ---------------------------------------------------------------------------


def _ring_sql(ring: np.ndarray, px: str, py: str) -> tuple[str, str]:
    """(strict_inside_expr, on_boundary_expr) mirroring _ring_test."""
    c = close_ring(np.asarray(ring, dtype=np.float64))
    on_terms: list[str] = []
    cross_terms: list[str] = []
    for (x1, y1), (x2, y2) in zip(c[:-1], c[1:]):
        x1, y1, x2, y2 = float(x1), float(y1), float(x2), float(y2)
        dx, dy = x2 - x1, y2 - y1  # folded; numpy computes the same doubles
        cross = f"(({px} - {dlit(x1)}) * {dlit(dy)} - ({py} - {dlit(y1)}) * {dlit(dx)})"
        box = (
            f"{px} >= {dlit(min(x1, x2))} AND {px} <= {dlit(max(x1, x2))} "
            f"AND {py} >= {dlit(min(y1, y2))} AND {py} <= {dlit(max(y1, y2))}"
        )
        on_terms.append(f"({cross} = 0e0 AND {box})")
        if dy != 0.0:
            cond = f"(({dlit(y1)} > {py}) <> ({dlit(y2)} > {py}))"
            x_int = f"({dlit(x1)} + ({py} - {dlit(y1)}) * {dlit(dx)} / {dlit(dy)})"
            cross_terms.append(f"CASE WHEN {cond} AND {px} < {x_int} THEN 1 ELSE 0 END")
    on = "(" + " OR ".join(on_terms) + ")"
    inside_parity = "((" + " + ".join(cross_terms) + ") % 2 = 1)" if cross_terms else "FALSE"
    strict_inside = f"({inside_parity} AND NOT {on})"
    return strict_inside, on


def _poly_page_sql(poly: Polygon, px: str, py: str) -> str:
    """Mirrors _poly_covered_one_page (shell even-odd + holes, covers)."""
    shell_in, shell_on = _ring_sql(poly.shell, px, py)
    cov = f"({shell_in} OR {shell_on})"
    for hole in poly.holes:
        h_in, h_on = _ring_sql(np.asarray(hole), px, py)
        cov = f"((({cov} AND NOT ({h_in} AND NOT {h_on})) OR {shell_on} OR {h_on}))"
    return cov


def rect_contains_sql(r: Rect, px: str, py: str) -> str:
    """Mirrors kernels.bbox.rect_contains_point (geo=True, dateline unwrap)."""
    raw_w = r.max_x - r.min_x
    max_xu = r.min_x + raw_w + 360.0 if raw_w < 0 else r.max_x
    pxu = (
        f"(CASE WHEN {px} < {dlit(r.min_x)} THEN {px} + 360e0 "
        f"WHEN {px} > {dlit(max_xu)} THEN {px} - 360e0 ELSE {px} END)"
    )
    return (
        f"({py} <= {dlit(r.max_y)} AND {py} >= {dlit(r.min_y)} "
        f"AND {pxu} >= {dlit(r.min_x)} AND {pxu} <= {dlit(max_xu)})"
    )


def pip_sql(shape, px: str, py: str) -> str:
    """Covers-test SQL for a parsed shape, mirroring points_covered(geo=True)."""
    if isinstance(shape, Rect):
        return rect_contains_sql(shape, px, py)
    if isinstance(shape, MultiPolygon):
        return "(" + " OR ".join(pip_sql(p, px, py) for p in shape.polys) + ")"
    if not isinstance(shape, Polygon):
        raise TypeError(f"pip_sql: unsupported shape {type(shape)}")
    u = Polygon(unwrap_dateline(shape.shell), tuple(unwrap_dateline(h) for h in shape.holes))
    span = u.shell[:, 0]
    pages = [_poly_page_sql(u, px, py)]
    if float(np.max(span)) > 180.0:
        pages.append(_poly_page_sql(u, f"({px} + 360e0)", py))
    if float(np.min(span)) < -180.0:
        pages.append(_poly_page_sql(u, f"({px} - 360e0)", py))
    return "(" + " OR ".join(pages) + ")"


def bufpoly_sql(bp, px: str, py: str) -> str:
    """Covers-test SQL for a BufferedPolygon, mirroring
    kernels.polybuf.BufferedPolygon.covers: in the core polygon OR within
    buf (flat degrees) of a boundary segment, minimized over the
    360-degree pages. Segment constants (a, d, |d|^2) are emitted as
    literals from the same unwrapped rings the kernel uses."""
    core = pip_sql(bp.poly, px, py)
    if bp.buf == 0.0:
        return core
    b2 = dlit(bp.buf * bp.buf)
    segs = bp._segments()
    pages = ["0e0", "360e0", "-360e0"] if bp.geo else ["0e0"]
    conds = [core]
    for ax, ay, bx, by in segs:
        dx, dy = bx - ax, by - ay
        ln2 = dx * dx + dy * dy
        for page in pages:
            x = f"({px} + {page})" if page != "0e0" else px
            if ln2 > 0.0:
                t = (
                    f"least(greatest((({x} - {dlit(ax)}) * {dlit(dx)} + "
                    f"({py} - {dlit(ay)}) * {dlit(dy)}) / {dlit(ln2)}, 0e0), 1e0)"
                )
                ex = f"({x} - ({dlit(ax)} + {t} * {dlit(dx)}))"
                ey = f"({py} - ({dlit(ay)} + {t} * {dlit(dy)}))"
            else:
                ex = f"({x} - {dlit(ax)})"
                ey = f"({py} - {dlit(ay)})"
            conds.append(f"({ex} * {ex} + {ey} * {ey} <= {b2})")
    return "(" + " OR ".join(conds) + ")"


def _infbufline_sql(line, px: str, py: str) -> str:
    """Mirrors kernels.bufline.InfBufLine.contains op-for-op."""
    import math

    if math.isinf(line.slope):
        return f"(abs({px} - {dlit(line.intercept)}) <= {dlit(line.buf)})"
    return (
        f"(abs({py} - {dlit(line.slope)} * {px} - {dlit(line.intercept)})"
        f" * {dlit(line.dist_denom_inv)} <= {dlit(line.buf)})"
    )


def corridor_sql(shape, px: str, py: str) -> str:
    """Covers test of a BufLineString: OR over segments of
    (primary contains AND perp contains) — mirrors BufLineString.contains."""
    segs = [
        f"({_infbufline_sql(s.primary, px, py)} AND {_infbufline_sql(s.perp, px, py)})"
        for s in shape.segments
    ]
    return "(" + " OR ".join(segs) + ")"


# ---------------------------------------------------------------------------
# geohash / integer cell ids
# ---------------------------------------------------------------------------


def geohash_bits(precision: int) -> tuple[int, int]:
    total = 5 * precision
    lon_bits = (total + 1) // 2  # lon-first interleave
    lat_bits = total // 2
    return lon_bits, lat_bits


def geohash_ix_iy_sql(lon: str, lat: str, precision: int) -> tuple[str, str]:
    """Integer bin indices equivalent to the strict-``>``-midpoint subdivision.

    ``ceil(v) - 1`` sends on-boundary values to the lower cell, exactly the
    kernel's ``value > mid`` rule; exact whenever (lon+180)/360*2^bits is
    computed without rounding (true on the dyadic test lattice).
    """
    lon_bits, lat_bits = geohash_bits(precision)
    ix = (
        f"greatest(CAST(ceil(({lon} + 180e0) / 360e0 * {dlit(1 << lon_bits)}) AS BIGINT)"
        f" - 1, 0)"
    )
    iy = (
        f"greatest(CAST(ceil(({lat} + 90e0) / 180e0 * {dlit(1 << lat_bits)}) AS BIGINT)"
        f" - 1, 0)"
    )
    return ix, iy


def geohash_interleave_sql(ix: str, iy: str, precision: int) -> str:
    """Lon-first bit interleave of bin indices -> packed integer (column exprs)."""
    lon_bits, lat_bits = geohash_bits(precision)
    total = 5 * precision
    terms = []
    for k in range(lon_bits):
        terms.append(f"((({ix} >> {lon_bits - 1 - k}) & 1) << {total - 1 - 2 * k})")
    for k in range(lat_bits):
        terms.append(f"((({iy} >> {lat_bits - 1 - k}) & 1) << {total - 2 - 2 * k})")
    return "(" + " | ".join(terms) + ")"


def geohash_chars_sql(packed: str, precision: int) -> str:
    """Packed integer -> base-32 geohash string."""
    parts = [
        f"substr('{BASE32}', CAST((({packed} >> {5 * (precision - 1 - g)}) & 31) AS INTEGER) + 1, 1)"
        for g in range(precision)
    ]
    return "(" + " || ".join(parts) + ")"


def cell_id_int_sql(lon: str, lat: str, level: int) -> str:
    """Mirrors functions.native.cell_id_int (floor binning, least clamp)."""
    n = 1 << level
    cx = f"least(CAST(floor(({lon} + 180e0) / 360e0 * {dlit(n)}) AS BIGINT), {n - 1})"
    cy = f"least(CAST(floor(({lat} + 90e0) / 180e0 * {dlit(n)}) AS BIGINT), {n - 1})"
    return f"CAST({cx} * {n} + {cy} AS BIGINT)"


# ---------------------------------------------------------------------------
# distances
# ---------------------------------------------------------------------------


def haversine_km_native_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Mirrors functions.native.haversine_km (Catalyst expression tree).

    JVM ``F.radians(v)`` is ``Math.toRadians`` = ``v / 180.0 * pi`` — mirror
    that op order, not the kernel's multiply-by-constant form.
    """
    r = {v: f"({e} / 180e0 * {dlit(PI)})" for v, e in (("lon1", lon1), ("lat1", lat1), ("lon2", lon2), ("lat2", lat2))}
    hx = f"sin(({r['lon1']} - {r['lon2']}) / 2)"
    hy = f"sin(({r['lat1']} - {r['lat2']}) / 2)"
    h = f"({hy} * {hy} + cos({r['lat1']}) * cos({r['lat2']}) * {hx} * {hx})"
    d = f"(2e0 * atan2(sqrt({h}), sqrt(1e0 - {h})) * {dlit(EARTH_MEAN_RADIUS_KM)})"
    same = f"({r['lon1']} = {r['lon2']} AND {r['lat1']} = {r['lat2']})"
    return f"(CASE WHEN {same} THEN 0e0 ELSE {d} END)"


def dist_km_kernel_sql(lon1: str, lat1: str, lon2: str, lat2: str, calculator: str) -> str:
    """Mirrors kernels.distance.deg_to_km(distance_deg(...)) for a calculator.

    Chain: deg -> rad (multiply by DEG_TO_RAD constant), formula, rad -> deg
    (multiply RAD_TO_DEG), deg -> km (multiply DEG_TO_RAD then radius) —
    kept in this exact order, not algebraically simplified.
    """
    la1 = f"({lat1} * {dlit(DEG_TO_RAD)})"
    lo1 = f"({lon1} * {dlit(DEG_TO_RAD)})"
    la2 = f"({lat2} * {dlit(DEG_TO_RAD)})"
    lo2 = f"({lon2} * {dlit(DEG_TO_RAD)})"
    if calculator == "haversine":
        hx = f"sin(({lo1} - {lo2}) * 5e-1)"
        hy = f"sin(({la1} - {la2}) * 5e-1)"
        h = f"least({hy} * {hy} + cos({la1}) * cos({la2}) * {hx} * {hx}, 1e0)"
        d_rad = f"(2e0 * atan2(sqrt({h}), sqrt(1e0 - {h})))"
    elif calculator == "lawofcosines":
        a = f"({dlit(np.pi / 2.0)} - {la1})"
        c = f"({dlit(np.pi / 2.0)} - {la2})"
        cos_b = f"(cos({a}) * cos({c}) + sin({a}) * sin({c}) * cos({lo2} - {lo1}))"
        d_rad = (
            f"(CASE WHEN {cos_b} < -1e0 THEN {dlit(np.pi)} "
            f"WHEN {cos_b} >= 1e0 THEN 0e0 ELSE acos({cos_b}) END)"
        )
    elif calculator == "vincenty":
        aa = f"(cos({la2}) * sin({lo2} - {lo1}))"
        bb = f"(cos({la1}) * sin({la2}) - sin({la1}) * cos({la2}) * cos({lo2} - {lo1}))"
        cc = f"(sin({la1}) * sin({la2}) + cos({la1}) * cos({la2}) * cos({lo2} - {lo1}))"
        d_rad = f"atan2(sqrt({aa} * {aa} + {bb} * {bb}), {cc})"
    else:
        raise ValueError(calculator)
    same = f"({la1} = {la2} AND {lo1} = {lo2})"
    d_rad = f"(CASE WHEN {same} THEN 0e0 ELSE {d_rad} END)"
    return f"((({d_rad} * {dlit(RAD_TO_DEG)}) * {dlit(DEG_TO_RAD)}) * {dlit(EARTH_MEAN_RADIUS_KM)})"


# ---------------------------------------------------------------------------
# longitude normalization + circle bbox (mirrors kernels.norm / kernels.circle)
# ---------------------------------------------------------------------------


def norm_lon_sql(v: str) -> str:
    """Mirrors kernels.norm.norm_lon_deg (np.mod == double-%% chained +360)."""
    off = f"((({v} + 180e0) % 360e0 + 360e0) % 360e0)"
    wrapped = f"(CASE WHEN {off} = 0e0 AND {v} > 0e0 THEN 180e0 ELSE {off} - 180e0 END)"
    return f"(CASE WHEN {v} >= -180e0 AND {v} <= 180e0 THEN {v} ELSE {wrapped} END)"


def norm_lat_sql(v: str) -> str:
    """Mirrors kernels.norm.norm_lat_deg (C-style fmod == DuckDB %%)."""
    off = f"abs(({v} + 90e0) % 360e0)"
    folded = f"((CASE WHEN {off} <= 180e0 THEN {off} ELSE 360e0 - {off} END) - 90e0)"
    return f"(CASE WHEN {v} >= -90e0 AND {v} <= 90e0 THEN {v} ELSE {folded} END)"


def point_on_bearing_select_sql(cte: str, id_col: str) -> str:
    """SELECT mirroring point_on_bearing_rad_portable over
    ``{cte}(id_col, lon, lat, d, b)`` — degrees in, UNROUNDED degrees
    out.

    The trig is the engine-portable chain (kernels.ptrig): every stage
    below is the same +,-,*,/,sqrt,floor,CASE sequence the numpy kernel
    executes, staged through MATERIALIZED CTE columns (one column per
    numpy local) so nothing re-expands. Both engines therefore produce
    bit-identical doubles, and the defensive round() — whose 1e-4 tie
    boundaries the sf1 sweep showed flipping under libm drift — is gone.
    """
    from spatial4n_spark.kernels.ptrig import (
        PI_2,
        patan2_case_sql,
        patan2_pair_stages_sql,
        psin_poly_sql,
        psin_reduce_sql,
    )

    half = dlit(PI_2)
    stages = f"""
p0 AS MATERIALIZED (
  SELECT {id_col}, lat * {dlit(DEG_TO_RAD)} AS la, lon * {dlit(DEG_TO_RAD)} AS lo,
         d * {dlit(DEG_TO_RAD)} AS dr, b * {dlit(DEG_TO_RAD)} AS br FROM {cte}),
p1 AS MATERIALIZED (
  SELECT *, {psin_reduce_sql('la')} AS w_sla, {psin_reduce_sql(f'(la + {half})')} AS w_cla,
         {psin_reduce_sql('dr')} AS w_sdr, {psin_reduce_sql(f'(dr + {half})')} AS w_cdr,
         {psin_reduce_sql('br')} AS w_sbr, {psin_reduce_sql(f'(br + {half})')} AS w_cbr
  FROM p0),
p2 AS MATERIALIZED (
  SELECT *, {psin_poly_sql('w_sla')} AS sin_la, {psin_poly_sql('w_cla')} AS cos_la,
         {psin_poly_sql('w_sdr')} AS sin_dr, {psin_poly_sql('w_cdr')} AS cos_dr,
         {psin_poly_sql('w_sbr')} AS sin_br, {psin_poly_sql('w_cbr')} AS cos_br
  FROM p1),
p3 AS MATERIALIZED (
  SELECT *, (sin_la * cos_dr + cos_la * sin_dr * cos_br) AS sl2 FROM p2),
p4 AS MATERIALIZED (
  SELECT *,
    (CASE WHEN sl2 < -1e0 THEN -1e0 WHEN sl2 > 1e0 THEN 1e0 ELSE sl2 END) AS sl2c,
    (sin_br * sin_dr * cos_la) AS ly,
    (cos_dr - sin_la * sl2) AS lx
  FROM p3),
p5 AS MATERIALIZED (
  SELECT *, sqrt(1e0 - sl2c * sl2c) AS ax,
    sl2c / (CASE WHEN sqrt(1e0 - sl2c * sl2c) = 0e0 THEN 1e0
            ELSE sqrt(1e0 - sl2c * sl2c) END) AS qa,
    ly / (CASE WHEN lx = 0e0 THEN 1e0 ELSE lx END) AS qb
  FROM p4),{patan2_pair_stages_sql('p', 'p5')},
p9 AS MATERIALIZED (
  SELECT *, {patan2_case_sql('aa', 'sl2c', 'ax')} AS lat2_rad,
         (lo + {patan2_case_sql('ab', 'ly', 'lx')}) AS lon2_rad
  FROM p8b)"""
    # kernel normalizes in degrees then returns radians; the UDF multiplies
    # back — mirror the whole chain
    lon2 = (
        f"(({norm_lon_sql(f'(lon2_rad * {dlit(RAD_TO_DEG)})')}"
        f" * {dlit(DEG_TO_RAD)}) * {dlit(RAD_TO_DEG)})"
    )
    lat2 = (
        f"(({norm_lat_sql(f'(lat2_rad * {dlit(RAD_TO_DEG)})')}"
        f" * {dlit(DEG_TO_RAD)}) * {dlit(RAD_TO_DEG)})"
    )
    return (
        f", {stages}\n"
        f"SELECT {id_col}, {lon2} AS lon2, {lat2} AS lat2 FROM p9"
    )


def circle_bbox_select_sql(points_cte: str, id_col: str, ndigits: int = 4) -> str:
    """Full SELECT mirroring kernels.circle.circle_bbox over a CTE
    ``{points_cte}(id_col, cx, cy, r)``; outputs rounded bbox columns."""
    ratio = f"(sin(r * {dlit(DEG_TO_RAD)}) / cos(cy * {dlit(DEG_TO_RAD)}))"
    delta = (
        f"(CASE WHEN r = 0e0 THEN 0e0 "
        f"WHEN abs({ratio}) > 1e0 THEN 90e0 "
        f"ELSE asin({ratio}) * {dlit(RAD_TO_DEG)} END)"
    )
    touches = "(cy + r >= 90e0 OR cy - r <= -90e0)"
    passes = "(cy + r > 90e0 OR cy - r < -90e0)"
    min_x = (
        f"(CASE WHEN r = 0e0 THEN cx WHEN r >= 180e0 THEN -180e0 "
        f"WHEN {touches} THEN (CASE WHEN {passes} THEN -180e0 ELSE {norm_lon_sql('(cx - 90e0)')} END) "
        f"ELSE {norm_lon_sql('(cx - delta)')} END)"
    )
    max_x = (
        f"(CASE WHEN r = 0e0 THEN cx WHEN r >= 180e0 THEN 180e0 "
        f"WHEN {touches} THEN (CASE WHEN {passes} THEN 180e0 ELSE {norm_lon_sql('(cx + 90e0)')} END) "
        f"ELSE {norm_lon_sql('(cx + delta)')} END)"
    )
    min_y = f"(CASE WHEN r = 0e0 THEN cy WHEN r >= 180e0 THEN -90e0 ELSE greatest(cy - r, -90e0) END)"
    max_y = f"(CASE WHEN r = 0e0 THEN cy WHEN r >= 180e0 THEN 90e0 ELSE least(cy + r, 90e0) END)"
    return (
        f"SELECT {id_col}, "
        f"round({min_x}, {ndigits}) AS min_x, round({max_x}, {ndigits}) AS max_x, "
        f"round({min_y}, {ndigits}) AS min_y, round({max_y}, {ndigits}) AS max_y "
        f"FROM (SELECT {id_col}, cx, cy, r, {delta} AS delta FROM {points_cte})"
    )


# ---------------------------------------------------------------------------
# rect x rect relate (mirrors kernels.bbox)
# ---------------------------------------------------------------------------


def relate_range_case_sql(imin: str, imax: str, emin: str, emax: str) -> str:
    """Int relation code of [imin,imax] vs [emin,emax] (relate_range order)."""
    return (
        f"(CASE WHEN {emin} > {imax} OR {emax} < {imin} THEN 3 "
        f"WHEN {emin} >= {imin} AND {emax} <= {imax} THEN 2 "
        f"WHEN {emin} <= {imin} AND {emax} >= {imax} THEN 1 ELSE 4 END)"
    )


REL_NAME_CASE = (
    "(CASE {v} WHEN 1 THEN 'WITHIN' WHEN 2 THEN 'CONTAINS' "
    "WHEN 3 THEN 'DISJOINT' ELSE 'INTERSECTS' END)"
)


def rect_relate_steps_sql(rects_cte: str, key_cols: str) -> str:
    """SELECT mirroring rect_relate_rect over
    ``{rects_cte}(key_cols..., aminx,amaxx,aminy,amaxy,bminx,bmaxx,bminy,bmaxy)``.

    Emits a CTE-staged unwrap/shift pipeline identical to relate_x_range.
    """
    y_rel = relate_range_case_sql("aminy", "amaxy", "bminy", "bmaxy")
    xr = relate_range_case_sql("aminx2", "amaxx2", "bminx2", "bmaxx2")
    x_rel = f"(CASE WHEN araw = 360e0 THEN 2 WHEN braw = 360e0 THEN 1 ELSE {xr} END)"
    final = (
        "(CASE WHEN x_rel = 3 OR y_rel = 3 THEN 3 "
        "WHEN x_rel = y_rel THEN x_rel "
        "WHEN aminx = bminx AND amaxx = bmaxx THEN y_rel "
        "WHEN aminy = bminy AND amaxy = bmaxy THEN x_rel "
        "ELSE 4 END)"
    )
    return f"""
SELECT {key_cols}, {REL_NAME_CASE.format(v=final)} AS rel FROM (
  SELECT {key_cols}, aminx, amaxx, aminy, amaxy, bminx, bmaxx, bminy, bmaxy,
         araw, braw, y_rel, {x_rel} AS x_rel
  FROM (
    SELECT *,
           CASE WHEN NOT (amaxu < bminx) AND bmaxu < aminx THEN bminx + 360e0 ELSE bminx END AS bminx2,
           CASE WHEN NOT (amaxu < bminx) AND bmaxu < aminx THEN bmaxu + 360e0 ELSE bmaxu END AS bmaxx2,
           CASE WHEN amaxu < bminx THEN aminx + 360e0 ELSE aminx END AS aminx2,
           CASE WHEN amaxu < bminx THEN amaxu + 360e0 ELSE amaxu END AS amaxx2
    FROM (
      SELECT *,
             CASE WHEN araw < 0e0 THEN aminx + araw + 360e0 ELSE amaxx END AS amaxu,
             CASE WHEN braw < 0e0 THEN bminx + braw + 360e0 ELSE bmaxx END AS bmaxu
      FROM (
        SELECT {key_cols}, aminx, amaxx, aminy, amaxy, bminx, bmaxx, bminy, bmaxy,
               amaxx - aminx AS araw, bmaxx - bminx AS braw,
               {y_rel} AS y_rel
        FROM {rects_cte}
      )
    )
  )
)
"""
