"""Circle kernels: bbox generation and circle x rects relate, both vectorized.

The circle bbox kernel is the candidate-cell generator for distance joins
and kNN. The circle x rect relate classifies one query circle against
many rects: the cover planners (``plans.cover._classify_cells``) pass a
whole BFS level of cells in one call. It derives the circle's state
once (bbox, horizontal axis, inverse circle, pole wrap) and evaluates
the reference's per-rect branches as numpy masks, exactly as the
reference does (the scalar entry points are calls with one rect; the
former scalar port is kept in tests/test_circle_relate.py as the
differential oracle):

- bbox of a circle: ``DistanceUtils.CalcBoxByDistFromPtDEG``
  (src/Spatial4n/Distance/DistanceUtils.cs:328-443) — pole touch widens the
  lon span to 180 deg, pole crossing to 360 deg.
- euclidean relate: ``CircleImpl.Relate(IRectangle)`` + phase 2
  (src/Spatial4n/Shapes/Impl/CircleImpl.cs:144-247) — closest/farthest
  corner tests.
- geo relate: ``GeoCircle.RelateRectanglePhase2``
  (src/Spatial4n/Shapes/Impl/GeoCircle.cs:54-283) — inverse-circle trick for
  radius > 90 (with the ulp shrink, :60-77), pole-wrap algorithm
  (:181-242), corner counting (:247-283).
"""

from __future__ import annotations

import math

import numpy as np

from spatial4n_spark.kernels.bbox import rect_relate_rect, relate_x_range, relate_y_range
from spatial4n_spark.kernels.distance import DEG_TO_RAD, RAD_TO_DEG, distance_deg
from spatial4n_spark.kernels.norm import norm_lat_deg, norm_lon_deg
from spatial4n_spark.relation import CONTAINS, DISJOINT, INTERSECTS, WITHIN, intersects, inverse


def circle_delta_lon_deg(lat, dist_deg):
    """Half the lon-width of a circle's bbox. DistanceUtils.cs:400-412 (NaN->90)."""
    lat, dist_deg = np.asarray(lat, np.float64), np.asarray(dist_deg, np.float64)
    with np.errstate(invalid="ignore"):
        r = np.arcsin(np.sin(dist_deg * DEG_TO_RAD) / np.cos(lat * DEG_TO_RAD)) * RAD_TO_DEG
    r = np.where(np.isnan(r), 90.0, r)
    return np.where(dist_deg == 0.0, 0.0, r)


def circle_lat_horiz_axis_deg(lat, dist_deg):
    """Latitude of the circle's widest (left-right) axis. DistanceUtils.cs:421-443."""
    lat, dist_deg = np.asarray(lat, np.float64), np.asarray(dist_deg, np.float64)
    with np.errstate(invalid="ignore"):
        r = np.arcsin(np.sin(lat * DEG_TO_RAD) / np.cos(dist_deg * DEG_TO_RAD)) * RAD_TO_DEG
    r = np.where(np.isnan(r), np.where(lat > 0, 90.0, np.where(lat < 0, -90.0, lat)), r)
    r = np.where(lat + dist_deg >= 90.0, 90.0, r)
    r = np.where(lat - dist_deg <= -90.0, -90.0, r)
    return np.where(dist_deg == 0.0, lat, r)


def circle_bbox(lon, lat, dist_deg):
    """Bounding box of geo circles. Returns (min_x, max_x, min_y, max_y) arrays.

    DistanceUtils.CalcBoxByDistFromPtDEG (DistanceUtils.cs:328-394).
    min_x > max_x encodes dateline crossing.
    """
    lon, lat, dist_deg = (np.asarray(a, np.float64) for a in (lon, lat, dist_deg))
    shape = np.broadcast(lon, lat, dist_deg).shape
    lon, lat, dist_deg = (np.broadcast_to(a, shape).astype(np.float64) for a in (lon, lat, dist_deg))

    max_y = np.minimum(lat + dist_deg, 90.0)
    min_y = np.maximum(lat - dist_deg, -90.0)
    raw_max_y = lat + dist_deg
    raw_min_y = lat - dist_deg

    touches_pole = (raw_max_y >= 90.0) | (raw_min_y <= -90.0)
    passes_pole = (raw_max_y > 90.0) | (raw_min_y < -90.0)

    delta = circle_delta_lon_deg(lat, dist_deg)
    min_x = norm_lon_deg(lon - delta)
    max_x = norm_lon_deg(lon + delta)
    # touches a pole but doesn't pass it: lon span is 180 deg centered on lon
    half_min = norm_lon_deg(lon - 90.0)
    half_max = norm_lon_deg(lon + 90.0)
    min_x = np.where(touches_pole, np.where(passes_pole, -180.0, half_min), min_x)
    max_x = np.where(touches_pole, np.where(passes_pole, 180.0, half_max), max_x)

    whole = dist_deg >= 180.0
    min_x = np.where(whole, -180.0, min_x)
    max_x = np.where(whole, 180.0, max_x)
    min_y = np.where(whole, -90.0, min_y)
    max_y = np.where(whole, 90.0, max_y)

    zero = dist_deg == 0.0
    min_x = np.where(zero, lon, min_x)
    max_x = np.where(zero, lon, max_x)
    min_y = np.where(zero, lat, min_y)
    max_y = np.where(zero, lat, max_y)
    return min_x, max_x, min_y, max_y


# ---------------------------------------------------------------------------
# circle x rect relate, vectorized over rects (query circle vs tiles/rects)
# ---------------------------------------------------------------------------


def _rects(rminx, rmaxx, rminy, rmaxy):
    shape = np.broadcast(rminx, rmaxx, rminy, rmaxy).shape
    return tuple(
        np.array(np.broadcast_to(np.asarray(a, np.float64), shape)).reshape(-1)
        for a in (rminx, rmaxx, rminy, rmaxy)
    )


def _rect_width(min_x, max_x):
    w = max_x - min_x
    return np.where(w < 0, w + 360.0, w)


def _bbox_phase(bminx, bmaxx, bminy, bmaxy, rminx, rmaxx, rminy, rmaxy, geo):
    """CircleImpl.cs:144-161: the circle's bbox against every rect.
    Returns (relation, undecided): DISJOINT and WITHIN are final, as is
    WITHIN for a rect equal to a bbox it CONTAINS; the undecided rects
    (CONTAINS or INTERSECTS) go on to phase 2."""
    sect = rect_relate_rect(bminx, bmaxx, bminy, bmaxy, rminx, rmaxx, rminy, rmaxy, geo=geo)
    same = (
        (sect == CONTAINS) & (rminx == bminx) & (rmaxx == bmaxx)
        & (rminy == bminy) & (rmaxy == bmaxy)
    )
    out = np.where(same, WITHIN, sect).astype(np.int8)
    return out, ((sect == CONTAINS) | (sect == INTERSECTS)) & ~same


def _corners_in(contains, rminx, rmaxx, rminy, rmaxy):
    """Corners inside the circle: 0 = none, 1 = some, 4 = all.
    GeoCircle.cs:247-283."""
    c = [contains(x, y) for x, y in
         ((rminx, rminy), (rminx, rmaxy), (rmaxx, rminy), (rmaxx, rmaxy))]
    every = c[0] & c[1] & c[2] & c[3]
    some = c[0] | c[1] | c[2] | c[3]
    return np.where(every, 4, np.where(some, 1, 0))


def _phase2_euclidean(cy, x_axis, y_axis, rminx, rmaxx, rminy, rmaxy, sect, contains):
    """Closest/farthest-corner phase. CircleImpl.cs:164-247.

    ``contains(x, y)`` is the circle membership test (geo or cartesian);
    ``x_axis``/``y_axis`` are the circle's axis coordinates (GeoCircle
    overrides y_axis with the horizontal-axis latitude).
    """
    below_x, above_x = x_axis < rminx, x_axis > rmaxx
    closest_x = np.where(below_x, rminx, np.where(above_x, rmaxx, x_axis))
    farthest_x = np.where(
        below_x, rmaxx,
        np.where(above_x, rminx, np.where(rmaxx - x_axis > x_axis - rminx, rmaxx, rminx)),
    )
    below_y, above_y = y_axis < rminy, y_axis > rmaxy
    closest_y = np.where(below_y, rminy, np.where(above_y, rmaxy, y_axis))
    farthest_y = np.where(
        below_y, rmaxy,
        np.where(above_y, rminy, np.where(rmaxy - y_axis > y_axis - rminy, rmaxy, rminy)),
    )

    disjoint = (x_axis != closest_x) & (y_axis != closest_y) & ~contains(closest_x, closest_y)
    full = (sect == CONTAINS) & contains(farthest_x, farthest_y)
    if cy != y_axis:  # geodetic: check the other corner too (CircleImpl.cs:234-244)
        other_y = np.where(farthest_y == rmaxy, rminy, rmaxy)
        full &= (y_axis != closest_y) | contains(farthest_x, other_y)
    return np.where(disjoint, DISJOINT, np.where(full, CONTAINS, INTERSECTS)).astype(np.int8)


def circle_relate_rects(cx, cy, r, rminx, rmaxx, rminy, rmaxy):
    """Euclidean circle x rects relate, one int8 relation per rect.
    CircleImpl.cs:144-247."""
    cx, cy, r = float(cx), float(cy), float(r)
    rminx, rmaxx, rminy, rmaxy = _rects(rminx, rmaxx, rminy, rmaxy)
    out, todo = _bbox_phase(cx - r, cx + r, cy - r, cy + r, rminx, rmaxx, rminy, rmaxy, geo=False)
    if todo.any():
        def contains(x, y):
            # math.hypot, not np.hypot: libm's hypot is an ulp off on
            # about 0.6 % of inputs, and the boundary test is exact
            return np.fromiter(map(math.hypot, x - cx, y - cy), np.float64, len(x)) <= r

        sub = tuple(a[todo] for a in (rminx, rmaxx, rminy, rmaxy))
        out[todo] = _phase2_euclidean(cy, cx, cy, *sub, out[todo], contains)
    return out


def circle_relate_rect(cx, cy, r, rminx, rmaxx, rminy, rmaxy):
    """Euclidean circle x rect relate: ``circle_relate_rects`` of one rect."""
    return np.int8(circle_relate_rects(cx, cy, r, rminx, rmaxx, rminy, rmaxy)[0])


def _relate_rects_circle_wraps_pole(cx, cy, r, rminx, rmaxx, rminy, rmaxy, contains):
    """Circle wraps one pole (not both). GeoCircle.cs:181-242."""
    if r == 180.0:
        return np.full(len(rminx), CONTAINS, dtype=np.int8)

    y_top = cy + r
    if y_top > 90.0:
        cap = rminy >= 90.0 - (y_top - 90.0)
    else:
        y_bot = cy - r
        cap = rmaxy <= -90.0 + (-90.0 - y_bot) if y_bot < -90.0 else np.zeros(len(rminx), bool)

    n = _corners_in(contains, rminx, rmaxx, rminy, rmaxy)
    back_x = cx + 180.0 if cx <= 0 else cx - 180.0
    back_hit = intersects(relate_x_range(rminx, rmaxx, back_x, back_x))
    front_hit = intersects(relate_x_range(rminx, rmaxx, cx, cx))
    return np.select(
        [cap, _rect_width(rminx, rmaxx) == 360.0, n == 4, n == 0],
        [CONTAINS, INTERSECTS, np.where(back_hit, INTERSECTS, CONTAINS),
         np.where(front_hit, INTERSECTS, DISJOINT)],
        INTERSECTS,
    ).astype(np.int8)


def _relate_rects_across_dateline(cx, cy, r, y_axis, bminx, bmaxx, rminx, rmaxx, rminy, rmaxy, contains):
    """The circle's bbox or the rect crosses the dateline.
    GeoCircle.cs:129-179."""
    n = _corners_in(contains, rminx, rmaxx, rminy, rmaxy)
    x_in_bbox = relate_x_range(rminx, rmaxx, bminx, bmaxx)
    # no corners inside: does one of the circle's axes cross the rect?
    axis_hit = (
        intersects(relate_y_range(rminy, rmaxy, y_axis, y_axis)) & intersects(x_in_bbox)
    ) | (
        intersects(relate_x_range(rminx, rmaxx, cx, cx))
        & intersects(relate_y_range(rminy, rmaxy, cy - r, cy + r))
    )
    return np.select(
        [_rect_width(rminx, rmaxx) == 360.0, n == 4, n > 0],
        [INTERSECTS, np.where(x_in_bbox == WITHIN, CONTAINS, INTERSECTS), INTERSECTS],
        np.where(axis_hit, INTERSECTS, DISJOINT),
    ).astype(np.int8)


def geo_circle_relate_rects(cx, cy, r, rminx, rmaxx, rminy, rmaxy, calculator: str = "haversine"):
    """Geo circle x rects relate — the reference's hardest kernel, one
    int8 relation per rect.

    GeoCircle.Relate via CircleImpl.Relate(IRectangle) bbox phase
    (CircleImpl.cs:144-161) then GeoCircle.RelateRectanglePhase2
    (GeoCircle.cs:116-179) with the inverse-circle trick (:54-84,:121-124).
    The circle's state (bbox, horizontal axis, inverse circle, pole
    wrap) is derived once; the per-rect branches are masks.
    All coordinates in degrees; r in degrees [0, 180].
    """
    cx, cy, r = float(cx), float(cy), float(r)
    rminx, rmaxx, rminy, rmaxy = _rects(rminx, rmaxx, rminy, rmaxy)
    bminx, bmaxx, bminy, bmaxy = (float(v) for v in circle_bbox(cx, cy, r))
    out, todo = _bbox_phase(bminx, bmaxx, bminy, bmaxy, rminx, rmaxx, rminy, rmaxy, geo=True)
    if not todo.any():
        return out
    sub = tuple(a[todo] for a in (rminx, rmaxx, rminy, rmaxy))

    def contains(x, y):
        return distance_deg(cx, cy, x, y, calculator) <= r

    # --- GeoCircle.Init (GeoCircle.cs:54-104) derived state ---
    if r > 90.0:
        back_dist = 180.0 - r
        if back_dist > 0:
            back_radius = 180.0 - r
            back_x = float(norm_lon_deg(cx + 180.0))
            back_y = float(norm_lat_deg(cy + 180.0))
            # ulp shrink to avoid accidental overlap (GeoCircle.cs:66-69)
            back_radius -= max(
                float(np.spacing(abs(back_y) + back_radius)),
                float(np.spacing(abs(back_x) + back_radius)),
            )
            out[todo] = inverse(geo_circle_relate_rects(back_x, back_y, back_radius, *sub, calculator))
            return out
        # whole globe (r >= 180): falls through to the pole-wrap path below
        y_axis = cy
    else:
        y_axis = float(circle_lat_horiz_axis_deg(cy, r))
        y_axis = min(max(y_axis, bminy), bmaxy)  # clamp into bbox (GeoCircle.cs:88-101)

    if float(_rect_width(bminx, bmaxx)) == 360.0:
        out[todo] = _relate_rects_circle_wraps_pole(cx, cy, r, *sub, contains)
        return out

    rel = np.empty(len(sub[0]), dtype=np.int8)
    # neither the bbox nor the rect crosses the dateline
    plain = ~(sub[0] > sub[1]) if not bminx > bmaxx else np.zeros(len(sub[0]), bool)
    if plain.any():
        rel[plain] = _phase2_euclidean(
            cy, cx, y_axis, *(a[plain] for a in sub), out[todo][plain], contains
        )
    if not plain.all():
        rel[~plain] = _relate_rects_across_dateline(
            cx, cy, r, y_axis, bminx, bmaxx, *(a[~plain] for a in sub), contains
        )
    out[todo] = rel
    return out


def geo_circle_relate_rect(cx, cy, r, rminx, rmaxx, rminy, rmaxy, calculator: str = "haversine"):
    """Geo circle x rect relate: ``geo_circle_relate_rects`` of one rect."""
    return np.int8(geo_circle_relate_rects(cx, cy, r, rminx, rmaxx, rminy, rmaxy, calculator)[0])
