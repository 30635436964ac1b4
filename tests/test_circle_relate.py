"""The vectorized circle x rects relate (kernels/circle.py) against the
scalar port it replaced, kept here verbatim as the differential oracle,
and the cover planners' per-level classification (plans/cover.py)
against the per-cell relate it replaced: every relation, and so every
geohash / S2 / H3 cover, must stay bit-identical."""

from __future__ import annotations

import math

import numpy as np
import pytest

from spatial4n_spark.kernels.bbox import rect_relate_rect, relate_x_range, relate_y_range
from spatial4n_spark.kernels.circle import (
    circle_bbox,
    circle_lat_horiz_axis_deg,
    circle_relate_rects,
    geo_circle_relate_rects,
)
from spatial4n_spark.kernels.distance import distance_deg
from spatial4n_spark.kernels.norm import norm_lat_deg, norm_lon_deg
from spatial4n_spark.kernels.polygon import Circle, Rect
from spatial4n_spark.kernels.relate import relate
from spatial4n_spark.plans import cover as cover_mod
from spatial4n_spark.plans import h3cover, s2cover
from spatial4n_spark.relation import CONTAINS, DISJOINT, INTERSECTS, WITHIN, intersects, inverse, rel_from_name
from spatial4n_spark.sources.circle_rect_expected import GEO_CIRCLE_RECT_VECTORS

# ---------------------------------------------------------------------------
# the oracle: the scalar circle x rect relate, one rect per call
# ---------------------------------------------------------------------------


def _rect_width(min_x, max_x):
    w = max_x - min_x
    return w + 360.0 if w < 0 else w


def _crosses_dateline(min_x, max_x):
    return min_x > max_x


def _scalar_rel(arr):
    return np.int8(np.asarray(arr).reshape(-1)[0])


def _phase2_euclidean(cx, cy, r, x_axis, y_axis, rminx, rmaxx, rminy, rmaxy, bbox_sect, contains):
    """Closest/farthest-corner phase. CircleImpl.cs:164-247.

    ``contains(x, y)`` is the circle membership test (geo or cartesian);
    ``x_axis``/``y_axis`` are the circle's axis coordinates (GeoCircle
    overrides y_axis with the horizontal-axis latitude).
    """
    if x_axis < rminx:
        closest_x, farthest_x = rminx, rmaxx
    elif x_axis > rmaxx:
        closest_x, farthest_x = rmaxx, rminx
    else:
        closest_x = x_axis
        farthest_x = rmaxx if (rmaxx - x_axis > x_axis - rminx) else rminx

    if y_axis < rminy:
        closest_y, farthest_y = rminy, rmaxy
    elif y_axis > rmaxy:
        closest_y, farthest_y = rmaxy, rminy
    else:
        closest_y = y_axis
        farthest_y = rmaxy if (rmaxy - y_axis > y_axis - rminy) else rminy

    if x_axis != closest_x and y_axis != closest_y:
        if not contains(closest_x, closest_y):
            return DISJOINT

    if bbox_sect != CONTAINS:
        return INTERSECTS
    if not contains(farthest_x, farthest_y):
        return INTERSECTS
    if cy != y_axis:  # geodetic: check the other corner too (CircleImpl.cs:234-244)
        if y_axis == closest_y:
            other_y = rminy if farthest_y == rmaxy else rmaxy
            if not contains(farthest_x, other_y):
                return INTERSECTS
    return CONTAINS


def circle_relate_rect(cx, cy, r, rminx, rmaxx, rminy, rmaxy):
    """Euclidean circle x rect relate. CircleImpl.cs:144-247."""
    bminx, bmaxx, bminy, bmaxy = cx - r, cx + r, cy - r, cy + r
    bbox_sect = _scalar_rel(
        rect_relate_rect(bminx, bmaxx, bminy, bmaxy, rminx, rmaxx, rminy, rmaxy, geo=False)
    )
    if bbox_sect in (DISJOINT, WITHIN):
        return bbox_sect
    if bbox_sect == CONTAINS and (bminx, bmaxx, bminy, bmaxy) == (rminx, rmaxx, rminy, rmaxy):
        return WITHIN

    def contains(x, y):
        return math.hypot(x - cx, y - cy) <= r

    return _phase2_euclidean(cx, cy, r, cx, cy, rminx, rmaxx, rminy, rmaxy, bbox_sect, contains)


def _geo_contains_fn(cx, cy, r, calculator):
    def contains(x, y):
        return float(distance_deg(cx, cy, x, y, calculator)) <= r

    return contains


def _num_corners_intersect(contains, rminx, rmaxx, rminy, rmaxy):
    """0 = none, 1 = some, 4 = all. GeoCircle.cs:247-283."""
    b = contains(rminx, rminy)
    for x, y in ((rminx, rmaxy), (rmaxx, rminy), (rmaxx, rmaxy)):
        if contains(x, y) != b:
            return 1
    return 4 if b else 0


def _relate_rect_circle_wraps_pole(cx, cy, r, rminx, rmaxx, rminy, rmaxy, contains):
    """Circle wraps one pole (not both). GeoCircle.cs:181-242."""
    if r == 180.0:
        return CONTAINS

    y_top = cy + r
    if y_top > 90.0:
        y_top_overlap = y_top - 90.0
        if rminy >= 90.0 - y_top_overlap:
            return CONTAINS
    else:
        y_bot = cy - r
        if y_bot < -90.0:
            y_bot_overlap = -90.0 - y_bot
            if rmaxy <= -90.0 + y_bot_overlap:
                return CONTAINS

    if _rect_width(rminx, rmaxx) == 360.0:
        return INTERSECTS

    n = _num_corners_intersect(contains, rminx, rmaxx, rminy, rmaxy)
    front_x = cx
    if n == 4:
        back_x = front_x + 180.0 if front_x <= 0 else front_x - 180.0
        if intersects(_scalar_rel(relate_x_range(rminx, rmaxx, back_x, back_x))):
            return INTERSECTS
        return CONTAINS
    if n == 0:
        if intersects(_scalar_rel(relate_x_range(rminx, rmaxx, front_x, front_x))):
            return INTERSECTS
        return DISJOINT
    return INTERSECTS


def geo_circle_relate_rect(cx, cy, r, rminx, rmaxx, rminy, rmaxy, calculator: str = "haversine"):
    """Geo circle x rect relate — the reference's hardest kernel.

    GeoCircle.Relate via CircleImpl.Relate(IRectangle) bbox phase
    (CircleImpl.cs:144-161) then GeoCircle.RelateRectanglePhase2
    (GeoCircle.cs:116-179) with the inverse-circle trick (:54-84,:121-124).
    All coordinates in degrees; r in degrees [0, 180].
    """
    bminx, bmaxx, bminy, bmaxy = (float(v) for v in circle_bbox(cx, cy, r))
    bbox_sect = _scalar_rel(
        rect_relate_rect(bminx, bmaxx, bminy, bmaxy, rminx, rmaxx, rminy, rmaxy, geo=True)
    )
    if bbox_sect in (DISJOINT, WITHIN):
        return bbox_sect
    if bbox_sect == CONTAINS and (bminx, bmaxx, bminy, bmaxy) == (rminx, rmaxx, rminy, rmaxy):
        return WITHIN

    contains = _geo_contains_fn(cx, cy, r, calculator)

    # --- GeoCircle.Init (GeoCircle.cs:54-104) derived state ---
    if r > 90.0:
        back_dist = 180.0 - r
        if back_dist > 0:
            back_radius = 180.0 - r
            back_x = norm_lon_deg(cx + 180.0)
            back_y = norm_lat_deg(cy + 180.0)
            # ulp shrink to avoid accidental overlap (GeoCircle.cs:66-69)
            back_radius -= max(
                float(np.spacing(abs(back_y) + back_radius)),
                float(np.spacing(abs(back_x) + back_radius)),
            )
            return np.int8(
                inverse(geo_circle_relate_rect(back_x, back_y, back_radius, rminx, rmaxx, rminy, rmaxy, calculator))
            )
        # whole globe (r >= 180): falls through to the pole-wrap path below
        y_axis = cy
    else:
        y_axis = float(circle_lat_horiz_axis_deg(cy, r))
        y_axis = min(max(y_axis, bminy), bmaxy)  # clamp into bbox (GeoCircle.cs:88-101)

    if _rect_width(bminx, bmaxx) == 360.0:
        return _relate_rect_circle_wraps_pole(cx, cy, r, rminx, rmaxx, rminy, rmaxy, contains)

    if not _crosses_dateline(bminx, bmaxx) and not _crosses_dateline(rminx, rmaxx):
        return _phase2_euclidean(cx, cy, r, cx, y_axis, rminx, rmaxx, rminy, rmaxy, bbox_sect, contains)

    if _rect_width(rminx, rmaxx) == 360.0:
        return INTERSECTS

    n = _num_corners_intersect(contains, rminx, rmaxx, rminy, rmaxy)
    if n == 4:
        x_int = _scalar_rel(relate_x_range(rminx, rmaxx, bminx, bmaxx))
        if x_int == WITHIN:
            return CONTAINS
        return INTERSECTS
    if n > 0:
        return INTERSECTS

    # no corners inside: check whether one of the circle's axes crosses r
    if intersects(_scalar_rel(relate_y_range(rminy, rmaxy, y_axis, y_axis))) and intersects(
        _scalar_rel(relate_x_range(rminx, rmaxx, bminx, bmaxx))
    ):
        return INTERSECTS
    if intersects(_scalar_rel(relate_x_range(rminx, rmaxx, cx, cx))):
        y_top, y_bot = cy + r, cy - r
        if intersects(_scalar_rel(relate_y_range(rminy, rmaxy, y_bot, y_top))):
            return INTERSECTS
    return DISJOINT


# ---------------------------------------------------------------------------
# vectorized kernel == oracle
# ---------------------------------------------------------------------------


def _norm_lon(x):
    return (x + 180.0) % 360.0 - 180.0


def _family_rects(rng, cx, cy, r, geo, n):
    """Rects around one circle: seeded random ones (half snapped to the
    integer lattice, some crossing the dateline), the circle's bbox and
    rects sharing its edges, zero-width and zero-height rects,
    world-wide and whole-world rects, and a NaN rect."""
    if geo:
        bminx, bmaxx, bminy, bmaxy = (float(v) for v in circle_bbox(cx, cy, r))
    else:
        bminx, bmaxx, bminy, bmaxy = cx - r, cx + r, cy - r, cy + r
    span = min(2.0 * r + 10.0, 360.0)
    x0 = cx + rng.uniform(-span, span, n)
    y0 = cy + rng.uniform(-span, span, n)
    w = rng.uniform(0.0, span, n) * rng.choice([0.05, 0.5, 1.0], n)
    h = rng.uniform(0.0, span, n) * rng.choice([0.05, 0.5, 1.0], n)
    snap = rng.random(n) < 0.5
    x0, y0, w, h = (np.where(snap, np.round(a), a) for a in (x0, y0, w, h))
    h = np.where(rng.random(n) < 0.1, 0.0, h)  # zero-height
    w = np.where(rng.random(n) < 0.1, 0.0, w)  # zero-width
    if geo:
        w = np.minimum(w, 360.0)
        min_x = _norm_lon(x0)
        max_x = _norm_lon(min_x + w)  # past +180 wraps: a dateline-crossing rect
        min_x, max_x = np.where(w == 360.0, -180.0, min_x), np.where(w == 360.0, 180.0, max_x)
        min_y = np.clip(y0, -90.0, 90.0)
        max_y = np.clip(y0 + h, -90.0, 90.0)
    else:
        min_x, max_x, min_y, max_y = x0, x0 + w, y0, y0 + h
    fixed = [
        (bminx, bmaxx, bminy, bmaxy),
        (bminx, bmaxx, bminy, cy),
        (cx, bmaxx, bminy, bmaxy),
        (bminx, bminx, bminy, bmaxy),  # zero-width on the bbox edge
        (cx, cx, cy, cy),
        (bminx, bmaxx, bmaxy, bmaxy),
        (float("nan"), cx, cy, cy + 1.0),
    ]
    if geo:
        fixed += [(-180.0, 180.0, bminy, bmaxy), (-180.0, 180.0, -90.0, 90.0),
                  (-180.0, 180.0, 80.0, 90.0), (-180.0, 180.0, -90.0, -85.0),
                  (170.0, -170.0, bminy, bmaxy), (179.0, -179.0, -1.0, 1.0)]
    fx = np.array(fixed, dtype=np.float64).T
    return tuple(np.concatenate([a, f]) for a, f in zip((min_x, max_x, min_y, max_y), fx))


def _family_circles(rng, n):
    """(cx, cy, r) geo circles: uniform, dateline, both poles, r = 0,
    r > 90, r = 180, with integer and fractional values."""
    kinds = rng.integers(0, 8, n)
    cx = rng.uniform(-180.0, 180.0, n)
    cy = rng.uniform(-90.0, 90.0, n)
    r = rng.uniform(0.0, 60.0, n) * rng.choice([0.01, 0.1, 1.0], n)
    cx = np.where(kinds == 1, rng.choice([-180.0, 180.0, 179.5, -179.75], n), cx)
    cy = np.where(kinds == 2, rng.choice([90.0, 89.5, 88.0], n), cy)
    cy = np.where(kinds == 3, rng.choice([-90.0, -89.5, -88.0], n), cy)
    r = np.where(kinds == 4, 0.0, r)
    r = np.where(kinds == 5, rng.uniform(90.0, 180.0, n), r)
    r = np.where(kinds == 6, 180.0, r)
    snap = rng.random(n) < 0.5
    cx, cy, r = (np.where(snap, np.round(a), a) for a in (cx, cy, r))
    return list(zip(cx.tolist(), cy.tolist(), np.clip(r, 0.0, 180.0).tolist()))


def test_geo_circle_relate_rects_equals_oracle():
    """Over 50k seeded (circle, rect) pairs in every family."""
    rng = np.random.default_rng(20)
    pairs = 0
    for cx, cy, r in _family_circles(rng, 1000):
        rects = _family_rects(rng, cx, cy, r, True, 45)
        got = geo_circle_relate_rects(cx, cy, r, *rects)
        want = [geo_circle_relate_rect(cx, cy, r, *(float(a[i]) for a in rects))
                for i in range(len(got))]
        assert got.tolist() == [int(v) for v in want], (cx, cy, r)
        pairs += len(got)
    assert pairs >= 50_000


def test_circle_relate_rects_equals_oracle():
    rng = np.random.default_rng(21)
    for _ in range(300):
        cx, cy = (float(v) for v in np.round(rng.uniform(-50.0, 50.0, 2), rng.integers(0, 3)))
        r = float(rng.choice([0.0, 1.0, 2.5, rng.uniform(0.0, 30.0)]))
        rects = _family_rects(rng, cx, cy, r, False, 40)
        got = circle_relate_rects(cx, cy, r, *rects)
        want = [circle_relate_rect(cx, cy, r, *(float(a[i]) for a in rects))
                for i in range(len(got))]
        assert got.tolist() == [int(v) for v in want], (cx, cy, r)


@pytest.mark.parametrize("name,circle,rect,expected", GEO_CIRCLE_RECT_VECTORS,
                         ids=[v[0] for v in GEO_CIRCLE_RECT_VECTORS])
def test_golden_vectors_through_rects_kernel(name, circle, rect, expected):
    cx, cy, r = circle
    got = geo_circle_relate_rects(cx, cy, r, *([v] for v in rect))
    assert got.tolist() == [int(rel_from_name(expected))], name


# ---------------------------------------------------------------------------
# planners: one classification call per level == the per-cell relate
# ---------------------------------------------------------------------------


def _per_cell_classify(shape, bboxes, geo):
    """The planners' former classifier: one scalar relate per cell."""
    min_x, max_x, min_y, max_y = bboxes
    if isinstance(shape, Circle):
        fn = geo_circle_relate_rect if shape.geo else circle_relate_rect
        return np.array(
            [fn(shape.x, shape.y, shape.radius, float(a), float(b), float(c), float(d))
             for a, b, c, d in zip(min_x, max_x, min_y, max_y)],
            dtype=np.int8,
        )
    return np.array(
        [relate(shape, Rect(float(a), float(b), float(c), float(d)), geo)
         for a, b, c, d in zip(min_x, max_x, min_y, max_y)],
        dtype=np.int8,
    )


def _covers(shape, gh_level, s2_level, h3_level):
    out = []
    for fn, level in ((cover_mod.cover_cells, gh_level), (s2cover.cover_cells_s2, s2_level),
                      (h3cover.cover_cells_h3, h3_level)):
        try:
            out.append(fn(shape, level, geo=shape.geo if isinstance(shape, Circle) else True))
        except ValueError as ex:
            out.append(("raises", str(ex)))
    return out


def _fresh_caches(monkeypatch):
    monkeypatch.setattr(cover_mod, "_COVER_CACHE", {})
    monkeypatch.setattr(s2cover, "_S2_COVER_CACHE", {})
    monkeypatch.setattr(h3cover, "_H3_COVER_CACHE", {})


def _per_cell(monkeypatch):
    for mod in (cover_mod, s2cover, h3cover):
        monkeypatch.setattr(mod, "_classify_cells", _per_cell_classify)


def test_circle_covers_identical_under_both_classifiers(monkeypatch):
    """cover_cells, cover_cells_s2 and cover_cells_h3 of 200 seeded
    circles (hot, uniform, dateline, polar, large) at several levels
    return the same (full, boundary) lists, cell for cell."""
    rng = np.random.default_rng(22)
    cases = []
    for i, (cx, cy, r) in enumerate(_family_circles(rng, 200)):
        r = min(r, 25.0) if i % 4 else r  # a quarter keep their large radii
        lv = int(rng.integers(0, 3))
        cases.append((Circle(cx, cy, r, geo=True), 1 + lv, 3 + 2 * lv, lv))
    _fresh_caches(monkeypatch)
    fast = [_covers(*c) for c in cases]
    _fresh_caches(monkeypatch)
    _per_cell(monkeypatch)
    slow = [_covers(*c) for c in cases]
    assert fast == slow
    assert sum(c[1][0] != "raises" and len(c[1][1]) > 0 for c in fast) > 100


def test_rect_covers_identical_under_both_classifiers(monkeypatch):
    rng = np.random.default_rng(23)
    rects = [Rect(2.25, 2.5, 48.75, 49.0), Rect(170.0, -170.0, -20.0, -10.0),
             Rect(-180.0, 180.0, 60.0, 90.0), Rect(-10.0, 10.0, -90.0, -80.0)]
    for _ in range(40):
        x0, y0 = rng.uniform(-180.0, 180.0), rng.uniform(-90.0, 80.0)
        w, h = rng.uniform(0.0, 40.0), rng.uniform(0.0, 10.0)
        rects.append(Rect(x0, float(_norm_lon(x0 + w)), y0, min(y0 + h, 90.0)))
    cases = [(r, 3, 6, 1) for r in rects]
    _fresh_caches(monkeypatch)
    fast = [_covers(*c) for c in cases]
    _fresh_caches(monkeypatch)
    _per_cell(monkeypatch)
    assert fast == [_covers(*c) for c in cases]


@pytest.mark.parametrize("geo", [True, False])
def test_rect_classification_equals_per_rect_relate(geo):
    """One rect_relate_rect call per level == relate(Rect, Rect) per cell,
    over seeded rects with dateline-crossing, world-wide and NaN cells."""
    rng = np.random.default_rng(24)
    nan = float("nan")
    for _ in range(200):
        x0, y0 = float(np.round(rng.uniform(-180.0, 180.0))), float(np.round(rng.uniform(-90.0, 80.0)))
        w, h = float(np.round(rng.uniform(0.0, 90.0))), float(np.round(rng.uniform(0.0, 30.0)))
        q = Rect(x0, float(_norm_lon(x0 + w)) if geo else x0 + w, y0, min(y0 + h, 90.0))
        rects = list(zip(*_family_rects(rng, x0 + w / 2, y0 + h / 2, max(w, h) / 2, geo, 30)))
        rects += [(-180.0, 180.0, -90.0, 90.0), (q.min_x, q.max_x, q.min_y, q.max_y),
                  (q.max_x, q.min_x, q.min_y, q.max_y), (nan, nan, nan, nan),
                  (q.min_x, q.max_x, nan, q.max_y), (q.min_x, nan, q.min_y, q.max_y)]
        bb = tuple(np.array(c, dtype=np.float64) for c in zip(*rects))
        got = cover_mod._classify_cells(q, bb, geo)
        assert got.tolist() == _per_cell_classify(q, bb, geo).tolist(), q
