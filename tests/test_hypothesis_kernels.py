"""Hypothesis property tests over the scalar kernels — complements the
fixed-seed numpy property suite with shrinking counterexample search."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings, strategies as st

from spatial4n_spark.kernels.bbox import rect_contains_point, rect_relate_rect
from spatial4n_spark.kernels.geohash import (
    geohash_decode_bbox,
    geohash_encode_str,
)
from spatial4n_spark.kernels.norm import norm_lat_deg, norm_lon_deg
from spatial4n_spark.kernels.distance import distance_deg
from spatial4n_spark.relation import CONTAINS, DISJOINT, transpose

lats = st.floats(-90.0, 90.0, allow_nan=False)
lons = st.floats(-180.0, 180.0, allow_nan=False)
any_lon = st.floats(-1e4, 1e4, allow_nan=False)
any_lat = st.floats(-1e4, 1e4, allow_nan=False)


@settings(max_examples=300, deadline=None)
@given(any_lon)
def test_norm_lon_in_range_and_idempotent(v):
    w = float(norm_lon_deg(v))
    assert -180.0 <= w <= 180.0
    assert float(norm_lon_deg(w)) == w  # in-range values untouched


@settings(max_examples=300, deadline=None)
@given(any_lat)
def test_norm_lat_in_range_and_idempotent(v):
    w = float(norm_lat_deg(v))
    assert -90.0 <= w <= 90.0
    assert float(norm_lat_deg(w)) == w


@settings(max_examples=200, deadline=None)
@given(lats, lons)
def test_geohash_decode_contains_encoded_point(lat, lon):
    gh = geohash_encode_str([lat], [lon], 8)[0]
    min_x, max_x, min_y, max_y = (float(v[0]) for v in geohash_decode_bbox([gh]))
    # strict-> rule: the point lies in (min, max] per axis (or at world min)
    assert min_y <= lat <= max_y
    assert min_x <= lon <= max_x
    # prefix property: the level-4 prefix cell contains the level-8 cell
    p4 = geohash_encode_str([lat], [lon], 4)[0]
    assert gh.startswith(p4)


@settings(max_examples=200, deadline=None)
@given(lats, lons, lats, lons)
@example(1 / 3, 0.0, -1 / 3, 180.0)  # antipodal: rounding puts h a hair past 1
def test_distance_symmetry_and_identity(lat1, lon1, lat2, lon2):
    d_ab = float(distance_deg(lon1, lat1, lon2, lat2, "haversine"))
    d_ba = float(distance_deg(lon2, lat2, lon1, lat1, "haversine"))
    assert abs(d_ab - d_ba) < 1e-9
    assert float(distance_deg(lon1, lat1, lon1, lat1, "haversine")) == 0.0
    assert 0.0 <= d_ab <= 180.0 + 1e-9


coords = st.tuples(lons, lons, lats, lats)


def _rect(t):
    x1, x2, y1, y2 = t
    return min(x1, x2), max(x1, x2), min(y1, y2), max(y1, y2)


@settings(max_examples=200, deadline=None)
@given(coords, coords)
def test_rect_relate_transpose_involution(a, b):
    ax1, ax2, ay1, ay2 = _rect(a)
    bx1, bx2, by1, by2 = _rect(b)
    ab = int(rect_relate_rect(ax1, ax2, ay1, ay2, bx1, bx2, by1, by2)[0])
    ba = int(rect_relate_rect(bx1, bx2, by1, by2, ax1, ax2, ay1, ay2)[0])
    if (ax1, ax2, ay1, ay2) == (bx1, bx2, by1, by2):
        # equal shapes prefer CONTAINS in BOTH directions — the reference's
        # documented tie-break (SpatialRelation.cs:79), found by hypothesis
        assert ab == ba == CONTAINS
    else:
        assert ab == int(transpose(ba))


@settings(max_examples=200, deadline=None)
@given(coords, lons, lats)
def test_rect_contains_point_consistent_with_relate(r, px, py):
    x1, x2, y1, y2 = _rect(r)
    inside = bool(rect_contains_point(x1, x2, y1, y2, px, py)[0])
    # a rect CONTAINS the degenerate point-rect iff it contains the point
    rel = int(rect_relate_rect(x1, x2, y1, y2, px, px, py, py)[0])
    if inside:
        assert rel in (CONTAINS,)
    else:
        assert rel == DISJOINT


# --- clustered-storage cover ranges (io/clustered.py) ---------------------

from spatial4n_spark.io.clustered import _merge_ranges, cover_ranges
from spatial4n_spark.kernels.polygon import Circle as _CircleCR
from spatial4n_spark.kernels.s2cell import s2_encode as _s2_encode_cr


@settings(max_examples=60, deadline=None)
@given(
    st.floats(-179.9, 179.9),
    st.floats(-85.0, 85.0),
    st.floats(0.05, 30.0),
    st.integers(0, 2**32 - 1),
)
def test_cover_ranges_sound_for_random_circles(qlon, qlat, r_deg, seed):
    """Soundness under random circles: every point inside the circle
    (euclidean-deg inside implies geo inside, since angular <= euclidean
    in degrees) has its fine cell inside the ranges — range coalescing
    and the retry-coarsen loop may only WIDEN the candidate set."""
    import numpy as np

    L = 14
    circle = _CircleCR(float(qlon), float(qlat), float(r_deg), geo=True)
    ranges = cover_ranges(circle, L, max_ranges=16)
    assert ranges == sorted(ranges)
    assert all(lo <= hi for lo, hi in ranges)

    rng = np.random.default_rng(seed)
    # sample inside the circle (euclidean in degrees => inside geo circle)
    t = rng.uniform(0.0, 2 * np.pi, 256)
    rad = np.sqrt(rng.uniform(0.0, 1.0, 256)) * r_deg * 0.999
    lon = ((qlon + rad * np.cos(t) + 180.0) % 360.0) - 180.0
    lat = np.clip(qlat + rad * np.sin(t), -89.999, 89.999)
    # only keep true euclidean-inside samples (lon wrap/lat clip distort)
    inside = ((lon - qlon) ** 2 + (lat - qlat) ** 2) <= r_deg**2
    if not inside.any():
        return
    fine = _s2_encode_cr(lat[inside], lon[inside], L)
    lo = np.array([a for a, _ in ranges], dtype=np.int64)
    hi = np.array([b for _, b in ranges], dtype=np.int64)
    in_ranges = ((fine[:, None] >= lo[None, :]) & (fine[:, None] <= hi[None, :])).any(1)
    assert in_ranges.all()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 1000), st.integers(0, 200)), max_size=20))
def test_merge_ranges_preserves_membership(pairs):
    ranges = [(lo, lo + w) for lo, w in pairs]
    merged = _merge_ranges(ranges)
    # sorted, disjoint, non-adjacent
    assert all(
        merged[i][1] + 1 < merged[i + 1][0] for i in range(len(merged) - 1)
    )
    # membership is exactly preserved
    member = set()
    for lo, hi in ranges:
        member.update(range(lo, hi + 1))
    merged_member = set()
    for lo, hi in merged:
        merged_member.update(range(lo, hi + 1))
    assert merged_member == member
