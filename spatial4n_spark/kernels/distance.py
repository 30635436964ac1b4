"""Great-circle and cartesian distance kernels (numpy-vectorized).

Formulas and constants match reference
``src/Spatial4n/Distance/DistanceUtils.cs``:
- earth mean radius 6371.0087714 km (:60) — oracle distances depend on it
- haversine (:512-524), law-of-cosines (:537-564), spherical Vincenty
  (:574-593), each with the same-point zero shortcut
- point-on-bearing (:224-288), unit conversions (:599-648)

All angles are radians unless the name says DEG; distances between
lat/lon points are returned in *degrees of arc* by ``distance_deg`` (the
reference's native distance unit, Circle.cs:33-37) and converted to km by
``deg_to_km``.
"""

from __future__ import annotations

import numpy as np

from spatial4n_spark.kernels.norm import norm_lat_deg, norm_lon_deg

EARTH_MEAN_RADIUS_KM = 6371.0087714  # DistanceUtils.cs:60
EARTH_EQUATORIAL_RADIUS_KM = 6378.1370  # DistanceUtils.cs:61
DEG_TO_RAD = np.pi / 180.0
RAD_TO_DEG = 180.0 / np.pi


def dist_haversine_rad(lat1, lon1, lat2, lon2):
    """Haversine great-circle distance, radians in/out. DistanceUtils.cs:512-524."""
    lat1, lon1, lat2, lon2 = (np.asarray(a, dtype=np.float64) for a in (lat1, lon1, lat2, lon2))
    hsin_x = np.sin((lon1 - lon2) * 0.5)
    hsin_y = np.sin((lat1 - lat2) * 0.5)
    h = hsin_y * hsin_y + np.cos(lat1) * np.cos(lat2) * hsin_x * hsin_x
    # rounding can push h a hair past 1 at the antipode: sqrt(1 - h) = NaN
    h = np.minimum(h, 1.0)
    d = 2.0 * np.arctan2(np.sqrt(h), np.sqrt(1.0 - h))
    return np.where((lat1 == lat2) & (lon1 == lon2), 0.0, d)


def dist_law_of_cosines_rad(lat1, lon1, lat2, lon2):
    """Law-of-cosines distance, radians in/out. DistanceUtils.cs:537-564."""
    lat1, lon1, lat2, lon2 = (np.asarray(a, dtype=np.float64) for a in (lat1, lon1, lat2, lon2))
    half_pi = np.pi / 2.0
    a = half_pi - lat1
    c = half_pi - lat2
    cos_b = np.cos(a) * np.cos(c) + np.sin(a) * np.sin(c) * np.cos(lon2 - lon1)
    d = np.where(cos_b < -1.0, np.pi, np.where(cos_b >= 1.0, 0.0, np.arccos(np.clip(cos_b, -1.0, 1.0))))
    return np.where((lat1 == lat2) & (lon1 == lon2), 0.0, d)


def dist_vincenty_rad(lat1, lon1, lat2, lon2):
    """Spherical Vincenty distance — accurate for all pairs. DistanceUtils.cs:574-593."""
    lat1, lon1, lat2, lon2 = (np.asarray(a, dtype=np.float64) for a in (lat1, lon1, lat2, lon2))
    cos_lat1, cos_lat2 = np.cos(lat1), np.cos(lat2)
    sin_lat1, sin_lat2 = np.sin(lat1), np.sin(lat2)
    d_lon = lon2 - lon1
    cos_dlon, sin_dlon = np.cos(d_lon), np.sin(d_lon)
    a = cos_lat2 * sin_dlon
    b = cos_lat1 * sin_lat2 - sin_lat1 * cos_lat2 * cos_dlon
    c = sin_lat1 * sin_lat2 + cos_lat1 * cos_lat2 * cos_dlon
    d = np.arctan2(np.sqrt(a * a + b * b), c)
    return np.where((lat1 == lat2) & (lon1 == lon2), 0.0, d)


def dist_cartesian(x1, y1, x2, y2, squared: bool = False):
    """Euclidean distance; squared mode skips the sqrt for ordering-only use.

    CartesianDistCalc.cs:29-65.
    """
    dx = np.asarray(x2, dtype=np.float64) - np.asarray(x1, dtype=np.float64)
    dy = np.asarray(y2, dtype=np.float64) - np.asarray(y1, dtype=np.float64)
    d2 = dx * dx + dy * dy
    return d2 if squared else np.sqrt(d2)


_GEO_CALCULATORS = {
    "haversine": dist_haversine_rad,
    "lawofcosines": dist_law_of_cosines_rad,
    "vincenty": dist_vincenty_rad,
}


def distance_deg(lon1, lat1, lon2, lat2, calculator: str = "haversine"):
    """Distance between degree lat/lon points, in degrees of arc.

    Matches GeodesicSphereDistCalc.cs:109-118 (deg->rad, formula, rad->deg)
    for geo calculators; 'cartesian' treats inputs as plane coordinates.
    """
    if calculator == "cartesian":
        return dist_cartesian(lon1, lat1, lon2, lat2)
    fn = _GEO_CALCULATORS[calculator]
    d_rad = fn(
        np.asarray(lat1, dtype=np.float64) * DEG_TO_RAD,
        np.asarray(lon1, dtype=np.float64) * DEG_TO_RAD,
        np.asarray(lat2, dtype=np.float64) * DEG_TO_RAD,
        np.asarray(lon2, dtype=np.float64) * DEG_TO_RAD,
    )
    return d_rad * RAD_TO_DEG


def deg_to_km(deg, radius_km: float = EARTH_MEAN_RADIUS_KM):
    """Degrees of arc -> distance in radius units. DistanceUtils.cs:599-626."""
    return np.asarray(deg, dtype=np.float64) * DEG_TO_RAD * radius_km


def km_to_deg(km, radius_km: float = EARTH_MEAN_RADIUS_KM):
    return np.asarray(km, dtype=np.float64) / radius_km * RAD_TO_DEG


def point_on_bearing_cartesian(x, y, dist, bearing_deg):
    """Euclidean destination point: x + sin(b)*d, y + cos(b)*d.

    CartesianDistCalc.PointOnBearing (CartesianDistCalc.cs:80-107);
    dist == 0 returns the start point exactly (the reference's shortcut).
    Vectorized; bearing in degrees clockwise from +y (north)."""
    x, y, dist, bearing_deg = (
        np.asarray(a, dtype=np.float64) for a in (x, y, dist, bearing_deg)
    )
    b = bearing_deg * DEG_TO_RAD
    out_x = np.where(dist == 0.0, x, x + np.sin(b) * dist)
    out_y = np.where(dist == 0.0, y, y + np.cos(b) * dist)
    return out_x, out_y


def point_on_bearing_rad(lat, lon, dist_rad, bearing_rad):
    """Destination point given start, angular distance, and bearing.

    All args/results in radians. DistanceUtils.cs:224-288 (standard
    spherical direct formula + lat/lon normalization).
    Returns (lat2, lon2) in radians, lon wrapped to [-pi, pi].
    """
    lat, lon, dist_rad, bearing_rad = (
        np.asarray(a, dtype=np.float64) for a in (lat, lon, dist_rad, bearing_rad)
    )
    sin_lat2 = np.sin(lat) * np.cos(dist_rad) + np.cos(lat) * np.sin(dist_rad) * np.cos(bearing_rad)
    lat2 = np.arcsin(np.clip(sin_lat2, -1.0, 1.0))
    lon2 = lon + np.arctan2(
        np.sin(bearing_rad) * np.sin(dist_rad) * np.cos(lat),
        np.cos(dist_rad) - np.sin(lat) * sin_lat2,
    )
    lon2 = norm_lon_deg(lon2 * RAD_TO_DEG) * DEG_TO_RAD
    lat2 = norm_lat_deg(lat2 * RAD_TO_DEG) * DEG_TO_RAD
    return lat2, lon2


def point_on_bearing_rad_portable(lat, lon, dist_rad, bearing_rad):
    """``point_on_bearing_rad`` computed with engine-portable trig
    (kernels.ptrig): the same formula chain, but every trig value is the
    SAME double the DuckDB oracle's mirrored SQL produces — so the gate
    output needs no defensive rounding (which the sf1 sweep showed flips
    a 1e-4 quantum on ~1-in-400k rows under libm-vs-libm drift). Values
    agree with the libm version to ~4e-15."""
    from spatial4n_spark.kernels.ptrig import pasin, patan2, pcos, psin

    lat, lon, dist_rad, bearing_rad = (
        np.asarray(a, dtype=np.float64) for a in (lat, lon, dist_rad, bearing_rad)
    )
    sin_lat = psin(lat)
    cos_lat = pcos(lat)
    sin_d = psin(dist_rad)
    cos_d = pcos(dist_rad)
    sin_b = psin(bearing_rad)
    cos_b = pcos(bearing_rad)
    sin_lat2 = sin_lat * cos_d + cos_lat * sin_d * cos_b
    lat2 = pasin(np.clip(sin_lat2, -1.0, 1.0))
    lon2 = lon + patan2(sin_b * sin_d * cos_lat, cos_d - sin_lat * sin_lat2)
    lon2 = norm_lon_deg(lon2 * RAD_TO_DEG) * DEG_TO_RAD
    lat2 = norm_lat_deg(lat2 * RAD_TO_DEG) * DEG_TO_RAD
    return lat2, lon2


def vector_distance(vec1, vec2, power, quirks: bool = True):
    """p-norm distance between vectors — DistanceUtils.VectorDistance
    (DistanceUtils.cs:123-179; marked Obsolete in the reference but kept
    for inventory parity).

    Accepts single vectors ``(d,)`` or batches ``(n, d)`` and returns a
    scalar / length-n array. Powers: 0 counts differing components
    (Hamming), 1 is Manhattan, 2 is Euclidean (sqrt of
    DistSquaredCartesian, :493), inf is the L-infinity norm, anything
    else the general Lp fold.

    ``quirks=True`` (default) reproduces the reference bit-for-bit,
    including its two documented oddities:

    - the infinity branch folds ``max(result, max(v1[i], v2[i]))`` —
      the per-component DIFFERENCE is ignored (DistanceUtils.cs:166-170);
    - the general-p branch raises the SIGNED difference to ``power``
      without an abs (:173-177), so odd powers can cancel and fractional
      powers of negative diffs yield NaN.

    ``quirks=False`` computes the mathematically standard Lp distance
    (abs diffs; L-inf = max |diff|) for callers who want the corrected
    metric rather than reference parity.
    """
    v1 = np.atleast_2d(np.asarray(vec1, dtype=np.float64))
    v2 = np.atleast_2d(np.asarray(vec2, dtype=np.float64))
    if v1.shape != v2.shape:
        raise ValueError(f"vector shapes differ: {v1.shape} vs {v2.shape}")
    diff = v1 - v2
    scalar_in = np.asarray(vec1).ndim == 1
    if power == 0:
        out = np.count_nonzero(diff, axis=1).astype(np.float64)
    elif power == 1.0:
        out = np.abs(diff).sum(axis=1)
    elif power == 2.0:
        out = np.sqrt((diff * diff).sum(axis=1))
    elif np.isinf(power) or power == 2**31 - 1:  # int.MaxValue sentinel
        # initial=0.0 mirrors the reference's fold seed (``double result = 0``
        # then Math.Max(result, ...)): the output is floored at 0 for
        # all-negative inputs and defined (0.0) for zero-length vectors.
        if quirks:
            out = np.maximum(v1, v2).max(axis=1, initial=0.0)  # reference :166-170
        else:
            out = np.abs(diff).max(axis=1, initial=0.0)
    else:
        base = diff if quirks else np.abs(diff)
        with np.errstate(invalid="ignore"):  # quirky signed fold can NaN by design
            out = np.power(np.power(base, power).sum(axis=1), 1.0 / power)
    return float(out[0]) if scalar_in else out
