"""Native Catalyst column expressions for the hot-path spatial predicates.

These stay entirely JVM-side (whole-stage codegen, pushdown-eligible) — the
reference's scalar kernels re-expressed as Spark SQL expression trees:

- ``haversine_km``: DistanceUtils.DistHaversineRAD (DistanceUtils.cs:512-524)
  with the same atan2 form and earth radius 6371.0087714 (:60).
- ``rect_contains_point``: RectangleImpl.Relate(IPoint) (:190-228) — lat
  band check plus dateline unwrap of the point by +/-360.
- ``cell_id_int``: integer lat/lon binning at 2^level resolution (the
  SQL-expressible tile id used for oracle-checked tile aggregation; geohash
  string cells are the UDF variant in ``functions.udfs``).

Per SURVEY.md §4.1: expressing the bbox phase natively lets Catalyst push
it into the parquet/Iceberg scan so the exact-kernel UDFs only see
survivors.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_MEAN_RADIUS_KM = 6371.0087714


def _c(x) -> Column:
    return x if isinstance(x, Column) else (F.col(x) if isinstance(x, str) else F.lit(x))


def haversine_km(lon1, lat1, lon2, lat2) -> Column:
    """Great-circle distance in km, pure Catalyst (no UDF)."""
    lon1, lat1, lon2, lat2 = (F.radians(_c(v)) for v in (lon1, lat1, lon2, lat2))
    hx = F.sin((lon1 - lon2) / 2)
    hy = F.sin((lat1 - lat2) / 2)
    h = hy * hy + F.cos(lat1) * F.cos(lat2) * hx * hx
    d = F.lit(2.0) * F.atan2(F.sqrt(h), F.sqrt(F.lit(1.0) - h)) * F.lit(EARTH_MEAN_RADIUS_KM)
    same = (lon1 == lon2) & (lat1 == lat2)
    return F.when(same, F.lit(0.0)).otherwise(d)


def haversine_deg(lon1, lat1, lon2, lat2) -> Column:
    """Great-circle distance in degrees of arc (the reference's native unit)."""
    return haversine_km(lon1, lat1, lon2, lat2) / F.lit(EARTH_MEAN_RADIUS_KM) * F.lit(180.0) / F.lit(3.141592653589793) * F.lit(1.0)


def rect_contains_point(min_x, max_x, min_y, max_y, lon, lat) -> Column:
    """Dateline-aware point-in-rect as a native boolean column.

    Equivalent to RectangleImpl.Relate(IPoint) (RectangleImpl.cs:190-228):
    unwrap a dateline-crossing rect (maxX += 360 when minX > maxX) and test
    the point at lon, lon+360, lon-360.
    """
    min_x, max_x, min_y, max_y, lon, lat = (_c(v) for v in (min_x, max_x, min_y, max_y, lon, lat))
    max_xu = F.when(max_x < min_x, max_x + F.lit(360.0)).otherwise(max_x)
    x_ok = (
        lon.between(min_x, max_xu)
        | (lon + F.lit(360.0)).between(min_x, max_xu)
        | (lon - F.lit(360.0)).between(min_x, max_xu)
    )
    return lat.between(min_y, max_y) & x_ok


def is_finite(x) -> Column:
    """False for NaN and +/-inf, null for null. Spark orders NaN above
    +inf, so one comparison rejects both."""
    return F.abs(_c(x)) < F.lit(float("inf"))


def within_radius_km(lon1, lat1, lon2, lat2, radius_km) -> Column:
    """The distance-join predicate: haversine <= r. CircleImpl.Contains (:94-97)."""
    return haversine_km(lon1, lat1, lon2, lat2) <= _c(radius_km)


def combine_relations_agg(rel) -> Column:
    """Aggregate form of SpatialRelation.Combine (SpatialRelation.cs:110-126)
    — the relation of a shape vs the UNION of a group of shapes, as a
    native grouped aggregate over per-member relation names.

    The sequential fold (same=>same; {DISJOINT,CONTAINS}=>CONTAINS; else
    INTERSECTS, with INTERSECTS absorbing) is order-insensitive, so it has
    this closed form over the distinct-value set: one distinct value =>
    that value; exactly {DISJOINT, CONTAINS} => CONTAINS; anything else
    => INTERSECTS. Native expressions only — usable in groupBy().agg().
    """
    rel = _c(rel)
    any_w = F.max((rel == "WITHIN").cast("int"))
    any_i = F.max((rel == "INTERSECTS").cast("int"))
    n_distinct = F.count_distinct(rel)
    return (
        F.when(n_distinct == 1, F.min(rel))
        .when((any_w == 0) & (any_i == 0), F.lit("CONTAINS"))
        .otherwise(F.lit("INTERSECTS"))
    )


RADIUS_DEG = 57.29577951308232  # 180/pi — sphere radius in degree units


def rect_width_deg(min_x, max_x) -> Column:
    """Dateline-aware rect width (RectangleImpl.cs:144-157), pure Catalyst."""
    min_x, max_x = _c(min_x), _c(max_x)
    w = max_x - min_x
    return F.when(w < 0, w + F.lit(360.0)).otherwise(w)


def rect_area_deg2(min_x, max_x, min_y, max_y) -> Column:
    """Geo rect area in square degrees, pure Catalyst.

    GeodesicSphereDistCalc.Area (GeodesicSphereDistCalc.cs:73-84):
    pi/180 * R^2 * |sin lat1 - sin lat2| * width.
    """
    min_y, max_y = _c(min_y), _c(max_y)
    const = 3.141592653589793 / 180.0 * RADIUS_DEG * RADIUS_DEG
    return (
        F.lit(const)
        * F.abs(F.sin(F.radians(min_y)) - F.sin(F.radians(max_y)))
        * rect_width_deg(min_x, max_x)
    )


def circle_area_deg2(radius_deg) -> Column:
    """Spherical-cap circle area (GeodesicSphereDistCalc.cs:87-95)."""
    r = _c(radius_deg)
    return (
        F.lit(2.0 * 3.141592653589793 * RADIUS_DEG * RADIUS_DEG)
        * (F.lit(1.0) - F.sin(F.radians(F.lit(90.0) - r)))
    )


def cell_id_int(lon, lat, level: int) -> Column:
    """Integer tile id from lat/lon binning at 2^level x 2^level resolution.

    SQL-expressible twin of the geohash cell (same subdivision structure,
    integer-keyed): cx = floor((lon+180)/360 * 2^level) clamped to the last
    bin at lon=180; cell = cx * 2^level + cy.
    """
    n = float(1 << level)
    lon, lat = _c(lon), _c(lat)
    cx = F.least(F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n)), F.lit(int(n) - 1))
    cy = F.least(F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(n)), F.lit(int(n) - 1))
    return (cx * F.lit(int(n)) + cy).cast("long")
