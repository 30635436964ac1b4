"""Arrow-vectorized pandas UDFs wrapping the numpy kernels.

Every UDF here processes whole Arrow batches through numpy — no per-row
Python (BASELINE.json input_hint requirement). UDFs are the slow path by
design (SURVEY.md §4): only operations Catalyst cannot express natively
live here (geohash strings, exact PIP refinement, WKT relate).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def geohash_udf(precision: int = 12):
    """(lat, lon) -> geohash string at a fixed precision (vectorized).

    Marked non-deterministic although it is pure: when the cell column
    feeds an equi-join, Catalyst's inferred isnotnull(join key) filter
    otherwise duplicates the UDF into a second ArrowEvalPython node and
    every row pays the encode twice (verified via explain: 2 nodes -> 1).
    The flag forbids the duplication; the function's actual determinism
    means task retries still produce identical results.
    """
    from spatial4n_spark.kernels.geohash import geohash_encode

    @F.pandas_udf(StringType())
    def _encode(lat: pd.Series, lon: pd.Series) -> pd.Series:
        h = geohash_encode(lat.to_numpy(np.float64), lon.to_numpy(np.float64), precision)
        return pd.Series(h).str.decode("ascii")

    return _encode.asNondeterministic()


def geohash_bbox_udf():
    """geohash -> struct(min_x, max_x, min_y, max_y) (vectorized)."""
    from spatial4n_spark.kernels.geohash import geohash_decode_bbox

    schema = StructType(
        [
            StructField("min_x", DoubleType()),
            StructField("max_x", DoubleType()),
            StructField("min_y", DoubleType()),
            StructField("max_y", DoubleType()),
        ]
    )

    @F.pandas_udf(schema)
    def _decode(cell: pd.Series) -> pd.DataFrame:
        min_x, max_x, min_y, max_y = geohash_decode_bbox(cell.to_numpy())
        return pd.DataFrame({"min_x": min_x, "max_x": max_x, "min_y": min_y, "max_y": max_y})

    return _decode


def pip_udf(polys_by_id: dict, geo: bool = True):
    """(lon, lat, poly_id) -> covered boolean, batched per polygon id.

    ``polys_by_id`` maps poly_id -> Polygon/MultiPolygon (driver-side dict,
    captured in the closure; Spark broadcasts it with the serialized task —
    the polygon layer is the small/broadcast side of the join by design).
    Within each Arrow batch, points are grouped by poly_id so each polygon
    runs one vectorized covers test (SURVEY.md §2.2 polygon x point;
    ``kernels.polygon.points_covered_by_key``). Any shape
    ``points_covered`` takes works, buffered routes included.
    """
    from spatial4n_spark.kernels.polygon import points_covered_by_key

    @F.pandas_udf(BooleanType())
    def _pip(lon: pd.Series, lat: pd.Series, poly_id: pd.Series) -> pd.Series:
        return pd.Series(
            points_covered_by_key(
                lon.to_numpy(np.float64), lat.to_numpy(np.float64),
                poly_id.to_numpy(), polys_by_id.get, geo,
            )
        )

    return _pip


def relate_wkt_udf(geo: bool = True, calculator: str = "haversine"):
    """(wkt_a, wkt_b) -> relation name string.

    Driver for golden-vector conformance at DataFrame level; parses each
    distinct WKT once per batch.
    """
    from spatial4n_spark.io import parse_wkt
    from spatial4n_spark.kernels.relate import relate
    from spatial4n_spark.relation import rel_name

    @F.pandas_udf(StringType())
    def _relate(wkt_a: pd.Series, wkt_b: pd.Series) -> pd.Series:
        cache: dict[str, object] = {}

        def shape_of(w):
            s = cache.get(w)
            if s is None:
                s = cache[w] = parse_wkt(w, geo)
            return s

        out = [str(rel_name(relate(shape_of(a), shape_of(b), geo, calculator))) for a, b in zip(wkt_a, wkt_b)]
        return pd.Series(out)

    return _relate


def relate_bbox_udf(geo: bool = True):
    """(aminx..amaxy, bminx..bmaxy) -> relation name of rect A vs rect B.

    Arrow-vectorized twin of kernels.bbox.rect_relate_rect
    (RectangleImpl.cs:231-254) — the bbox-relate join predicate.
    """
    from spatial4n_spark.kernels.bbox import rect_relate_rect
    from spatial4n_spark.relation import rel_name

    @F.pandas_udf(StringType())
    def _rel(
        aminx: pd.Series, amaxx: pd.Series, aminy: pd.Series, amaxy: pd.Series,
        bminx: pd.Series, bmaxx: pd.Series, bminy: pd.Series, bmaxy: pd.Series,
    ) -> pd.Series:
        r = rect_relate_rect(
            aminx.to_numpy(np.float64), amaxx.to_numpy(np.float64),
            aminy.to_numpy(np.float64), amaxy.to_numpy(np.float64),
            bminx.to_numpy(np.float64), bmaxx.to_numpy(np.float64),
            bminy.to_numpy(np.float64), bmaxy.to_numpy(np.float64),
            geo=geo,
        )
        return pd.Series(rel_name(r))

    return _rel


def circle_bbox_udf():
    """(lon, lat, radius_deg) -> struct(min_x, max_x, min_y, max_y).

    Vectorized DistanceUtils.CalcBoxByDistFromPtDEG (DistanceUtils.cs:328-394)
    — the kNN/radius candidate generator, pole/dateline aware.
    """
    from spatial4n_spark.kernels.circle import circle_bbox

    schema = StructType(
        [
            StructField("min_x", DoubleType()),
            StructField("max_x", DoubleType()),
            StructField("min_y", DoubleType()),
            StructField("max_y", DoubleType()),
        ]
    )

    @F.pandas_udf(schema)
    def _bbox(lon: pd.Series, lat: pd.Series, r: pd.Series) -> pd.DataFrame:
        min_x, max_x, min_y, max_y = circle_bbox(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), r.to_numpy(np.float64)
        )
        return pd.DataFrame({"min_x": min_x, "max_x": max_x, "min_y": min_y, "max_y": max_y})

    return _bbox


def rect_buffer_udf(geo: bool = True):
    """(min_x, max_x, min_y, max_y, dist) -> buffered rect struct.

    Vectorized RectangleImpl.GetBuffered (RectangleImpl.cs:83-124) —
    pole-touch world wrap, lon skew expansion, full-wrap check.
    """
    from spatial4n_spark.kernels.area import rect_buffer

    schema = StructType(
        [
            StructField("min_x", DoubleType()),
            StructField("max_x", DoubleType()),
            StructField("min_y", DoubleType()),
            StructField("max_y", DoubleType()),
        ]
    )

    @F.pandas_udf(schema)
    def _buf(
        min_x: pd.Series, max_x: pd.Series, min_y: pd.Series, max_y: pd.Series, dist: pd.Series
    ) -> pd.DataFrame:
        ox1, ox2, oy1, oy2 = rect_buffer(
            min_x.to_numpy(np.float64), max_x.to_numpy(np.float64),
            min_y.to_numpy(np.float64), max_y.to_numpy(np.float64),
            dist.to_numpy(np.float64), geo=geo,
        )
        return pd.DataFrame({"min_x": ox1, "max_x": ox2, "min_y": oy1, "max_y": oy2})

    return _buf


def point_on_bearing_udf():
    """(lon, lat, dist_deg, bearing_deg) -> struct(lon2, lat2) degrees.

    Vectorized DistanceUtils.PointOnBearingRAD (DistanceUtils.cs:224-288):
    spherical direct problem + lon/lat normalization.
    """
    from spatial4n_spark.kernels.distance import (
        DEG_TO_RAD,
        RAD_TO_DEG,
        point_on_bearing_rad_portable,
    )

    schema = StructType([StructField("lon2", DoubleType()), StructField("lat2", DoubleType())])

    @F.pandas_udf(schema)
    def _dest(
        lon: pd.Series, lat: pd.Series, dist: pd.Series, bearing: pd.Series
    ) -> pd.DataFrame:
        # portable-trig chain: bit-identical to the DuckDB oracle's
        # mirrored SQL, so the gate emits full unrounded doubles
        lat2, lon2 = point_on_bearing_rad_portable(
            lat.to_numpy(np.float64) * DEG_TO_RAD,
            lon.to_numpy(np.float64) * DEG_TO_RAD,
            dist.to_numpy(np.float64) * DEG_TO_RAD,
            bearing.to_numpy(np.float64) * DEG_TO_RAD,
        )
        return pd.DataFrame({"lon2": lon2 * RAD_TO_DEG, "lat2": lat2 * RAD_TO_DEG})

    return _dest


def dist_km_udf(calculator: str = "haversine"):
    """(lon1, lat1, lon2, lat2) -> km for a configurable calculator.

    The pluggable-IDistanceCalculator surface (DistanceCalculator.cs:23-63):
    haversine / lawofcosines / vincenty, all Arrow-vectorized.
    """
    from spatial4n_spark.kernels.distance import deg_to_km, distance_deg

    @F.pandas_udf(DoubleType())
    def _dist(lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series) -> pd.Series:
        d = deg_to_km(
            distance_deg(
                lon1.to_numpy(np.float64),
                lat1.to_numpy(np.float64),
                lon2.to_numpy(np.float64),
                lat2.to_numpy(np.float64),
                calculator,
            )
        )
        return pd.Series(d)

    return _dist


def haversine_km_udf():
    """Vectorized kernel twin of functions.native.haversine_km (for parity tests)."""
    from spatial4n_spark.kernels.distance import deg_to_km, distance_deg

    @F.pandas_udf(DoubleType())
    def _dist(lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series) -> pd.Series:
        d = deg_to_km(
            distance_deg(
                lon1.to_numpy(np.float64),
                lat1.to_numpy(np.float64),
                lon2.to_numpy(np.float64),
                lat2.to_numpy(np.float64),
                "haversine",
            )
        )
        return pd.Series(d)

    return _dist


def s2_udf(level: int = 12):
    """(lat, lon) -> S2-style cell id (int64) at a fixed level (vectorized).

    Second cell-index backend behind the generic cell-encode surface
    (SURVEY §2.5); same asNondeterministic rationale as geohash_udf.
    """
    from spatial4n_spark.kernels.s2cell import s2_encode

    @F.pandas_udf(LongType())
    def _encode(lat: pd.Series, lon: pd.Series) -> pd.Series:
        c = s2_encode(lat.to_numpy(np.float64), lon.to_numpy(np.float64), level)
        return pd.Series(c)

    return _encode.asNondeterministic()


def s2_center_udf(level: int = 12):
    """S2 cell id -> struct(clat, clon): unrounded ST-center degrees."""
    from spatial4n_spark.kernels.s2cell import s2_decode_center

    schema = StructType(
        [StructField("clat", DoubleType()), StructField("clon", DoubleType())]
    )

    @F.pandas_udf(schema)
    def _decode(cell: pd.Series) -> pd.DataFrame:
        clat, clon = s2_decode_center(cell.to_numpy(np.int64), level)
        return pd.DataFrame({"clat": clat, "clon": clon})

    return _decode


def h3_udf(level: int = 7):
    """(lat, lon) -> H3-style hex cell id (int64) at a fixed level
    (vectorized).

    Third cell-index backend behind the generic cell-encode surface
    (SURVEY §2.5, kernels/h3cell.py); same asNondeterministic rationale
    as geohash_udf.
    """
    from spatial4n_spark.kernels.h3cell import h3_encode

    @F.pandas_udf(LongType())
    def _encode(lat: pd.Series, lon: pd.Series) -> pd.Series:
        c = h3_encode(lat.to_numpy(np.float64), lon.to_numpy(np.float64), level)
        return pd.Series(c)

    return _encode.asNondeterministic()


def h3_center_udf(level: int = 7):
    """Hex cell id -> struct(clat, clon): unrounded hex-center degrees."""
    from spatial4n_spark.kernels.h3cell import h3_decode_center

    schema = StructType(
        [StructField("clat", DoubleType()), StructField("clon", DoubleType())]
    )

    @F.pandas_udf(schema)
    def _decode(cell: pd.Series) -> pd.DataFrame:
        clat, clon = h3_decode_center(cell.to_numpy(np.int64), level)
        return pd.DataFrame({"clat": clat, "clon": clon})

    return _decode


def pnorm_dist_udf(power: float, quirks: bool = True):
    """(vec1: array<double/float>, vec2) -> p-norm distance per row.

    Arrow-vectorized wrapper over kernels.distance.vector_distance
    (reference DistanceUtils.VectorDistance, DistanceUtils.cs:123-179) for
    embedding columns; power=2 is the Euclidean hot path, power=1
    Manhattan, 0 Hamming-count, inf Chebyshev (see the kernel docstring
    for the reference's quirky inf/odd-power folds and the
    ``quirks=False`` corrected mode).
    """
    from spatial4n_spark.kernels.distance import vector_distance

    @F.pandas_udf(DoubleType())
    def _pnorm(v1: pd.Series, v2: pd.Series) -> pd.Series:
        n = len(v1)
        if n == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        l1, l2 = v1.to_list(), v2.to_list()
        # NULL vectors -> NaN rows; compute only over the valid subset so a
        # single NULL can't fail the whole Arrow batch with a ragged-array
        # error, and so zero-length vectors (shape (n,0)) keep row alignment
        valid = np.fromiter(
            (a is not None and b is not None for a, b in zip(l1, l2)),
            dtype=bool,
            count=n,
        )
        out = np.full(n, np.nan)
        if valid.any():
            idx = np.nonzero(valid)[0]
            a = np.asarray([l1[i] for i in idx], dtype=np.float64)
            b = np.asarray([l2[i] for i in idx], dtype=np.float64)
            out[valid] = vector_distance(a, b, power, quirks=quirks)
        return pd.Series(out)

    return _pnorm


def geodesic_m_udf(a: float | None = None, f: float | None = None):
    """(lon1, lat1, lon2, lat2) -> WGS84 ellipsoidal geodesic METERS
    (Vincenty inverse, kernels/geodesic.py) — beyond the reference's
    spherical calculator set, for real-geotag workloads where the
    sphere is off by up to ~0.5%.  Nearly-antipodal non-convergent
    pairs return NULL (NaN), never a plausible wrong number."""
    from spatial4n_spark.kernels.geodesic import (
        WGS84_A,
        WGS84_F,
        vincenty_inverse_m,
    )

    aa = WGS84_A if a is None else float(a)
    ff = WGS84_F if f is None else float(f)

    @F.pandas_udf(DoubleType())
    def _dist(lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series) -> pd.Series:
        d, _ = vincenty_inverse_m(
            lat1.to_numpy(np.float64),
            lon1.to_numpy(np.float64),
            lat2.to_numpy(np.float64),
            lon2.to_numpy(np.float64),
            a=aa,
            f=ff,
        )
        return pd.Series(d)

    return _dist
