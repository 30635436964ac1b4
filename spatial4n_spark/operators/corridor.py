"""Corridor (trajectory) join: points within a buffered polyline.

A cover join (the core ``operators.spatial_join`` describes) with the
routes as its shapes: per route, build the BufLineString with the
reference's longitude-skew buffer expansion, cover it with geohash
cells (``CellIndexBackend.cover_rows``), broadcast the cover, and refine
boundary-cell candidates through ``pip_udf`` (``points_covered`` runs the
vectorized two-line containment kernel for a route). The points side
never shuffles; a point with a null or non-finite coordinate is never a
candidate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from spatial4n_spark.cellindex import cell_backend
from spatial4n_spark.functions.native import is_finite
from spatial4n_spark.functions.udfs import pip_udf
from spatial4n_spark.kernels.bufline import BufLineString
from spatial4n_spark.kernels.distance import km_to_deg
from spatial4n_spark.operators.knn import _local_frame


def _route_shapes(routes) -> dict[str, BufLineString]:
    out = {}
    for route_id, coords, buf_km in routes:
        buf_deg = float(km_to_deg(buf_km))
        out[route_id] = BufLineString(coords, buf_deg, expand_geo_skew=True)
    return out


def corridor_join(
    points: DataFrame,
    routes: list[tuple[str, list, float]],
    lon: str = "lon",
    lat: str = "lat",
    level: int = 3,
) -> DataFrame:
    """``routes``: [(route_id, [(lon, lat), ...], buffer_km)].

    Returns the points' columns + ``route_id`` for points inside the
    buffered corridor.
    """
    backend = cell_backend("geohash")
    shapes = _route_shapes(routes)
    cover_df = _local_frame(
        points.sparkSession,
        [row for rid, shape in shapes.items() for row in backend.cover_rows(rid, shape, level)],
        backend.cover_schema("route_id"),
    )
    pts = points.where(is_finite(lon) & is_finite(lat)).withColumn(
        "_cell", backend.udf(level)(F.col(lat), F.col(lon))
    )
    cand = pts.join(F.broadcast(cover_df), "_cell")
    inside = pip_udf(shapes)
    out = cand.where(F.col("_full") | inside(F.col(lon), F.col(lat), F.col("route_id")))
    return out.drop("_cell", "_full")
