"""Radius (distance) join: points within R km of query centers.

A cover join (the core ``operators.spatial_join`` describes): each
query circle is covered by the backend's pole/dateline-aware planner
(``CellIndexBackend.cover_stage``: one ``mapInPandas`` stage over the
queries, rows ``(cell, query_id, full)`` + the circle), the points
equi-join the cover on their cell, and the exact phase is the native
haversine predicate (CircleImpl.Contains :94-97 as Catalyst
expressions), which no null or non-finite point passes. ``radius_join``
takes a driver list and wraps ``radius_join_df``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from spatial4n_spark.cellindex import cell_backend
from spatial4n_spark.functions.native import haversine_km, within_radius_km
from spatial4n_spark.kernels.distance import km_to_deg
from spatial4n_spark.kernels.polygon import Circle
from spatial4n_spark.operators.knn import _local_frame


def radius_join(
    points: DataFrame,
    queries: list[tuple[str, float, float, float]],
    lon: str = "lon",
    lat: str = "lat",
    level: int = 3,
    with_distance: bool = True,
    index: str = "geohash",
) -> DataFrame:
    """``radius_join_df`` for a driver list
    ``[(query_id, qlon, qlat, radius_km)]``, held as a LocalRelation
    (building it runs no Spark job). Returns point columns + query_id
    (+ dist_km)."""
    qdf = _local_frame(
        points.sparkSession,
        list(queries),
        StructType.fromDDL("query_id string, qlon double, qlat double, radius_km double"),
    )
    return radius_join_df(
        points, qdf, lon, lat, level=level, with_distance=with_distance, index=index
    )


def radius_join_df(
    points: DataFrame,
    queries: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    query_id: str = "query_id",
    qlon: str = "qlon",
    qlat: str = "qlat",
    radius_km: str = "radius_km",
    level: int = 3,
    with_distance: bool = True,
    index: str = "geohash",
    broadcast_cover: bool = True,
) -> DataFrame:
    """Points within ``radius_km`` of each query circle, the circles a
    DataFrame — nothing per-query on the driver, so a 10^6-circle batch
    (geofence sets, per-entity alert radii) plans exactly like the
    4-circle gate.

    The cover runs DISTRIBUTED; the fact side joins on the cell key —
    broadcast while the cover is small (``broadcast_cover``), the
    standard shuffle-by-cell plan with AQE skew handling when a big
    query set makes the cover big. ``index`` picks the candidate cell
    scheme ("geohash" / "s2" / "h3"); the exact haversine predicate is
    the same, so results are index-invariant (pytest-pinned across
    backends). Returns point columns + query_id (+ dist_km).
    """
    backend = cell_backend(index)

    def circles_of(pdf):
        for q, x, y, r in zip(
            pdf[query_id].astype(str),
            pdf[qlon].astype(float),
            pdf[qlat].astype(float),
            pdf[radius_km].astype(float),
        ):
            yield q, Circle(x, y, float(km_to_deg(r)), geo=True), (x, y, r)

    cover_df = backend.cover_stage(
        queries, circles_of, "query_id", "_qlon double, _qlat double, _rkm double", level
    ).drop("_full")
    if broadcast_cover:
        cover_df = F.broadcast(cover_df)
    pts = points.withColumn("_cell", backend.udf(level)(F.col(lat), F.col(lon)))
    cand = pts.join(cover_df, "_cell")
    out = cand.where(within_radius_km(F.col(lon), F.col(lat), "_qlon", "_qlat", "_rkm"))
    if with_distance:
        out = out.withColumn(
            "dist_km", haversine_km(F.col(lon), F.col(lat), "_qlon", "_qlat")
        )
    return out.drop("_cell", "_qlon", "_qlat", "_rkm")
