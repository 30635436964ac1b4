"""SpatialEngine — the user-facing facade (SpatialContext analog).

The reference's entry object is ``SpatialContext`` (factory + relate +
distance + IO, SpatialContext.cs:39-447); a user of the reference who
switches to this engine gets the same surface, Spark-shaped:

    engine = SpatialEngine(spark)                # geo, haversine
    engine.register()                            # SQL: s4n_* functions
    df = engine.tile_assign(points, level=5)
    joined = engine.spatial_join(points, engine.read_wkt_layer(layer_df))
    knn = engine.knn(points, [("q1", 2.35, 48.85)], k=10)

Scalar API (parse/relate/distance on driver-side shapes) wraps the same
kernels the distributed operators use, so a scalar answer and a join
answer can never disagree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from spatial4n_spark.context import SpatialCtx


class SpatialEngine:
    def __init__(self, spark: SparkSession, ctx: SpatialCtx | None = None):
        self.spark = spark
        self.ctx = ctx or SpatialCtx()

    # -- scalar surface (driver-side; same kernels as the operators) ------

    def read_wkt(self, wkt: str):
        """Parse WKT (incl. ENVELOPE / BUFFER extensions) to a shape."""
        from spatial4n_spark.io import parse_wkt

        return parse_wkt(wkt, geo=self.ctx.geo)

    def relate(self, shape_a, shape_b) -> str:
        from spatial4n_spark.kernels.relate import relate
        from spatial4n_spark.relation import rel_name

        return str(rel_name(relate(shape_a, shape_b, self.ctx.geo, self.ctx.calculator)))

    def distance_km(self, lon1, lat1, lon2, lat2) -> float:
        from spatial4n_spark.kernels.distance import deg_to_km, distance_deg

        return float(deg_to_km(distance_deg(lon1, lat1, lon2, lat2, self.ctx.calculator)))

    def buffer(self, shape, dist: float):
        """Shape.GetBuffered(dist, ctx) (Shape.cs:90): point -> circle,
        rect -> rect (RectangleImpl.cs:83-124), line -> buffered line,
        polygon/multipolygon -> predicate-exact BufferedPolygon
        (NtsGeometry.cs:203-211), circle -> circle with radius + dist."""
        from spatial4n_spark.kernels.polybuf import buffer_polygon
        from spatial4n_spark.kernels.polygon import (
            Circle,
            LineString,
            MultiPolygon,
            Point,
            Polygon,
            Rect,
        )

        if isinstance(shape, Point):
            return Circle(shape.x, shape.y, dist, geo=self.ctx.geo)
        if isinstance(shape, Circle):
            return Circle(shape.x, shape.y, shape.radius + dist, geo=shape.geo)
        if isinstance(shape, LineString):
            return LineString(shape.coords, buffer=shape.buffer + dist)
        if isinstance(shape, (Polygon, MultiPolygon, Rect)):
            return buffer_polygon(shape, dist, geo=self.ctx.geo)
        raise TypeError(f"GetBuffered: unsupported {type(shape).__name__}")

    def to_binary(self, shape) -> bytes:
        """Reference-layout binary codec (BinaryCodec.cs tag+payload)."""
        from spatial4n_spark.io.binary import shape_to_bytes

        return shape_to_bytes(shape, geo=self.ctx.geo)

    def from_binary(self, buf: bytes):
        from spatial4n_spark.io.binary import shape_from_bytes

        return shape_from_bytes(buf, geo=self.ctx.geo)

    def read_legacy(self, s: str):
        """Deprecated legacy string format (falls back to WKT when the
        string is letter-prefixed but not a Circle — the reference's
        caller contract)."""
        from spatial4n_spark.io.legacy import read_legacy

        shape = read_legacy(s, geo=self.ctx.geo)
        return shape if shape is not None else self.read_wkt(s)

    # -- layer ingestion --------------------------------------------------

    def read_wkt_layer(
        self,
        layer: DataFrame | list,
        id_col: str = "poly_id",
        wkt_col: str = "wkt",
        max_features: int = 100_000,
    ):
        """Parse a small polygon-layer table (driver-side) into the
        [(poly_id, shape)] broadcast form the joins take.

        The collect is HARD-CAPPED at ``max_features``: this surface
        exists only for broadcast-sized layers, and an unbounded collect
        here would silently turn a beyond-broadcast layer into driver
        OOM.  Past the cap, keep the layer AS a DataFrame and use
        ``spatial_join(points, layer_df)`` /
        ``spatial_join_points_polygons_df`` — the path whose layer side
        never touches the driver."""
        from spatial4n_spark.io import parse_wkt

        if isinstance(layer, DataFrame):
            rows = [
                (r[id_col], r[wkt_col])
                for r in layer.limit(max_features + 1).collect()
            ]
            if len(rows) > max_features:
                raise ValueError(
                    f"read_wkt_layer refuses to collect more than "
                    f"{max_features} features to the driver; keep the "
                    "layer distributed and use spatial_join(points, "
                    "layer_df) (spatial_join_points_polygons_df) instead"
                )
        else:
            rows = list(layer)
        return [(pid, parse_wkt(w, geo=self.ctx.geo) if isinstance(w, str) else w) for pid, w in rows]

    # -- distributed operators -------------------------------------------

    def tile_assign(self, points: DataFrame, level: int | None = None, **kw) -> DataFrame:
        from spatial4n_spark.operators.tiles import tile_assign

        return tile_assign(points, level or self.ctx.cell_level, **kw)

    def tile_stats(self, points: DataFrame, level: int | None = None, **kw) -> DataFrame:
        from spatial4n_spark.operators.tiles import tile_stats

        kw.setdefault("salt_buckets", self.ctx.salt_buckets)
        return tile_stats(points, level or self.ctx.cell_level, **kw)

    def spatial_join(self, points: DataFrame, polygons, level: int = 3, **kw) -> DataFrame:
        """PIP join. A list layer takes the broadcast-cover path; a
        DataFrame layer (poly_id, wkt) takes the partitioned-cover path
        for beyond-broadcast layer sizes."""
        if isinstance(polygons, DataFrame):
            from spatial4n_spark.operators.spatial_join import (
                spatial_join_points_polygons_df,
            )

            return spatial_join_points_polygons_df(
                points, polygons, level=level, geo=self.ctx.geo, **kw
            )
        from spatial4n_spark.operators.spatial_join import spatial_join_points_polygons

        return spatial_join_points_polygons(points, polygons, level=level, geo=self.ctx.geo, **kw)

    def radius_join(self, points: DataFrame, queries, **kw) -> DataFrame:
        from spatial4n_spark.operators.distance_join import radius_join

        return radius_join(points, queries, **kw)

    def knn(self, points: DataFrame, queries, k: int, **kw) -> DataFrame:
        """Exact kNN join from a driver-side [(query_id, lon, lat)] list
        or a query DataFrame. Whenever queries x points is at most
        ``operators.knn._BRUTE_FORCE_PAIRS`` one ``mapInArrow`` top-k
        pass answers; above it the one S2 cover plan runs.
        Either way: (query_id, <id_col>, dist_km, rank), ties on id."""
        if isinstance(queries, DataFrame):
            from spatial4n_spark.operators.knn import knn_join_df

            return knn_join_df(points, queries, k, **kw)
        from spatial4n_spark.operators.knn import knn_join

        return knn_join(points, queries, k, **kw)

    def corridor_join(self, points: DataFrame, routes, **kw) -> DataFrame:
        from spatial4n_spark.operators.corridor import corridor_join

        return corridor_join(points, routes, **kw)

    def raster_pipeline(self, images: DataFrame, **kw) -> DataFrame:
        from spatial4n_spark.operators.raster import raster_pipeline

        return raster_pipeline(images, **kw)

    # -- SQL function registration ----------------------------------------

    def register(self, prefix: str = "s4n") -> None:
        """Register the engine's vectorized functions for SQL use:
        ``{prefix}_geohash``, ``{prefix}_dist_km``, ``{prefix}_relate_wkt``,
        ``{prefix}_cell_bbox``, ``{prefix}_s2_cell`` — usable from
        ``spark.sql(...)``.
        """
        from spatial4n_spark.functions.udfs import (
            dist_km_udf,
            geohash_bbox_udf,
            geohash_udf,
            relate_wkt_udf,
            s2_udf,
        )

        self.spark.udf.register(f"{prefix}_geohash", geohash_udf(self.ctx.cell_level))
        self.spark.udf.register(f"{prefix}_dist_km", dist_km_udf(self.ctx.calculator))
        self.spark.udf.register(
            f"{prefix}_relate_wkt", relate_wkt_udf(self.ctx.geo, self.ctx.calculator)
        )
        self.spark.udf.register(f"{prefix}_cell_bbox", geohash_bbox_udf())
        self.spark.udf.register(f"{prefix}_s2_cell", s2_udf(self.ctx.s2_cell_level))
