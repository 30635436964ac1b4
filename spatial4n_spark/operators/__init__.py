from spatial4n_spark.operators.spatial_join import spatial_join_points_polygons
from spatial4n_spark.operators.distance_join import radius_join
from spatial4n_spark.operators.knn import knn_join, knn_join_df
from spatial4n_spark.operators.tiles import tile_assign, tile_pyramid, tile_stats
from spatial4n_spark.operators.raster import raster_pipeline, raster_pipeline_pyramid

__all__ = [
    "spatial_join_points_polygons",
    "radius_join",
    "knn_join",
    "knn_join_df",
    "tile_assign",
    "tile_pyramid",
    "tile_stats",
    "raster_pipeline",
    "raster_pipeline_pyramid",
]
