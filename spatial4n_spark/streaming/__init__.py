from spatial4n_spark.streaming.tile_stream import (  # noqa: F401
    events_as_stream,
    streaming_radius_alerts,
    streaming_tile_counts,
    streaming_tile_pyramid,
)
from spatial4n_spark.streaming.pip_stream import (  # noqa: F401
    streaming_pip_join,
    streaming_polygon_counts,
)
from spatial4n_spark.streaming.image_stream import (  # noqa: F401
    images_as_stream,
    streaming_image_chips,
    streaming_image_mosaics,
)
from spatial4n_spark.streaming.dedup_stream import (  # noqa: F401
    streaming_distinct_docs,
    streaming_dup_counts,
)
from spatial4n_spark.streaming.clustered_sink import (  # noqa: F401
    stream_to_clustered,
    stream_upsert_to_clustered,
)
from spatial4n_spark.streaming.clustered_source import (  # noqa: F401
    ClusteredAppendsSource,
    read_clustered_stream,
)
