from pyogrio_spark.streaming.events import streaming_cell_counts, streaming_zone_counts  # noqa: F401
