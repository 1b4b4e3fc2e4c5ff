"""Structured Streaming operators over the events stream.

The reference has no streaming surface (SURVEY.md §2.5 — its only
"stream" is a finite Arrow batch iterator), so this module covers the
engine-side streaming needs of a continuous ingest pipeline: watermarked
event-time windows and session windows. Batch parity: each function
also runs on a static DataFrame (Spark's unified API), which is how the
tests and the DuckDB oracle validate the aggregation logic exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"


def read_events_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time windows with late-data watermark; on a static
    frame the watermark is a no-op and results equal the batch groupBy."""
    e = events.withColumn("ts", F.col("ts").cast("timestamp"))  # NTZ -> LTZ for event-time
    e = e.withWatermark("ts", watermark) if e.isStreaming else e
    return (
        e.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("value_sum"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def sessionize_events(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows per user (gap-based)."""
    e = events.withColumn("ts", F.col("ts").cast("timestamp"))
    e = e.withWatermark("ts", watermark) if e.isStreaming else e
    return (
        e.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("value_sum"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            "value_sum",
        )
    )


def streaming_zone_counts(
    docs: DataFrame,
    cover: DataFrame,
    zone_key: str = "zone_id",
    res: int = 7,
    lon_col: str = "lon",
    lat_col: str = "lat",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    include_boundary: bool = False,
) -> DataFrame:
    """Streaming spatial enrichment: join a stream of (ts, lon, lat)
    rows against a STATIC zone cover (the same ``zones_cell_cover``
    frame the batch PIP join uses) and count per (event-time window,
    zone).

    The whole enrichment is the batch ``point_in_polygon_join``
    composition — broadcast stream-static equi-join on cell_id,
    full-cover cells pass, boundary cells take the JVM-side edge
    ray-cast predicate, no Python stage — which is stateless, so it runs
    unchanged under Structured Streaming; the only streaming state is
    the windowed count, bounded by the watermark. Batch parity: on a
    static frame the result equals batch PIP join + groupBy (how the
    test validates it exactly)."""
    from pyogrio_spark.index.grid import cell_expr_sql
    from pyogrio_spark.operators.spatial_join import point_in_polygon_join

    d = docs.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    d = d.withWatermark(ts_col, watermark) if d.isStreaming else d
    d = (
        d.withColumn("xmin", F.col(lon_col))
        .withColumn("ymin", F.col(lat_col))
        .withColumn("cell_id", F.expr(cell_expr_sql(lon_col, lat_col, res)))
    )
    enriched = point_in_polygon_join(
        d,
        cover,
        zone_key=zone_key,
        keep_doc_cols=[ts_col],
        include_boundary=include_boundary,
    )
    return (
        enriched.groupBy(F.window(ts_col, window).alias("w"), zone_key)
        .agg(F.count("*").alias("n_docs"))
        .select(F.col("w.start").alias("window_start"), zone_key, "n_docs")
    )


def streaming_cell_counts(
    docs: DataFrame,
    res: int = 7,
    lon_col: str = "lon",
    lat_col: str = "lat",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Continuous geo ingest: cell-index a stream of (ts, lon, lat) rows
    and count per (event-time window, cell). Cell assignment is the same
    pure-integer codegen expression the batch path uses
    (index/grid.cell_expr_sql) — no Python in the stream; state is one
    count per open (window, cell), bounded by the watermark.

    Works identically on a static frame (unified API), which is how the
    batch-parity test validates it.
    """
    from pyogrio_spark.index.grid import cell_expr_sql

    d = docs.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    d = d.withWatermark(ts_col, watermark) if d.isStreaming else d
    d = d.withColumn("cell_id", F.expr(cell_expr_sql(lon_col, lat_col, res)))
    return (
        d.groupBy(F.window(ts_col, window).alias("w"), "cell_id")
        .agg(F.count("*").alias("n_docs"))
        .select(F.col("w.start").alias("window_start"), "cell_id", "n_docs")
    )


def dedup_events_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: emit the first arrival of each key,
    suppress re-deliveries that land within the watermark horizon —
    the at-least-once -> effectively-once ingest stage every
    continuous training-data pipeline needs in front of its corpus
    sink.

    Uses ``dropDuplicatesWithinWatermark``: state holds one entry per
    key seen in the horizon and is evicted as event time advances, so
    state size is bounded by (arrival rate x watermark), never by
    corpus size — the property that lets this run forever at ingest
    scale. On a static frame it degrades to plain ``dropDuplicates``
    (unified API), which is the exact batch-parity oracle for
    duplicates that arrive inside the horizon."""
    e = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if e.isStreaming:
        return e.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return e.dropDuplicates(list(key_cols))
