"""Spatial operators for Structured Streaming: windowed per-cell and
per-zone point counts.

The reference has no streaming surface (SURVEY.md §2.5 — its only
"stream" is a finite Arrow batch iterator). These run the batch cell
index and PIP join unchanged on a stream of (ts, lon, lat) rows; the
only streaming state is the watermarked event-time window count. Batch
parity: each function also runs on a static DataFrame (Spark's unified
API), which is how the tests validate it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
