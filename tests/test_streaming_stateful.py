"""Spatial Structured Streaming operators (streaming/events.py): each runs
as a real StreamingQuery and must match its batch result exactly."""


def test_streaming_cell_counts_matches_batch(spark, tmp_path):
    # geo index under Structured Streaming: run the SAME plan as a real
    # file-source StreamingQuery and as a batch frame; results must match
    import numpy as np
    import pandas as pd

    from pyogrio_spark.streaming.events import streaming_cell_counts

    n = 400
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime("2024-01-01") + pd.to_timedelta((np.arange(n) * 97) % 7200, unit="s"),
            "lon": ((np.arange(n) * 2654435761) % 36000000) / 1e5 - 180,
            "lat": ((np.arange(n) * 40503) % 17000000) / 1e5 - 85,
        }
    )
    src = str(tmp_path / "geostream_src")
    spark.createDataFrame(pdf).repartition(4).write.parquet(src)

    batch = streaming_cell_counts(spark.read.parquet(src)).toPandas()

    stream_in = (
        spark.readStream.schema("ts timestamp_ntz, lon double, lat double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_cell_counts(stream_in)
    q = (
        out.writeStream.format("memory")
        .queryName("geo_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM geo_cells").toPandas()

    key = ["window_start", "cell_id"]
    b = batch.sort_values(key).reset_index(drop=True)
    g = got.sort_values(key).reset_index(drop=True)
    assert len(b) == len(g) and (b.n_docs.to_numpy() == g.n_docs.to_numpy()).all()
    assert (b.cell_id.to_numpy() == g.cell_id.to_numpy()).all()


def test_streaming_zone_counts_matches_batch(spark, tmp_path):
    """Stream-static spatial enrichment: the batch PIP composition runs
    unchanged under a real StreamingQuery; windowed per-zone counts
    must equal the batch result exactly (incl. irregular zones through
    the Arrow refine)."""
    import numpy as np
    import pandas as pd

    from pyogrio_spark.operators.spatial_join import zones_cell_cover
    from pyogrio_spark.queries import GEO_RES, _zones_pd
    from pyogrio_spark.streaming.events import streaming_zone_counts

    n = 600
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta((np.arange(n) * 97) % 7200, unit="s"),
            "lon": ((np.arange(n) * 2654435761) % 12000000) / 1e5 - 60,
            "lat": ((np.arange(n) * 40503) % 8000000) / 1e5 - 40,
        }
    )
    src = str(tmp_path / "zonestream_src")
    spark.createDataFrame(pdf).repartition(4).write.parquet(src)
    cover = zones_cell_cover(spark, _zones_pd(), res=GEO_RES, zone_key="zone_id")

    batch = streaming_zone_counts(spark.read.parquet(src), cover).toPandas()
    assert len(batch) > 0 and batch.n_docs.sum() > 0

    stream_in = (
        spark.readStream.schema("ts timestamp_ntz, lon double, lat double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_zone_counts(stream_in, cover)
    q = (
        out.writeStream.format("memory")
        .queryName("geo_zones")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM geo_zones").toPandas()

    key = ["window_start", "zone_id"]
    b = batch.sort_values(key).reset_index(drop=True)
    g = got.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(b, g, check_dtype=False)
