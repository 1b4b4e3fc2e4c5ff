import numpy as np
import pandas as pd
import pytest

from pyogrio_spark.fixtures import make_zones
from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.geometry.predicates import PreparedPolygon
from pyogrio_spark.operators.intersects_join import intersects_join
from pyogrio_spark.operators.spatial_join import zones_cell_cover


def make_left_geoms(n=400, seed=23):
    """Mixed geometry table: points, segments, small boxes — some spanning
    multiple cells."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        cx = rng.uniform(-170, 170)
        cy = rng.uniform(-80, 80)
        kind = i % 3
        if kind == 0:
            g = W.encode_point(cx, cy)
        elif kind == 1:
            # segments up to ~8 deg long (crosses cell boundaries at res 7)
            dx, dy = rng.uniform(-4, 4), rng.uniform(-4, 4)
            g = W.encode_linestring(np.array([(cx, cy), (cx + dx, cy + dy)]))
        else:
            w, h = rng.uniform(0.1, 5), rng.uniform(0.1, 5)
            ring = np.array([(cx, cy), (cx + w, cy), (cx + w, cy + h), (cx, cy + h), (cx, cy)])
            g = W.encode_polygon([ring])
        x0, y0, x1, y1 = W.bounds(g)
        rows.append({"doc_id": f"g{i:05d}", "geometry_wkb": g, "xmin": x0, "ymin": y0, "xmax": x1, "ymax": y1})
    return pd.DataFrame(rows)


def brute_oracle(left_pd, zones_pd):
    out = []
    for _, z in zones_pd.iterrows():
        prep = PreparedPolygon(bytes(z.geometry_wkb))
        for _, l in left_pd.iterrows():
            if prep.intersects_geom(bytes(l.geometry_wkb)):
                out.append((l.doc_id, z.fid))
    return sorted(out)


def test_intersects_join_matches_bruteforce(spark):
    left_pd = make_left_geoms()
    zones_pd = make_zones(60)
    left = spark.createDataFrame(
        left_pd, schema="doc_id string, geometry_wkb binary, xmin double, ymin double, xmax double, ymax double"
    )
    cover = zones_cell_cover(spark, zones_pd)
    got = sorted(map(tuple, intersects_join(left, cover).select("doc_id", "fid").collect()))
    want = brute_oracle(left_pd, zones_pd)
    assert got == want
    assert len(got) > 50


def test_intersects_join_salted_shuffle_same_result(spark):
    # shuffle + salted variant must produce the identical pair set as the
    # broadcast plan (the scale path for huge polygon sides)
    import pandas as pd

    from pyogrio_spark.fixtures import make_zones
    from pyogrio_spark.functions.geo import rect_wkb_column
    from pyogrio_spark.operators.spatial_join import zones_cell_cover
    from pyspark.sql import functions as F

    docs_pd = pd.DataFrame({"doc_id": range(400)})
    docs = spark.createDataFrame(docs_pd)
    docs = (
        docs.withColumn("lon", (F.col("doc_id") * 77 % 360 - 180).cast("double"))
        .withColumn("lat", (F.col("doc_id") * 37 % 170 - 85).cast("double"))
        .withColumn("xmin", F.col("lon")).withColumn("ymin", F.col("lat"))
        .withColumn("xmax", F.col("lon") + 0.5).withColumn("ymax", F.col("lat") + 0.5)
    )
    docs = docs.withColumn("geometry_wkb", rect_wkb_column("xmin", "ymin", "xmax", "ymax"))
    cover = zones_cell_cover(spark, make_zones(60), res=7, zone_key="fid")

    def pairs(**kw):
        out = intersects_join(docs, cover, res=7, zone_key="fid", **kw).select("doc_id", "fid")
        return sorted(map(tuple, out.toPandas().itertuples(index=False, name=None)))

    broadcast = pairs()
    shuffled = pairs(broadcast_cover=False)
    # every cover cell salted x4
    uniform = cover.select("cell_id").distinct().toPandas().assign(salt_k=4)
    salted = pairs(broadcast_cover=False, salt_plan=uniform)
    assert broadcast == shuffled == salted
    assert broadcast, "fixture must produce pairs"


def test_keep_left_cols_without_left_key(spark):
    # two distinct docs that share every kept column: the pair dedup
    # must still key on doc_id, which keep_left_cols leaves out
    ring = np.array([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)])
    zones_pd = pd.DataFrame({"fid": [1], "geometry_wkb": [W.encode_polygon([ring])]})
    left = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": ["d0", "d1"],
            "name": ["same", "same"],
            "geometry_wkb": [W.encode_point(2.0, 3.0), W.encode_point(7.0, 6.0)],
            "xmin": [2.0, 7.0], "ymin": [3.0, 6.0], "xmax": [2.0, 7.0], "ymax": [3.0, 6.0],
        }),
        schema="doc_id string, name string, geometry_wkb binary, xmin double, ymin double, xmax double, ymax double",
    )
    cover = zones_cell_cover(spark, zones_pd)
    out = intersects_join(left, cover, keep_left_cols=["name"])
    assert out.columns == ["name", "fid"]
    assert sorted(map(tuple, out.collect())) == [("same", 1), ("same", 1)]
