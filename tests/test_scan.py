import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyogrio_spark.fixtures import DOCS_SPARK_SCHEMA, make_docs, make_zones
from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.io.reader import read_bounds, read_info, read_table, total_bounds
from pyogrio_spark.oracle import oracle_bbox_filter, oracle_mask_filter


@pytest.fixture(scope="module")
def docs_pd():
    return make_docs(1500)


@pytest.fixture(scope="module")
def docs_df(spark, docs_pd):
    return spark.createDataFrame(docs_pd, schema=DOCS_SPARK_SCHEMA).cache()


def ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_full_scan(spark, docs_df, docs_pd):
    assert read_table(spark, docs_df).count() == len(docs_pd)


def test_projection_order_and_dedup(spark, docs_df):
    # source order preserved, duplicates dropped (reference _io.pyx:1741-1763,
    # tests/test_raw_io.py:167-173)
    out = read_table(spark, docs_df, columns=["cell_id", "doc_id", "doc_id"], read_geometry=False)
    assert out.columns == ["doc_id", "cell_id"]
    out2 = read_table(spark, docs_df, columns=["doc_id"], read_geometry=True)
    assert out2.columns == ["doc_id", "geometry_wkb"]


def test_where(spark, docs_df, docs_pd):
    out = read_table(spark, docs_df, where="xmin > 0 AND ymin < 10")
    want = docs_pd[(docs_pd.xmin > 0) & (docs_pd.ymin < 10)]
    assert out.count() == len(want)


def test_bbox_matches_oracle(spark, docs_df, docs_pd):
    bbox = (-10.0, -10.0, 40.0, 30.0)
    got = ids(read_table(spark, docs_df, bbox=bbox))
    want = sorted(oracle_bbox_filter(docs_pd, bbox)["doc_id"])
    assert got == want and len(got) > 0


def test_mask_matches_oracle(spark, docs_df, docs_pd):
    zones = make_zones()
    # pick a zone that actually contains docs
    for _, z in zones.iterrows():
        want = sorted(oracle_mask_filter(docs_pd, bytes(z.geometry_wkb))["doc_id"])
        if len(want) >= 3:
            break
    got = ids(read_table(spark, docs_df, mask=bytes(z.geometry_wkb)))
    assert got == want


def test_where_and_bbox_compose(spark, docs_df, docs_pd):
    bbox = (-60.0, -40.0, 60.0, 50.0)
    got = ids(read_table(spark, docs_df, where="ymin > 0", bbox=bbox))
    o = oracle_bbox_filter(docs_pd, bbox)
    want = sorted(o[o.ymin > 0]["doc_id"])
    assert got == want


def test_fids(spark, docs_df):
    want = ["doc000000000007", "doc000000000123", "doc000000000999"]
    got = ids(read_table(spark, docs_df, fids=want))
    assert got == want


def test_exclusivity_errors(spark, docs_df):
    # mirrors reference validation (_io.pyx:1658-1689)
    with pytest.raises(ValueError, match="bbox.*mask|mask|bbox"):
        read_table(spark, docs_df, bbox=(0, 0, 1, 1), mask=W.encode_polygon([np.array([(0.0, 0), (1, 0), (1, 1), (0, 0)])]))
    with pytest.raises(ValueError, match="fids"):
        read_table(spark, docs_df, fids=["doc000000000001"], where="xmin > 0")


@pytest.mark.parametrize("bbox", [(170.0, -90.0, -170.0, 90.0), (0.0, 10.0, 1.0, 5.0), (0.0, 0.0, 1.0)])
def test_inverted_or_malformed_bbox_raises(spark, docs_df, tmp_path, bbox):
    from pyogrio_spark.io.dispatch import open_table
    from pyogrio_spark.io.flatgeobuf import write_flatgeobuf

    path = str(tmp_path / "pts.fgb")
    pts = [W.encode_point(175.0, 0.0), W.encode_point(-175.0, 0.0)]
    write_flatgeobuf(pd.DataFrame({"name": ["east", "west"], "geometry_wkb": pts}), path, index_node_size=16)
    # an antimeridian-crossing box used to match nothing on every path
    with pytest.raises(ValueError, match="bbox"):
        read_table(spark, docs_df, bbox=bbox)
    for distributed in (False, True):
        with pytest.raises(ValueError, match="bbox"):
            open_table(spark, path, distributed=distributed, bbox=bbox)


def test_skip_only_rank_is_distributed(spark):
    # the range shuffle has an explicit partition count, so adaptive
    # execution does not fold a small frame into one partition
    df = spark.range(2000).selectExpr("id AS doc_id", "id % 7 AS v")
    out = read_table(spark, df, skip_features=10)
    assert out.select(F.spark_partition_id()).distinct().count() > 1
    assert sorted(r.doc_id for r in out.collect()) == list(range(10, 2000))


@pytest.fixture(scope="module")
def docs_parts(spark, docs_pd, tmp_path_factory):
    """The docs fixture as a 4-file Parquet table: a range plan has
    partitions to rank across, and its plan shows no cache of its input
    (``docs_df``'s cache would stand in for the same in-memory rows)."""
    path = str(tmp_path_factory.mktemp("paging") / "docs")
    spark.createDataFrame(docs_pd, schema=DOCS_SPARK_SCHEMA).repartition(4, "doc_id").write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() >= 4
    return df


def test_skip_max(spark, docs_parts, docs_pd):
    # skip + max, skip only, max only, skip past the end, max_features=0
    ordered = docs_pd.sort_values(["cell_id", "doc_id"])["doc_id"].tolist()
    for skip, maxf in [(10, 5), (10, None), (0, 7), (1490, None), (1495, 20), (2000, None), (2000, 5), (0, 0), (10, 0)]:
        got = read_table(spark, docs_parts, skip_features=skip, max_features=maxf, read_geometry=False)
        got_ids = [r["doc_id"] for r in got.sort("cell_id", "doc_id").select("doc_id").collect()]
        assert got_ids == ordered[skip:][:maxf], (skip, maxf)


def test_skip_max_follows_sql_order_by(spark, docs_parts, docs_pd):
    ordered = docs_pd.sort_values("xmin", ascending=False)["doc_id"].tolist()
    for skip, maxf in [(10, 5), (10, None), (0, 7)]:
        got = read_table(
            spark, docs_parts, sql="SELECT doc_id, xmin FROM layer ORDER BY xmin DESC", sql_dialect="OGRSQL",
            skip_features=skip, max_features=maxf, read_geometry=False,
        )
        got_ids = [r["doc_id"] for r in got.sort(F.col("xmin").desc()).select("doc_id").collect()]
        assert got_ids == ordered[skip:][:maxf], (skip, maxf)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_skip_max_plan_shapes(spark, docs_parts):
    # with max_features: one TakeOrderedAndProject (limit = skip + max,
    # offset = skip) and nothing cached
    paged = _plan(read_table(spark, docs_parts, skip_features=100, max_features=50, read_geometry=False))
    assert paged.count("TakeOrderedAndProject") == 1 and "offset=100" in paged
    assert "InMemoryRelation" not in paged
    # skip only: the ranked partitions come from a local checkpoint, not
    # from a cache that outlives the call
    skipped = _plan(read_table(spark, docs_parts, skip_features=100, read_geometry=False))
    assert "InMemoryRelation" not in skipped and "ExistingRDD" in skipped


def test_skip_checkpoint_blocks_are_freed(spark, docs_parts):
    import gc
    import time

    sc = spark.sparkContext

    def stored():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = stored()
    out = read_table(spark, docs_parts, skip_features=100, read_geometry=False)
    assert stored() - before  # the checkpoint holds the ranked partitions
    assert out.count() == 1400
    del out
    gc.collect()
    # the ContextCleaner frees the blocks once the JVM collects the
    # checkpointed RDD; poll a bounded time rather than assume when
    deadline = time.monotonic() + 30
    while stored() - before and time.monotonic() < deadline:
        sc._jvm.System.gc()
        time.sleep(0.25)
    assert not stored() - before


def test_sql_then_filter(spark, docs_df, docs_pd):
    # filters apply after sql (reference raw.py:128-135)
    out = read_table(
        spark, docs_df,
        sql="select doc_id, xmin, ymin, xmax, ymax, cell_id from layer where ymin > 0",
        bbox=(-90.0, -90.0, 90.0, 90.0),
    )
    o = oracle_bbox_filter(docs_pd[docs_pd.ymin > 0], (-90.0, -90.0, 90.0, 90.0))
    assert out.count() == len(o)


def test_read_bounds_and_info(spark, docs_df, docs_pd):
    b = read_bounds(spark, docs_df)
    assert b.columns == ["doc_id", "xmin", "ymin", "xmax", "ymax"]
    assert b.count() == len(docs_pd)
    info = read_info(spark, docs_df, force_feature_count=True, force_total_bounds=True)
    assert info.features == len(docs_pd)
    assert info.geometry_type == "Point"
    assert info.crs == "EPSG:4326"
    np.testing.assert_allclose(
        info.total_bounds,
        (docs_pd.xmin.min(), docs_pd.ymin.min(), docs_pd.xmax.max(), docs_pd.ymax.max()),
    )


def test_bounds_udf_matches_fixture(spark, docs_df, docs_pd):
    from pyogrio_spark.functions.geo import bounds_columns

    derived = bounds_columns(docs_df.select("doc_id", "geometry_wkb"))
    merged = derived.toPandas().merge(docs_pd[["doc_id", "xmin"]], on="doc_id", suffixes=("", "_want"))
    np.testing.assert_allclose(merged["xmin"], merged["xmin_want"])
