"""Physical-plan assertions: the scale properties SURVEY.md §4 promises.

These tests read `.explain` output — they fail if a change silently
drops predicate pushdown, de-broadcasts the dimension side, or sneaks a
Python UDF into a hot path that must stay in whole-stage codegen.
"""

import re

import pytest

from pyogrio_spark.fixtures import DOCS_SPARK_SCHEMA, make_docs, make_zones
from pyogrio_spark.io.reader import read_table
from pyogrio_spark.operators.spatial_join import point_in_polygon_join, zones_cell_cover
from pyogrio_spark.operators.tiling import assign_tiles


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "docs")
    spark.createDataFrame(make_docs(500), schema=DOCS_SPARK_SCHEMA).write.parquet(p)
    return p


def test_where_pushes_to_parquet_scan(spark, docs_parquet):
    df = read_table(spark, docs_parquet, where="cell_id = 12345 AND xmin > 0", read_geometry=False)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(cell_id)" in plan or "EqualTo(cell_id" in plan


def test_projection_prunes_scan_columns(spark, docs_parquet):
    df = read_table(spark, docs_parquet, columns=["doc_id", "cell_id"], read_geometry=False)
    plan = plan_of(df)
    assert "ReadSchema" in plan
    # spans (the widest column) must not be read
    assert "spans" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_tile_assignment_is_pure_codegen(spark, docs_parquet):
    df = assign_tiles(spark.read.parquet(docs_parquet).select("doc_id", "xmin", "ymin"), res=9)
    plan = plan_of(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "*(1)" in plan  # whole-stage codegen marker in executedPlan strings


def test_pip_join_broadcasts_cover_side(spark, docs_parquet):
    docs = spark.read.parquet(docs_parquet)
    cover = zones_cell_cover(spark, make_zones(50))
    out = point_in_polygon_join(docs, cover, keep_doc_cols=["doc_id"])
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # the docs side must never shuffle


def test_pip_and_zonal_refine_have_no_python(spark, docs_parquet):
    """The exact refine is a JVM predicate over the cover's clipped edges:
    the PIP join and both zonal operators plan as a broadcast join plus a
    filter, with no Python stage."""
    from pyspark.sql import functions as F

    from pyogrio_spark.operators.zonal import rasterize_zones, tiles_with_centers, zonal_stats

    cover = zones_cell_cover(spark, make_zones(50))
    tiles = tiles_with_centers(
        spark.range(64 * 32).select(
            (F.col("id") % 64 - 32).cast("int").alias("tile_x"),
            (F.col("id") / 64 - 16).cast("int").alias("tile_y"),
            F.col("id").cast("double").alias("value"),
        ),
        tile_deg=5.0,
    )
    for out in (
        point_in_polygon_join(spark.read.parquet(docs_parquet), cover, keep_doc_cols=["doc_id"]),
        point_in_polygon_join(spark.read.parquet(docs_parquet), cover, include_boundary=True),
        zonal_stats(tiles, cover),
        rasterize_zones(tiles, cover),
    ):
        plan = plan_of(out)
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
        assert "BroadcastHashJoin" in plan and "Union" not in plan


def test_partitioned_layout_prunes_partitions(spark, tmp_path):
    """The Iceberg-partitioning stand-in: lay the table out partitioned by
    the coarse parent cell; a cell-range predicate then prunes whole
    directories (PartitionFilters), the scan never opens cold regions."""
    from pyspark.sql import functions as F

    from pyogrio_spark.index.grid import cell_expr_sql

    docs = spark.createDataFrame(make_docs(2000), schema=DOCS_SPARK_SCHEMA)
    docs = docs.withColumn("cell_p", F.expr(cell_expr_sql("xmin", "ymin", 3)))
    path = str(tmp_path / "part_docs")
    docs.write.partitionBy("cell_p").parquet(path)
    hot = docs.groupBy("cell_p").count().orderBy(F.desc("count")).head()["cell_p"]
    out = spark.read.parquet(path).filter(F.col("cell_p") == hot)
    plan = plan_of(out)
    assert "PartitionFilters: [" in plan and "cell_p" in plan.split("PartitionFilters")[1][:120]
    assert out.count() > 0


def test_knn_candidate_stage_has_no_python(spark, docs_parquet):
    from pyogrio_spark.operators.knn import knn_join

    docs = spark.read.parquet(docs_parquet)
    probes = spark.createDataFrame(
        [("p0", 10.0, 20.0)], "probe_id string, lon double, lat double"
    )
    out = knn_join(probes, docs, k=3)
    plan = plan_of(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # one planned window join and one rank
    assert len(re.findall(r"\bWindow \[", plan)) == 1
    assert "BroadcastHashJoin" in plan


def test_knn_job_count_does_not_depend_on_k(spark):
    """The kNN plan is fixed before it runs: a larger k widens the planned
    windows but adds no Spark job. One doc sits next to the probe and the
    rest ~125 deg away, so k=25 has to reach the far cluster."""
    import numpy as np
    import pandas as pd

    from pyogrio_spark.index.grid import cell_of
    from pyogrio_spark.operators.knn import knn_join

    rng = np.random.default_rng(9)
    pts = pd.DataFrame({
        "doc_id": [f"d{i:02d}" for i in range(61)],
        "xmin": np.concatenate([[10.1], rng.uniform(-102, -98, 60)]),
        "ymin": np.concatenate([[20.0], rng.uniform(-42, -38, 60)]),
    })
    pts["cell_id"] = cell_of(pts.xmin.to_numpy(), pts.ymin.to_numpy(), 7)
    docs = spark.createDataFrame(pts, "doc_id string, xmin double, ymin double, cell_id long")
    probes = spark.createDataFrame([("p0", 10.0, 20.0)], "probe_id string, lon double, lat double")
    sc = spark.sparkContext
    jobs = {}
    for k in (1, 25):
        group = f"knn-jobs-k{k}"
        sc.setJobGroup(group, group)
        try:
            assert len(knn_join(probes, docs, k=k).collect()) == k
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[k] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[1] == jobs[25], jobs


def test_intersects_join_full_branch_has_no_python(spark):
    from pyogrio_spark.operators.intersects_join import intersects_join

    docs = spark.createDataFrame(make_docs(300), schema=DOCS_SPARK_SCHEMA)
    cover = zones_cell_cover(spark, make_zones(40))
    out = intersects_join(docs, cover)
    plan = plan_of(out)
    # exactly one Python stage: the boundary refine; the full-cover
    # union branch and candidate generation stay in codegen
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan


def _sql_plans(spark, after: int = -1) -> dict[int, str]:
    """Physical plan text of the session's SQL executions, by execution
    id, for ids above ``after`` (the status store keeps only the most
    recent ones, so select by id rather than by position)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    plans = {}
    while it.hasNext():
        e = it.next()
        if e.executionId() > after:
            plans[e.executionId()] = e.physicalPlanDescription()
    return plans


def test_skip_features_has_no_single_partition_exchange(spark, docs_parquet):
    # distributed skip: range repartition and per-partition sort (in the
    # local checkpoint that read_table runs) + per-partition counts —
    # never a SinglePartition global-window exchange, in the result or in
    # any job read_table ran to build it
    last = max(_sql_plans(spark), default=-1)
    df = read_table(spark, docs_parquet, skip_features=100, read_geometry=False)
    plans = [plan_of(df), *_sql_plans(spark, last).values()]
    assert not any("SinglePartition" in p for p in plans), "skip_features fell back to the one-reducer global window"
    assert any("rangepartitioning" in p.lower() for p in plans)
    # correctness: same rows as the semantic-reference global window
    from pyspark.sql import Window, functions as F

    base = spark.read.parquet(docs_parquet)
    w = Window.orderBy("cell_id", "doc_id")
    want = base.withColumn("_rn", F.row_number().over(w)).filter("_rn > 100").drop("_rn")
    got_ids = sorted(r.doc_id for r in df.select("doc_id").collect())
    want_ids = sorted(r.doc_id for r in want.select("doc_id").collect())
    assert got_ids == want_ids


def test_poly_join_queries_broadcast_and_never_sortmerge(spark):
    # the generic-geometry variants must keep the dimension side broadcast:
    # Catalyst falling back to SortMergeJoin would exchange+sort the fact
    # side (measured 0.26 scaling efficiency at 100M docs in round 1)
    from pyogrio_spark.queries import QUERIES

    for name in ("geo_pip_join_poly", "geo_intersects_join_poly"):
        plan = plan_of(QUERIES[name](spark, "/root/testdata/sf0.001"))
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    # co-located join: both sides bucketed on cell_id -> hash join with
    # ZERO exchanges (the scan delivers the join partitioning)
    from pyspark.sql import functions as F

    from pyogrio_spark.io.writer import write_bucketed

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 512).alias("cell_id"), (F.col("id") * 3).alias("v")
    )
    zones = spark.range(2000).select(
        (F.col("id") % 512).alias("cell_id"), F.col("id").alias("zone_id")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # fixture tables are broadcast-sized; disable auto-broadcast so the
        # planner takes the shuffle-join path that bucketing eliminates
        # (at real scale neither side broadcasts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(docs, "t_docs_b", ["cell_id"], 16, sort_cols=["cell_id"], path=str(tmp_path / "a"))
        write_bucketed(zones, "t_zones_b", ["cell_id"], 16, sort_cols=["cell_id"], path=str(tmp_path / "b"))
        a, b = spark.table("t_docs_b"), spark.table("t_zones_b")
        joined = a.join(b, "cell_id")
        plan = plan_of(joined)
        assert "Exchange hashpartitioning" not in plan, "bucketed join must not shuffle either side"
        assert joined.count() > 0
        # contrast: the same join over plain parquet shuffles both sides
        docs.write.mode("overwrite").parquet(str(tmp_path / "plain_a"))
        zones.write.mode("overwrite").parquet(str(tmp_path / "plain_b"))
        pa = spark.read.parquet(str(tmp_path / "plain_a"))
        pb = spark.read.parquet(str(tmp_path / "plain_b"))
        assert "Exchange hashpartitioning" in plan_of(pa.join(pb, "cell_id"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_zones_b")


def test_bucketed_pip_headline_join_no_exchange(spark):
    """The geo_pip_join_bucketed headline entry must actually run its
    coarse equi-join exchange-free: both sides are bucketed on cell_id
    and the shuffle_hash hint keeps the planner off broadcast, so the
    bucketed scans deliver the join partitioning directly."""
    from pyogrio_spark.queries import q_geo_pip_join_bucketed

    out = q_geo_pip_join_bucketed(spark, "/root/testdata/sf0.001")
    plan = plan_of(out)
    assert "Exchange hashpartitioning" not in plan, "bucketed PIP join must not shuffle"
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan  # a real join, not broadcast
    assert out.count() > 0


def test_adaptive_frontier_is_semijoin_not_isin(spark):
    """The adaptive-tiling frontier must travel as a broadcast semi-join,
    never as a driver-side isin literal — at planetary scale a level has
    10^6-10^7 hot children and a multi-million-element In blows up plan
    analysis (round-3 VERDICT). Also checks the split output itself on a
    synthetic hot-cell fixture."""
    import pandas as pd

    from pyogrio_spark.operators.tiling import _next_frontier, adaptive_tiles

    # 400 rows crammed into one base cell (hot), 10 in another (cold)
    docs = make_docs(410)
    docs.loc[: 399, "xmin"] = 10.0 + (docs.index[:400] % 20) * 0.004
    docs.loc[: 399, "ymin"] = 10.0 + (docs.index[:400] // 20) * 0.004
    docs.loc[400:, "xmin"] = -120.0
    docs.loc[400:, "ymin"] = -45.0
    df = spark.createDataFrame(docs, schema=DOCS_SPARK_SCHEMA)

    from pyspark.sql import functions as F

    from pyogrio_spark.index.grid import cell_expr_sql

    frontier = df.groupBy(F.expr(cell_expr_sql("xmin", "ymin", 4)).alias("cell")).count()
    hot = frontier.filter(F.col("count") > 100)
    nxt = _next_frontier(df, hot, 5, "xmin", "ymin")
    plan = nxt._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert " IN (" not in plan and "isin" not in plan

    tiles = adaptive_tiles(df, base_res=4, max_res=8, target_rows=100)
    assert (tiles.row_count <= 100).all() or (tiles.res == 8).any()
    assert tiles.row_count.sum() == 410  # every row lands in exactly one tile
    # determinism: identical map on recompute
    tiles2 = adaptive_tiles(df, base_res=4, max_res=8, target_rows=100)
    pd.testing.assert_frame_equal(tiles, tiles2)


def test_reproject_is_pure_codegen(spark, docs_parquet):
    """geo_reproject's claim: Web-Mercator coordinate reprojection is
    whole-stage-codegen JVM math — no Python stage anywhere."""
    from pyogrio_spark.functions.geo import mercator_x_expr, mercator_y_expr

    df = read_table(spark, docs_parquet).selectExpr("doc_id", "xmin AS lon", "ymin AS lat")
    out = df.select("doc_id", mercator_x_expr("lon"), mercator_y_expr("lat"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip().startswith("*(")  # whole-stage-codegen marker
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan


@pytest.fixture(scope="module")
def parcel_files(tmp_path_factory):
    """The same 300 points as an indexed FlatGeobuf, a shapefile and a
    GeoPackage."""
    import numpy as np
    import pandas as pd

    from pyogrio_spark.geometry import wkb as W
    from pyogrio_spark.io.flatgeobuf import write_flatgeobuf
    from pyogrio_spark.io.geopackage import write_geopackage
    from pyogrio_spark.io.shapefile import write_shapefile

    n = 300
    pdf = pd.DataFrame(
        {
            "name": [f"p{i}" for i in range(n)],
            "v": np.arange(n, dtype=np.int64),
            "geometry_wkb": [W.encode_point(float((i * 37) % 100), float((i * 53) % 80)) for i in range(n)],
        }
    )
    d = tmp_path_factory.mktemp("scans")
    paths = {ext: str(d / f"parcels.{ext}") for ext in ("fgb", "shp", "gpkg")}
    write_flatgeobuf(pdf, paths["fgb"], index_node_size=16)
    write_shapefile(pdf, paths["shp"])
    write_geopackage(pdf, paths["gpkg"], layer="parcels")
    return paths


def test_byte_range_scans_have_no_exchange(spark, parcel_files):
    """The distributed scans hand each task its chunk through
    spark.range, not a repartitioned chunk table: no shuffle."""
    from pyogrio_spark.io.dispatch import open_table

    for path in parcel_files.values():
        plan = plan_of(open_table(spark, path, distributed=True, where="v > 3"))
        assert "MapInPandas" in plan and "Exchange" not in plan, path


def test_fgb_scan_refines_bbox_inside_the_scan(spark, parcel_files):
    """Without sql=, the exact bbox refine runs in the scan's Python pass:
    no separate ArrowEvalPython stage."""
    from pyogrio_spark.io.dispatch import open_table

    df = open_table(spark, parcel_files["fgb"], distributed=True, bbox=(10.0, 10.0, 30.0, 25.0))
    plan = plan_of(df)
    assert "ArrowEvalPython" not in plan and plan.count("MapInPandas") == 1


def test_convert_fgb_to_shp_runs_one_spark_job(spark, parcel_files, tmp_path):
    """Scan, refine, filter, project and encode run as one job: no width
    aggregate and no re-executed scan."""
    from pyogrio_spark.io.dispatch import convert_dataset

    sc = spark.sparkContext
    group = "convert-fgb-shp"
    sc.setJobGroup(group, group)
    try:
        info = convert_dataset(
            spark, parcel_files["fgb"], str(tmp_path / "out.shp"),
            bbox=(10.0, 10.0, 30.0, 25.0), where="v % 2 = 0", columns=["name", "v"],
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert info["features"] > 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_distributed_sql_then_bbox_matches_driver_reader(spark, parcel_files):
    """With sql=, bbox applies to the statement's result (reference
    order): a LIMIT before the bbox keeps a different set of rows than a
    bbox before the LIMIT would, and both readers agree."""
    from pyogrio_spark.io.dispatch import open_table

    kw = {"sql": "SELECT * FROM parcels ORDER BY v LIMIT 40", "bbox": (10.0, 10.0, 60.0, 50.0)}
    for path in parcel_files.values():
        dist = open_table(spark, path, distributed=True, **kw).toPandas()
        local = open_table(spark, path, **kw).toPandas()
        assert sorted(dist.v) == sorted(local.v), path
        assert 0 < len(dist) < 40
