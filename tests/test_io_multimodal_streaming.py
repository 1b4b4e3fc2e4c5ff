import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyogrio_spark.fixtures import DOCS_SPARK_SCHEMA, make_docs
from pyogrio_spark.io.lineage import StageCheckpoint, cell_range_units, unit_filter
from pyogrio_spark.io.writer import current_snapshot, read_committed, write_table


def test_write_commit_append_overwrite(spark, tmp_path):
    docs = spark.createDataFrame(make_docs(100), schema=DOCS_SPARK_SCHEMA)
    path = str(tmp_path / "t1")
    s1 = write_table(docs.filter("xmin < 0"), path, mode="overwrite")
    n1 = read_committed(spark, path).count()
    s2 = write_table(docs.filter("xmin >= 0"), path, mode="append")
    n2 = read_committed(spark, path).count()
    assert n2 == 100 and n1 < 100
    assert current_snapshot(path)["id"] == s2
    s3 = write_table(docs.limit(5), path, mode="overwrite")
    assert read_committed(spark, path).count() == 5


def test_read_committed_runs_no_spark_job(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(spark.range(100).selectExpr("id", "id * 2 AS v"), path)
    sc = spark.sparkContext
    sc.setJobGroup("read_committed_jobs", "read_committed")
    try:
        df = read_committed(spark, path)  # the schema comes from the manifest
        assert list(sc.statusTracker().getJobIdsForGroup("read_committed_jobs")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert df.dtypes == [("id", "bigint"), ("v", "bigint")] and df.count() == 100


def test_committed_small_table_scans_on_every_core(spark, tmp_path):
    """A one-file table far below Spark's default 4 MB split floor is
    written in row groups of Spark's read-split size, so read_committed
    gives every core a non-empty split with no exchange."""
    path = str(tmp_path / "t")
    docs = spark.createDataFrame(make_docs(20_000), schema=DOCS_SPARK_SCHEMA).coalesce(1)
    write_table(docs, path, mode="overwrite")
    back = read_committed(spark, path)
    sizes = back.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert len(sizes) >= spark.sparkContext.defaultParallelism
    assert sum(r["count"] for r in sizes) == 20_000


def test_row_group_bytes_caps_big_plan_at_max_partition_bytes(spark):
    """A plan estimated above parallelism x 128 MiB keeps the largest
    split size as its row-group size; only the plan is planned."""
    from pyogrio_spark.io.writer import _row_group_bytes

    big = spark.range(1 << 40)  # 8 TiB by the optimizer's estimate
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    assert _row_group_bytes(big) == max_bytes == 128 << 20


def test_read_committed_column_added_by_append_reads_null(spark, tmp_path):
    path = str(tmp_path / "t")
    write_table(spark.range(3), path, mode="append")
    write_table(spark.range(3, 5).selectExpr("id", "'x' AS tag"), path, mode="append")
    got = sorted(tuple(r) for r in read_committed(spark, path).collect())
    assert got == [(0, None), (1, None), (2, None), (3, "x"), (4, "x")]


def test_read_committed_partition_column_types(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "007", 3), (2, "010", 4)], "id long, code string, bucket int")
    write_table(df, path, partition_by=["code", "bucket"])
    back = read_committed(spark, path)
    # inference would read the digit strings back as integers 7 and 10
    assert back.dtypes == [("id", "bigint"), ("code", "string"), ("bucket", "int")]
    assert sorted(tuple(r) for r in back.collect()) == [(1, "007", 3), (2, "010", 4)]


def test_crs_roundtrip_through_table_properties(spark, tmp_path):
    from pyogrio_spark.io.reader import read_info

    docs = spark.createDataFrame(make_docs(30), schema=DOCS_SPARK_SCHEMA)
    path = str(tmp_path / "crs_t")
    write_table(docs, path, mode="overwrite", properties={"crs": "EPSG:3857"})
    info = read_info(spark, path)
    assert info.crs == "EPSG:3857"
    assert info.geometry_type == "Point"


def test_failed_write_leaves_previous_snapshot(spark, tmp_path):
    docs = spark.createDataFrame(make_docs(50), schema=DOCS_SPARK_SCHEMA)
    path = str(tmp_path / "t2")
    write_table(docs, path, mode="overwrite")
    before = current_snapshot(path)
    # simulate a killed writer: data dir written, manifest never swapped
    os.makedirs(os.path.join(path, "data", "deadbeef"), exist_ok=True)
    assert current_snapshot(path) == before
    assert read_committed(spark, path).count() == 50


def test_lineage_resume_skips_completed_units(spark, tmp_path):
    docs = spark.createDataFrame(make_docs(400), schema=DOCS_SPARK_SCHEMA).cache()
    root = str(tmp_path / "ckpt")
    units = cell_range_units(docs, n_units=4)
    assert len(units) >= 2

    calls = {"n": 0}

    def run_stage(ckpt):
        for i, (key, lo, hi) in enumerate(units):
            last = i == len(units) - 1

            def produce(lo=lo, hi=hi, last=last):
                calls["n"] += 1
                return unit_filter(docs, lo, hi, last).select("doc_id", "cell_id")

            ckpt.run_unit(key, produce)

    ck = StageCheckpoint(spark, root, "stage1", input_snapshot="snapA")
    # first run: do only the first two units, then "die"
    for i, (key, lo, hi) in enumerate(units[:2]):
        last = i == len(units) - 1
        ck.run_unit(key, lambda lo=lo, hi=hi, last=last: (calls.__setitem__("n", calls["n"] + 1), unit_filter(docs, lo, hi, last).select("doc_id", "cell_id"))[1])
    died_after = calls["n"]
    assert died_after == 2

    # resume: a fresh checkpoint object re-runs only the missing units
    ck2 = StageCheckpoint(spark, root, "stage1", input_snapshot="snapA")
    assert set(ck2.pending([u[0] for u in units])) == {u[0] for u in units[2:]}
    run_stage(ck2)
    assert calls["n"] == len(units)  # completed units were NOT recomputed

    out = ck2.read_output()
    assert out.count() == docs.count()  # every row exactly once


def test_lineage_resume_after_mid_unit_kill(spark, tmp_path):
    """Kill DURING a unit: its data files exist but neither the unit's
    manifest-swapped snapshot nor its lineage row was committed. Resume
    must re-run exactly that unit and output every row exactly once."""
    docs = spark.createDataFrame(make_docs(400), schema=DOCS_SPARK_SCHEMA).cache()
    root = str(tmp_path / "ckpt_kill")
    units = cell_range_units(docs, n_units=4)
    assert len(units) >= 3

    ck = StageCheckpoint(spark, root, "s", input_snapshot="snapA")
    key0, lo0, hi0 = units[0]
    ck.run_unit(key0, lambda: unit_filter(docs, lo0, hi0, False).select("doc_id", "cell_id"))

    # mid-unit kill on unit 1: parquet files land in the unit dir but the
    # snapshot manifest swap never happens (simulated by writing raw files)
    key1, lo1, hi1 = units[1]
    dead_dir = os.path.join(root, "s", "units", key1.replace("/", "_"), "data", "halfdone")
    unit_filter(docs, lo1, hi1, False).select("doc_id", "cell_id").write.mode("overwrite").parquet(dead_dir)
    assert key1 not in ck.completed()  # the kill left no lineage row

    # resume re-runs unit 1 (and the rest); unit 0 is not recomputed
    ck2 = StageCheckpoint(spark, root, "s", input_snapshot="snapA")
    pend = ck2.pending([u[0] for u in units])
    assert pend == [u[0] for u in units[1:]]
    for i, (key, lo, hi) in enumerate(units):
        if key in pend:
            last = i == len(units) - 1
            ck2.run_unit(key, lambda lo=lo, hi=hi, last=last: unit_filter(docs, lo, hi, last).select("doc_id", "cell_id"))
    out = ck2.read_output()
    assert out.count() == docs.count()  # exactly once, no double-count from the dead files
    assert out.select("doc_id").distinct().count() == docs.count()


def test_concurrent_appends_lose_no_snapshot(spark, tmp_path):
    # two writers racing on one table: the manifest lock must serialize
    # the read-modify-write so neither append is silently dropped
    import threading

    path = str(tmp_path / "tbl_race")
    df = spark.range(10).withColumnRenamed("id", "v")
    ids, errs = [], []

    def go():
        try:
            ids.append(write_table(df, path, mode="append"))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=go) for _ in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert not errs and len(set(ids)) == 2
    from pyogrio_spark.io.writer import _read_manifest

    m = _read_manifest(path)
    assert {s["id"] for s in m["snapshots"]} == set(ids)
    assert read_committed(spark, path).count() == 20  # both appends visible


def test_span_sequence_survives_storage_roundtrip(spark, tmp_path):
    # north-rule invariant: the interleaved span sequence survives a
    # write_table -> read_committed storage round trip byte-identically
    import pandas as pd

    from pyogrio_spark.functions.geo import span_digest

    pdf = pd.DataFrame(
        {
            "doc_id": list(range(20)),
            "spans": [
                [
                    {"kind": "text", "text": f"chunk {i}", "media_ref": None, "offset": 0},
                    {"kind": "media", "text": None, "media_ref": f"m://{i}/0", "offset": 1},
                    {"kind": "text", "text": f"tail {i}", "media_ref": None, "offset": 2},
                ]
                for i in range(20)
            ],
        }
    )
    schema = "doc_id long, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    df = spark.createDataFrame(pdf, schema=schema)
    before = {r.doc_id: r.d for r in df.select("doc_id", span_digest().alias("d")).collect()}
    path = str(tmp_path / "span_tbl")
    write_table(df.repartition(4), path)
    back = read_committed(spark, path)
    after = {r.doc_id: r.d for r in back.select("doc_id", span_digest().alias("d")).collect()}
    assert before == after


def test_compact_table_rewrites_small_files_atomically(spark, tmp_path):
    """Compaction: a fragmented table (32 tiny files) rewrites into few
    target-size files as a NEW overwrite snapshot — same rows, same
    schema, old snapshot id recorded, file count actually reduced."""
    from pyspark.sql import functions as F

    from pyogrio_spark.io.writer import _dir_file_stats, compact_table

    tbl = str(tmp_path / "frag_table")
    df = (
        spark.range(5000)
        .select(
            F.col("id"),
            (F.col("id") % 97).alias("k"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("payload"),
        )
        .repartition(32)
    )
    write_table(df, tbl, mode="overwrite")
    before = current_snapshot(tbl)
    stats = compact_table(spark, tbl, target_bytes=40 << 10)  # ~40 KiB targets
    after = current_snapshot(tbl)

    assert stats["files_before"] == 32
    assert stats["files_after"] < 32 and stats["files_after"] >= 1
    assert stats["rows"] == 5000
    assert after["id"] != before["id"] and after["operation"] == "overwrite"

    got = read_committed(spark, tbl)
    assert got.count() == 5000
    assert set(got.columns) == {"id", "k", "payload"}
    assert got.agg(F.sum("id")).collect()[0][0] == 5000 * 4999 // 2

    # sort_by variant range-clusters: each output file holds a disjoint
    # k-range (parquet min/max pruning actually bites)
    compact_table(spark, tbl, target_bytes=40 << 10, sort_by=["k"])
    cur = current_snapshot(tbl)
    import os as _os

    data_dir = _os.path.join(tbl, cur["data_dirs"][-1])
    parts = sorted(p for p in _os.listdir(data_dir) if p.endswith(".parquet"))
    import pyarrow.parquet as pq

    ranges = []
    for p in parts:
        t = pq.read_table(_os.path.join(data_dir, p), columns=["k"])
        if t.num_rows:
            ks = t["k"].to_pylist()
            ranges.append((min(ks), max(ks)))
    ranges.sort()
    assert len(ranges) > 1
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint (range partitioned)


def test_expire_snapshots_reclaims_unreferenced_dirs(spark, tmp_path):
    """Vacuum after compaction: overwrite-orphaned data dirs are
    deleted, the current snapshot still reads in full, and an append
    after expiry keeps working."""
    import os as _os

    from pyspark.sql import functions as F

    from pyogrio_spark.io.writer import compact_table, expire_snapshots

    tbl = str(tmp_path / "vacuum_table")
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    write_table(df.repartition(8), tbl, mode="overwrite")
    write_table(df.repartition(8), tbl, mode="append")  # 2000 rows now
    compact_table(spark, tbl, target_bytes=1 << 20)

    data_root = _os.path.join(tbl, "data")
    assert len(_os.listdir(data_root)) == 3  # two originals + compacted

    out = expire_snapshots(tbl)
    assert len(out["removed"]) == 2 and len(out["kept"]) == 1
    assert sorted(_os.listdir(data_root)) == [
        _os.path.basename(k) for k in out["kept"]
    ]
    assert read_committed(spark, tbl).count() == 2000

    write_table(df.limit(10), tbl, mode="append")
    assert read_committed(spark, tbl).count() == 2010


def test_compaction_conflict_never_drops_concurrent_append(spark, tmp_path):
    """Optimistic concurrency: an append that lands between a rewrite's
    snapshot read and its commit makes the stale commit fail with
    SnapshotConflict (direct write_table) and makes compact_table
    retry from the NEW current — the appended rows survive."""
    from pyspark.sql import functions as F

    from pyogrio_spark.io.writer import SnapshotConflict, compact_table

    tbl = str(tmp_path / "occ_table")
    df = spark.range(500).select(F.col("id"))
    write_table(df.repartition(8), tbl, mode="overwrite")
    stale = current_snapshot(tbl)["id"]

    # the race: another writer commits while our rewrite is in flight
    write_table(df.selectExpr("id + 1000 AS id"), tbl, mode="append")

    with pytest.raises(SnapshotConflict, match="advanced"):
        write_table(df, tbl, mode="overwrite", expected_current_id=stale)

    # compact_table re-reads current and keeps both halves
    stats = compact_table(spark, tbl, target_bytes=1 << 20)
    assert stats["rows"] == 1000
    got = read_committed(spark, tbl)
    assert got.count() == 1000
    assert got.filter("id >= 1000").count() == 500


def test_expire_snapshots_spares_inflight_uncommitted_dir(spark, tmp_path):
    """write_table lands data BEFORE taking the manifest lock; a
    concurrent expiry must not delete that in-flight dir (round-5
    ADVICE: doing so loses the writer's about-to-commit snapshot).
    Uncommitted dirs younger than the retention age are kept; old dead
    ones are reclaimed."""
    import os as _os

    from pyspark.sql import functions as F

    from pyogrio_spark.io.writer import expire_snapshots

    tbl = str(tmp_path / "inflight_table")
    df = spark.range(100).select(F.col("id"))
    write_table(df, tbl, mode="overwrite")
    write_table(df, tbl, mode="overwrite")  # first dir now unreferenced

    # simulate a writer mid-flight: data dir exists, not in manifest
    inflight = _os.path.join(tbl, "data", "deadbeefdeadbeef")
    _os.makedirs(inflight)
    open(_os.path.join(inflight, "part-0.parquet"), "w").close()

    out = expire_snapshots(tbl)
    assert len(out["removed"]) == 1          # superseded committed dir goes
    assert out["kept_orphans"] == ["deadbeefdeadbeef"]
    assert _os.path.isdir(inflight)          # in-flight dir survives

    # aged past retention -> reclaimed as a dead write
    old = __import__("time").time() - 7 * 86400
    _os.utime(inflight, (old, old))
    out2 = expire_snapshots(tbl)
    assert out2["removed"] == ["deadbeefdeadbeef"]
    assert not _os.path.isdir(inflight)


def test_upsert_table_merge_semantics(spark, tmp_path):
    """COW MERGE: matched keys replaced, unmatched survive, new keys
    insert — one atomic overwrite snapshot."""
    from pyogrio_spark.io.writer import upsert_table

    tbl = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k bigint, v string")
    upsert_table(spark, tbl, base, keys=["k"])
    updates = spark.createDataFrame(
        [(3, "NEW3"), (7, "NEW7"), (100, "NEW100")], "k bigint, v string"
    )
    res = upsert_table(spark, tbl, updates, keys=["k"])
    assert res["matched"] == 2 and res["inserted"] == 1 and res["rows"] == 11
    got = {r["k"]: r["v"] for r in read_committed(spark, tbl).collect()}
    assert got[3] == "NEW3" and got[7] == "NEW7" and got[100] == "NEW100"
    assert got[0] == "v0" and len(got) == 11
    # snapshot history: two snapshots, current is the merge
    assert current_snapshot(tbl)["operation"] == "overwrite"


def test_upsert_table_conflict_retry_keeps_concurrent_append(spark, tmp_path):
    """An append landing between the upsert's read and commit must
    survive: the upsert recomputes from the new current."""
    from pyogrio_spark.io import writer as W

    tbl = str(tmp_path / "merge_conflict")
    base = spark.createDataFrame([(i, "old") for i in range(5)], "k bigint, v string")
    W.upsert_table(spark, tbl, base, keys=["k"])

    real_write = W.write_table
    raced = {"done": False}

    def racing_write(df, path, **kw):
        # first commit attempt: sneak an append in just before it, so
        # the validate-and-swap sees an advanced table exactly once
        if not raced["done"] and kw.get("expected_current_id"):
            raced["done"] = True
            extra = spark.createDataFrame([(999, "appended")], "k bigint, v string")
            real_write(extra, path, mode="append")
        return real_write(df, path, **kw)

    W.write_table, orig = racing_write, W.write_table
    try:
        res = W.upsert_table(spark, tbl, spark.createDataFrame([(2, "NEW2")], "k bigint, v string"), keys=["k"])
    finally:
        W.write_table = orig
    got = {r["k"]: r["v"] for r in read_committed(spark, tbl).collect()}
    assert got[999] == "appended", "concurrent append was clobbered by the upsert"
    # 5 base rows + the raced append, k=2 replaced in place -> 6
    assert got[2] == "NEW2" and res["rows"] == 6


def test_delete_from_table(spark, tmp_path):
    from pyogrio_spark.io.writer import delete_from_table, upsert_table

    tbl = str(tmp_path / "del_tbl")
    base = spark.createDataFrame([(i, i % 3) for i in range(30)], "k bigint, bucket bigint")
    upsert_table(spark, tbl, base, keys=["k"])
    res = delete_from_table(spark, tbl, "bucket = 1")
    assert res["deleted"] == 10 and res["rows"] == 20
    assert read_committed(spark, tbl).filter("bucket = 1").count() == 0


def test_delete_from_table_null_predicate_keeps_rows(spark, tmp_path):
    """SQL DELETE WHERE removes only rows where the predicate is TRUE;
    NULL-predicate rows (nullable column) must survive the delete."""
    from pyogrio_spark.io.writer import delete_from_table, upsert_table

    tbl = str(tmp_path / "del_null_tbl")
    base = spark.createDataFrame(
        [(0, 5), (1, None), (2, 20), (3, None), (4, 7)], "k bigint, score bigint"
    )
    upsert_table(spark, tbl, base, keys=["k"])
    res = delete_from_table(spark, tbl, "score > 10")
    # only k=2 matches TRUE; the two NULL-score rows are kept
    assert res["deleted"] == 1 and res["rows"] == 4
    kept = {r["k"] for r in read_committed(spark, tbl).collect()}
    assert kept == {0, 1, 3, 4}


def test_upsert_table_rejects_duplicate_key_updates(spark, tmp_path):
    """MERGE contract: multiple source rows per key is ambiguous and
    must fail fast (Delta/Iceberg raise), not silently corrupt the
    keyed-table invariant."""
    import pytest as _pytest
    from pyogrio_spark.io.writer import upsert_table

    tbl = str(tmp_path / "merge_dup_tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    upsert_table(spark, tbl, base, keys=["k"])
    dup_updates = spark.createDataFrame(
        [(1, "x"), (1, "y"), (3, "z")], "k bigint, v string"
    )
    with _pytest.raises(ValueError, match="multiple rows"):
        upsert_table(spark, tbl, dup_updates, keys=["k"])
    # table unchanged
    got = {r["k"]: r["v"] for r in read_committed(spark, tbl).collect()}
    assert got == {1: "a", 2: "b"}
