"""Focused tests for the round-8 optimization rewrites: each changed
operator keeps its exact semantics under the new plan shape."""

import sys
import os

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_write_table_footer_count_partitioned(tmp_path, spark):
    """write_table's manifest row count (parquet-footer walk, no second
    job) is exact for plain AND partitioned layouts."""
    from pyogrio_spark.io.writer import current_snapshot, write_table

    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("p"))
    write_table(df, str(tmp_path / "t1"), mode="overwrite")
    assert current_snapshot(str(tmp_path / "t1"))["row_count"] == 1000
    write_table(df, str(tmp_path / "t2"), mode="overwrite", partition_by=["p"])
    assert current_snapshot(str(tmp_path / "t2"))["row_count"] == 1000


def test_read_spread_splits_single_row_group_scan(spark):
    """_read_spread widens a sub-parallelism scan toward the session's
    default parallelism (the test corpora are one parquet row group —
    unsplittable below one task without it), sized at ~256 KB of
    encoded parquet per task so smoke-scale tables don't dissolve into
    near-empty tasks."""
    import math
    import os

    from pyogrio_spark.queries import _read_spread

    path = "/root/testdata/sf0.01/documents.parquet"
    df = _read_spread(spark, path)
    expect = max(2, min(
        spark.sparkContext.defaultParallelism,
        math.ceil(os.path.getsize(path) / (256 * 1024)),
    ))
    assert df.rdd.getNumPartitions() == expect
    assert expect >= 2


def test_read_spread_decides_from_footer_row_groups(spark):
    """sf0.1's documents file (594 KB, one row group) scans as several
    byte-range splits under the session's 64 KiB split floor, but only
    one of them holds rows; _read_spread counts row groups, not splits,
    so every task of its spread gets rows."""
    import math
    import os

    from pyogrio_spark.queries import _read_spread

    path = "/root/testdata/sf0.1/documents.parquet"
    expect = min(spark.sparkContext.defaultParallelism, math.ceil(os.path.getsize(path) / (256 * 1024)))
    df = _read_spread(spark, path)
    nonempty = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert nonempty == expect >= 2
