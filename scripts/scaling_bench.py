"""Scaling-efficiency evidence (BASELINE.json north_rule).

Runs the flagship PIP-join pipeline over a deterministic synthetic docs
table at two parallelism levels (local[8] vs local[32] — the sandbox
stand-in for N vs 4N executors) and reports throughput (docs/sec) at
both plus efficiency = (throughput@32 / throughput@8) / 4.

The timed job is the join itself over materialized input: envelope +
cell_id are persisted table columns in the engine's data model
(FIXTURES.md F1, derived once at ingest), so deriving them is not part
of the recurring query cost. The docs table is generated distributed
(spark.range) — a 100 TB table arrives in thousands of splits, not the
1-2 a toy parquet file would give.

Usage:
  python scripts/scaling_bench.py [n_docs]              # both levels
  python -c "from scripts.scaling_bench import run_once; run_once(8, 200_000_000)"
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_once(cpus: int, n_docs: int, cached: bool = True) -> dict:
    from pyspark.sql import functions as F

    from pyogrio_spark.functions.geo import cell_id_column
    from pyogrio_spark.operators.spatial_join import point_in_polygon_join, zones_cell_cover
    from pyogrio_spark.queries import GEO_RES, LAT_EXPR, LON_EXPR, _zones_pd
    from pyogrio_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    spark = get_spark(
        f"scaling_{cpus}", master=f"local[{cpus}]", shuffle_partitions=2 * cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.range(n_docs, numPartitions=4 * cpus).select(F.col("id").alias("doc_id"))
    docs = docs.withColumn("xmin", F.expr(LON_EXPR)).withColumn("ymin", F.expr(LAT_EXPR))
    docs = docs.withColumn("cell_id", cell_id_column("xmin", "ymin", GEO_RES))
    if cached:
        # in-memory columnar input: the timed region is a cache scan +
        # join — in ONE JVM the cache read is bounded by the shared
        # memory bus, so 8->32-thread efficiency reflects the bus, not
        # the plan (see BENCH/BASELINE.md round-3 notes).
        docs = docs.cache()
        docs.count()
    # cached=False: the scan stage synthesizes rows in whole-stage
    # codegen (pure per-core arithmetic, no shared-bus traffic) — the
    # sandbox stand-in for a real cluster's parquet-decode scan stage,
    # where decode is per-core CPU work local to each executor.

    cover = zones_cell_cover(spark, _zones_pd(), res=GEO_RES, zone_key="zone_id")
    # steady-state protocol: execute the identical join once untimed so
    # BOTH widths are measured with codegen classes compiled and the JVM
    # JIT warm. Without this, whichever width runs first in a session
    # eats the compile cost and the efficiency ratio measures janino/C2,
    # not the plan (measured: cold 8-core 16.1 s vs warm 4.9 s on the
    # same input). Steady-state throughput is the relevant number for a
    # long-running 100 TB job anyway.
    point_in_polygon_join(docs, cover, zone_key="zone_id", keep_doc_cols=["doc_id"]).count()
    t0 = time.perf_counter()
    out = point_in_polygon_join(docs, cover, zone_key="zone_id", keep_doc_cols=["doc_id"])
    n_pairs = out.count()
    wall = time.perf_counter() - t0
    spark.stop()
    return {"cpus": cpus, "docs": n_docs, "pairs": n_pairs, "wall_sec": round(wall, 3),
            "docs_per_sec": round(n_docs / wall, 1)}


def run_once_knn(cpus: int, n_docs: int) -> dict:
    """Join-operator counterpart: kNN join of 100k probes against the
    full corpus (per-cell count histogram planned on the driver, one
    cell-window join with a distance cut, one window rank).

    Index resolution is matched to corpus density — cells should hold
    O(100) docs (res ~ log4(n_docs/100)); at res 7 a 200M-doc corpus
    piles 12k docs into every cell and each doc matches ~55 probe
    windows, a bandwidth-bound 11-billion-row expansion. At res 10 the
    same join expands ~1:1."""
    import math

    from pyspark.sql import functions as F

    from pyogrio_spark.functions.geo import cell_id_column
    from pyogrio_spark.operators.knn import knn_join
    from pyogrio_spark.queries import LAT_EXPR, LON_EXPR
    from pyogrio_spark.session import get_spark

    res = max(5, min(14, int(math.log(max(n_docs, 1) / 100, 4)) + 1))

    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    spark = get_spark(
        f"scaling_knn_{cpus}", master=f"local[{cpus}]", shuffle_partitions=2 * cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.range(n_docs, numPartitions=4 * cpus).select(F.col("id").alias("doc_id"))
    docs = docs.withColumn("xmin", F.expr(LON_EXPR)).withColumn("ymin", F.expr(LAT_EXPR))
    docs = docs.withColumn("cell_id", cell_id_column("xmin", "ymin", res)).cache()
    docs.count()
    probes = docs.filter(F.col("doc_id") < 100_000).select(
        F.col("doc_id").alias("probe_id"), F.col("xmin").alias("lon"), F.col("ymin").alias("lat")
    )
    t0 = time.perf_counter()
    n_out = knn_join(probes, docs, k=10, res=res).count()
    wall = time.perf_counter() - t0
    spark.stop()
    return {"cpus": cpus, "docs": n_docs, "knn_rows": n_out, "wall_sec": round(wall, 3),
            "docs_per_sec": round(n_docs / wall, 1)}


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000_000
    job = sys.argv[2] if len(sys.argv) > 2 else "pip"
    runner = {"pip": run_once, "knn": run_once_knn}[job]
    r8 = runner(8, n_docs)
    r32 = runner(32, n_docs)
    eff = (r32["docs_per_sec"] / r8["docs_per_sec"]) / 4.0
    print(json.dumps({"job": job, "n8": r8, "n32": r32, "scaling_efficiency": round(eff, 3)}))


if __name__ == "__main__":
    main()
