"""Per-query isolation harness for the optimization rounds (guide §1).

NOT the frozen driver bench (bench.py). This file:
  * times individual queries with the noop sink (guide §1.4) so the
    computation is measured, not the collect/aggregate sink;
  * labels jobs (guide §1.5);
  * dumps .explain("formatted") for each query to plans/r08/;
  * repeats each query N times and reports all samples + min.

Usage:
  python bench_extra.py [query ...]            # default: all HEADLINE
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py \
      --repeat 3 --plans plans/r08 --suffix _before geo_pip_join
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="query names (default: bench.py HEADLINE)")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--plans", default=None, help="directory to write <q><suffix>.txt plans")
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--sink", choices=["noop", "hash"], default="noop",
                    help="noop = write noop sink; hash = bench.py's bit_xor(xxhash64) collect")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pyogrio_spark.session import get_spark
    from pyogrio_spark.queries import QUERIES
    from bench import HEADLINE, _materialize

    names = args.queries or HEADLINE
    spark = get_spark("bench_extra", master=f"local[{cpus}]", shuffle_partitions=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    def run(df):
        if args.sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            _materialize(df)

    if not args.no_warm:
        warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
        for name in names:
            try:
                run(QUERIES[name](spark, warm_dir))
            except Exception:
                pass

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    out: dict[str, dict] = {}
    for name in names:
        if args.plans:
            import io
            from contextlib import redirect_stdout
            buf = io.StringIO()
            with redirect_stdout(buf):
                QUERIES[name](spark, sf_dir).explain("formatted")
            with open(os.path.join(args.plans, f"{name}{args.suffix}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        if args.repeat <= 0:
            continue
        samples = []
        for i in range(args.repeat):
            # each driver bench run is a fresh process: a repeat must not
            # reuse a prior repeat's .cache() via canonicalized-plan match
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"{name} [{i}]")
            t0 = time.perf_counter()
            run(QUERIES[name](spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)

    if out:
        total_min = round(sum(v["min"] for v in out.values()), 3)
        print(json.dumps({"total_min": total_min, "sf_dir": sf_dir, "sink": args.sink,
                          "queries": {k: v["min"] for k, v in out.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
