#!/usr/bin/env python3
"""Seeded, closed-loop spatial benchmark of pyogrio_spark.

    python3 perfbench/run.py --workload pip_join --seed 7 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke

One client per run issues the workload's operation, waits for it, checks
its output against a brute-force oracle and issues the next, until
``--seconds`` have passed.  Set-up is session start, input generation, the
input commit and one warm-up operation; it runs ``SETUPS`` times (the
session is restarted in between, the JVM is not) and ``setup_s`` is their
median.  A cold JVM's first set-up costs 20-30 s on 4 cores, a later one
about 6 s.  The driver JVM compiles with C1 only: with the default tiered
C2 compiler the many small Spark jobs of an operation kept getting faster
for 50 s and more (knn_join: 4.3 s per op down to 2.6 s), so where a run's
window fell in that drift decided its median; with C1 the operations reach
their steady speed within the two warm-up operations.  With ``--trace 1``
operations alternate untraced and traced (spans around each public call,
Spark jobs tagged with the span id, Spark's event log on) until at least
one of each has run, then single layers are timed in isolation, and the
per-layer metrics are printed instead of the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Run it from the repository root: the engine is imported from there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, "_work")

SETUPS = 2
CORES = len(os.sched_getaffinity(0))  # what nproc reports

E2E_UNITS = {
    "features_per_s": "features/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "session.start_s": "s",
    "io.reader.scan_s": "s",
    "io.writer.write_s": "s",
    "io.writer.rows_written": "count",
    "io.flatgeobuf.read_s": "s",
    "io.flatgeobuf.features_decoded": "count",
    "io.flatgeobuf.features_returned": "count",
    "io.flatgeobuf.keep_ratio": "ratio",
    "io.shapefile.write_s": "s",
    "io.shapefile.bytes_written": "bytes",
    "geometry.wkb.parse_ns_per_vertex": "ns/vertex",
    "geometry.wkb.encode_ns_per_vertex": "ns/vertex",
    "geometry.predicates.contains_ns_per_point": "ns/point",
    "geometry.predicates.prepare_us": "us/polygon",
    "index.cover.cover_s": "s",
    "index.cover.cells": "count",
    "index.cover.full_frac": "ratio",
    "operators.spatial_join.candidates": "count",
    "operators.spatial_join.refine_rows": "count",
    "operators.spatial_join.refine_yield": "ratio",
    "operators.spatial_join.python_bytes": "bytes",
    "operators.knn.rounds": "count",
    "operators.knn.round0_satisfied_frac": "ratio",
    "operators.knn.carried_rows": "count",
    "operators.knn.jobs": "count",
    "operators.knn.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.core_busy_frac": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "spark.python_init_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.overhead_s": "s",
}


def _environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Spark's
    Python workers import the engine (without it every refine task fails)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: HotSpot would otherwise keep a counters file in /tmp
    # -XX:TieredStopAtLevel=1: C1 only, see the module docstring
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_session(work: str, event_log: bool):
    from pyogrio_spark import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": work,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def session_alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # a dead JVM surfaces as a py4j connection error
        return False


def shutdown(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if spark is not None:
        try:
            spark.stop()
        except Exception:
            traceback.print_exc()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
    SparkContext._gateway = SparkContext._jvm = SparkContext._active_spark_context = None
    SparkSession._instantiatedSession = SparkSession._activeSession = None


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest latency with at least ten
    samples beyond it, or with fewer than 40 samples at least a quarter of
    them (the upper quartile), so that one slow operation in a short run
    does not become the run's tail."""
    xs = sorted(latencies)
    n = len(xs)
    beyond = min(10, n // 4)
    return xs[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def interquartile_mean(values: list[float]) -> float:
    """Mean of the middle half: the sample's outer quarters are dropped."""
    xs = sorted(values)
    q = len(xs) // 4
    return statistics.fmean(xs[q:len(xs) - q])


class Run:
    def __init__(self, args, work: str) -> None:
        import workloads

        self.args = args
        self.work = work
        self.wl = {w.name: w for w in (workloads.PipJoin, workloads.KnnJoin, workloads.VectorConvert)}[
            args.workload](args.seed, self.work)
        self.spark = None
        self.errors: list[str] = []
        self.attempted = self.failed = 0

    def _op(self, tr, i: int):
        """One operation: returns (latency or None, result). Exceptions,
        oracle mismatches and a dead session count as failures."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                result = self.wl.op(self.spark, tr, i)
            return time.perf_counter() - t0, result
        except Exception:
            self.failed += 1
            traceback.print_exc()
            if not session_alive(self.spark):
                print("session died; restarting", file=sys.stderr)
                shutdown(None)
                self.spark = start_session(self.work, event_log=False)
            return None, None

    def _check(self, result) -> None:
        errs = self.wl.check(result)
        if errs:
            self.failed += 1
            self.errors += errs

    def setup(self) -> dict:
        from tracing import Tracer

        setup_s, session_s, digests, warm = [], [], [], []
        for k in range(SETUPS):
            t0 = time.perf_counter()
            self.spark = start_session(self.work, event_log=self.args.trace and k == SETUPS - 1)
            session_s.append(time.perf_counter() - t0)
            digests.append(self.wl.generate())
            self.wl.commit(self.spark)
            lat, result = self._op(Tracer(), -1 - k)
            setup_s.append(time.perf_counter() - t0)
            if lat is not None:
                warm.append(result)
            if k < SETUPS - 1:
                self.spark.stop()
        if len(set(digests)) != 1:
            self.errors.append(f"input digest differs between set-ups: {digests}")
        self.wl.prepare_oracle()
        for result in warm:
            self._check(result)
        return {"setup_s": setup_s, "session_s": session_s, "digest": digests[0]}

    def measure(self) -> dict:
        from tracing import Tracer, jvm_gc_seconds, tree_peak_rss_bytes

        plain = Tracer()
        self.gc_s: list[float] = []
        self.tracer = Tracer(self.spark.sparkContext) if self.args.trace else plain
        lat = {False: [], True: []}
        self.traced_results = []
        t_start = time.perf_counter()
        i = 0
        # a traced run needs one untraced and one traced op at least
        while time.perf_counter() - t_start < self.args.seconds or (self.args.trace and i < 2):
            traced = bool(self.args.trace) and i % 2 == 1
            tr = self.tracer if traced else plain
            tr.op = i
            gc0 = jvm_gc_seconds(self.spark) if traced else 0.0
            dt, result = self._op(tr, i)
            if dt is not None:
                lat[traced].append(dt)
                self._check(result)
                if traced:
                    self.traced_results.append(result)
                    self.gc_s.append(jvm_gc_seconds(self.spark) - gc0)
            i += 1
        peak_rss = tree_peak_rss_bytes(os.getpid())
        self.errors += self.wl.finish()
        return {"latency": lat, "peak_rss": peak_rss}

    def layers(self) -> dict:
        from tracing import attach_jobs, read_event_log

        import workloads

        probed, errors = workloads.probe_layers(self.spark, self.tracer, self.args.seed, self.work)
        self.errors += errors
        log_path = os.path.join(self.work, self.spark.sparkContext.applicationId)
        self.spark.stop()
        log = read_event_log(log_path)
        attach_jobs(self.tracer, log)
        op_spans = [s for s in self.tracer.spans if s.name == "op"]
        m = dict(probed)
        m.update(workloads.probe_log_metrics(self.tracer, log, probed))
        m.update(self.wl.layer_metrics(self.tracer, log, op_spans, self.traced_results))
        m.update(workloads.spark_metrics(log, op_spans, CORES))
        m["spark.jvm_gc_s"] = statistics.median(self.gc_s) if self.gc_s else 0.0
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        self.tracer.dump(os.path.join(WORK_ROOT, "traces", f"{self.args.workload}-seed{self.args.seed}.jsonl"))
        return m


def report(args, run: Run, setup: dict, meas: dict, layer: dict | None, load: dict) -> None:
    lat_plain, lat_traced = meas["latency"][False], meas["latency"][True]
    lat_all = lat_plain + lat_traced
    metrics, extra = {}, {}
    if layer is None:
        value, pct, n = tail(lat_all) if lat_all else (0.0, 0.0, 0)
        ok = len(lat_all)
        metrics = {
            "features_per_s": run.wl.features_per_op / interquartile_mean(lat_all) if ok else 0.0,
            "op_p50_s": statistics.median(lat_all) if ok else 0.0,
            "op_tail_s": value,
            "setup_s": statistics.median(setup["setup_s"]),
            "peak_rss_mb": meas["peak_rss"] / 2**20,
        }
        units = E2E_UNITS
        extra["op_tail"] = f"p{pct:.1f} of {n} ops"
    else:
        metrics = {k: 0.0 for k in LAYER_UNITS}
        metrics.update(layer)
        metrics["session.start_s"] = statistics.median(setup["session_s"])
        if lat_plain and lat_traced:
            base, traced = statistics.median(lat_plain), statistics.median(lat_traced)
            metrics["trace.overhead_s"] = traced - base
            metrics["trace.overhead_frac"] = traced / base - 1
        units = LAYER_UNITS
    extra.update({
        "workload": args.workload, "seed": args.seed, "input_digest": setup["digest"],
        "setups_s": [round(s, 3) for s in setup["setup_s"]],
        "sessions_s": [round(s, 3) for s in setup["session_s"]], "ops": len(lat_all),
        "fail_frac": run.failed / run.attempted if run.attempted else 0.0,
        "host": load, "errors": run.errors[:20],
    })
    for k, v in metrics.items():
        print(f"{k:45s} {v:16.6f} {units[k]}")
    print(json.dumps(extra))
    os.makedirs(os.path.join(WORK_ROOT, "reports"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{int(bool(args.trace))}.json"
    with open(os.path.join(WORK_ROOT, "reports", name), "w") as f:
        json.dump({"metrics": metrics, **extra, "latencies_s": lat_all}, f, indent=1)
    print(json.dumps({
        "correct": not run.errors, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))


def main_run(args, work: str) -> int:
    import tracing

    run = Run(args, work)
    load0 = tracing.host_load()
    try:
        setup = run.setup()
        meas = run.measure()
        layer = run.layers() if args.trace else None
    finally:
        shutdown(run.spark)
    report(args, run, setup, meas, layer, tracing.load_delta(load0, tracing.host_load()))
    return 0


def main_smoke(seed: int, work: str) -> int:
    """All three workloads on tiny inputs: same seed -> same digest, and
    every output matches the oracle."""
    from tracing import Tracer

    import workloads

    spark, bad = None, []
    try:
        spark = start_session(work, event_log=False)
        for cls in (workloads.PipJoin, workloads.KnnJoin, workloads.VectorConvert):
            wl = cls(seed, os.path.join(work, cls.name), smoke=True)
            os.makedirs(wl.work, exist_ok=True)
            d1, d2 = wl.generate(), wl.generate()
            errs = [] if d1 == d2 else [f"digest {d1} != {d2} for one seed"]
            wl.commit(spark)
            wl.prepare_oracle()
            t0 = time.perf_counter()
            for i in range(2):
                errs += wl.check(wl.op(spark, Tracer(), i))
            errs += wl.finish()
            print(f"{cls.name:15s} digest {d1}  {time.perf_counter() - t0:6.1f} s  "
                  f"{'ok' if not errs else 'FAIL: ' + '; '.join(errs)}")
            bad += errs
    finally:
        shutdown(spark)
    return 1 if bad else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=["pip_join", "knn_join", "vector_convert"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=6)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, all workloads, checks only")
    args = p.parse_args()
    if not args.smoke and not args.workload:
        p.error("--workload is required unless --smoke is given")
    sys.path[:0] = [HERE, ROOT]
    try:
        import pyogrio_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload or 'smoke'}-{args.seed}-{os.getpid()}")
    _environment(work)
    try:
        return main_smoke(args.seed, work) if args.smoke else main_run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
