"""The three workloads: inputs, one timed operation, its check, and the
traced run's per-layer measurements.

Why these three (see README.md for the layer -> metric map):

* pip_join - point docs carrying span payloads joined to irregular
  polygons: cover build, the Arrow-batched Python refine and the committed
  table write, with no file-format decoding.
* knn_join - small probe batches placed on cell edges and in empty
  regions so every call expands its search ring at least once: many small
  Spark jobs, i.e. driver planning and scheduling, not geometry.  It is
  not one of BENCHMARK.json's workloads (see README.md); traced runs of
  the other two measure its layer with isolated calls.
* vector_convert - FlatGeobuf to Shapefile with bbox, where and column
  pushdown: the Python format codecs on both sides and no join.
"""

from __future__ import annotations

import os
import shutil
import statistics
import struct
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
import oracle
from tracing import covered_seconds, node_metric, node_seconds, plan_nodes

K = 10


def _median(values, default=0.0) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else default


class Workload:
    name = ""
    sizes: dict = {}  # input size name -> (benchmark size, smoke size)
    features_per_op = 0
    probe_smoke = True  # probe_layers runs on the smoke sizes

    def __init__(self, seed: int, work: str, smoke: bool = False) -> None:
        self.seed = seed
        self.work = work
        self.size = {k: v[1] if smoke else v[0] for k, v in self.sizes.items()}

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def generate(self) -> str:
        """Build the inputs from the seed; returns their digest."""
        raise NotImplementedError

    def commit(self, spark) -> None:
        """Write the inputs where the engine reads them (part of set-up)."""

    def prepare_oracle(self) -> None:
        """Expected outputs for this seed (once per run, outside set-up)."""

    def op(self, spark, tr, i: int):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        """Errors in one operation's output ([] when it matches)."""
        return []

    def finish(self) -> list[str]:
        """Checks deferred to after the timed window."""
        return []

    def probe(self, spark, tr, errors: list[str]) -> dict:
        """Time this workload's layers in isolation (see probe_layers);
        output errors go to ``errors``."""
        return {}

    def layer_metrics(self, tr, log, op_spans, results) -> dict:
        """Traced run only: per-layer metrics of the traced operations."""
        return {}


# ------------------------------------------------------------------ helpers


def _op_executions(log, op_span) -> list[dict]:
    ids = sorted({j.execution for j in op_span.jobs_all if j.execution is not None})
    return [log.plans[i] for i in ids if i in log.plans]


def _sum_metric(log, plans, node_name: str, metric: str) -> int:
    return sum(node_metric(log, n, metric) for p in plans for n, _ in plan_nodes(p) if n["nodeName"] == node_name)


def _spatial_join_counts(log, plans) -> dict:
    """Candidate and refine counts from the join's final plan: a Union of
    the branch that goes through the Python refine (MapInPandas) and the
    branches that skip it (full-cover cells; rectangle zones when any
    exist). Each branch's broadcast join outputs that branch's candidates."""
    out = {"skip": 0, "refine_rows": 0, "refined": 0, "python_bytes": 0}

    def join_rows(node) -> int:
        return sum(node_metric(log, m, "number of output rows") for m, _ in plan_nodes(node)
                   if m["nodeName"] == "BroadcastHashJoin")

    for p in plans:
        for n, _ in plan_nodes(p):
            if n["nodeName"] != "Union":
                continue
            for branch in n["children"]:
                refine = next((m for m, _ in plan_nodes(branch) if m["nodeName"] == "MapInPandas"), None)
                if refine is None:
                    out["skip"] += join_rows(branch)
                    continue
                out["refine_rows"] += join_rows(branch)
                out["refined"] += node_metric(log, refine, "number of output rows")
                out["python_bytes"] += (node_metric(log, refine, "data sent to Python workers")
                                        + node_metric(log, refine, "data returned from Python workers"))
    return out


def spark_metrics(log, op_spans, cores: int) -> dict:
    """Per-op Spark numbers summed over the jobs each op started."""
    if not op_spans:
        return {}
    tot: dict[str, float] = {}
    wall = 0.0
    for s in op_spans:
        wall += s.duration
        stages = {st for j in s.jobs_all for st in j.stages}
        for st in stages:
            for k, v in log.stage_metrics.get(st, {}).items():
                tot[k] = tot.get(k, 0) + v
        plans = _op_executions(log, s)
        tot["py_init_s"] = tot.get("py_init_s", 0) + sum(
            node_seconds(log, n, "time to initialize Python workers")
            for p in plans for n, _ in plan_nodes(p) if n["nodeName"] in ("MapInPandas", "ArrowEvalPython"))
    n = len(op_spans)
    run_s = tot.get("run_ms", 0) / 1e3
    return {
        "spark.executor_run_s": run_s / n,
        "spark.executor_cpu_s": tot.get("cpu_ns", 0) / 1e9 / n,
        "spark.core_busy_frac": run_s / (wall * cores) if wall else 0.0,
        "spark.shuffle_write_bytes": tot.get("shuffle_write", 0) / n,
        "spark.spill_bytes": (tot.get("spill_mem", 0) + tot.get("spill_disk", 0)) / n,
        "spark.tasks": tot.get("tasks", 0) / n,
        "spark.python_init_s": tot.get("py_init_s", 0) / n,
    }


def knn_job_metrics(op_spans) -> dict:
    """Spark jobs per knn_join call and the call's time no job covers."""
    if not op_spans:
        return {}
    return {
        "operators.knn.jobs": sum(len(s.jobs_all) for s in op_spans) / len(op_spans),
        "operators.knn.driver_gap_s": _median(
            s.duration - covered_seconds([(j.start, j.end) for j in s.jobs_all], s.start, s.end)
            for s in op_spans),
    }


def probe_layers(spark, tr, seed: int, work: str) -> tuple[dict, list[str]]:
    """Traced run only: time every layer in isolation on this seed's
    pip_join, knn_join and vector_convert inputs (smoke-sized where the
    workload allows), whichever workload is running, so every per-layer
    metric is measured on every traced run. Returns the metrics and the
    probes' output errors."""
    m, errors = {}, []
    for cls in (PipJoin, KnnJoin, VectorConvert):
        kit = cls(seed, os.path.join(work, "probe-" + cls.name), smoke=cls.probe_smoke)
        os.makedirs(kit.work, exist_ok=True)
        kit.generate()
        kit.commit(spark)
        m.update(kit.probe(spark, tr, errors))
    return m, errors


def _commit_docs(spark, docs: gen.Docs, work: str) -> str:
    """Docs Parquet written by pyarrow, committed with the engine's writer."""
    from pyogrio_spark import write_table

    raw = os.path.join(work, "docs.parquet")
    pq.write_table(docs.table(), raw)
    path = os.path.join(work, "docs")
    write_table(spark.read.parquet(raw), path, mode="overwrite")
    return path


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return _median(times)


# ----------------------------------------------------------------- pip_join


class PipJoin(Workload):
    """N point docs from a committed table joined to 177 zones; the pairs
    are committed with write_table."""

    name = "pip_join"
    sizes = {"docs": (20_000, 3_000)}

    def generate(self) -> str:
        self.docs = gen.make_docs(self.rng(0), self.size["docs"])
        self.zones = gen.make_zones(self.rng(1))
        self.zone_wkb = self.zones.wkb()
        self.features_per_op = self.size["docs"]
        return gen.digest(self.docs.doc_id, self.docs.lon, self.docs.lat, self.docs.spans, self.zones)

    def commit(self, spark) -> None:
        self.docs_path = _commit_docs(spark, self.docs, self.work)
        self.zones_pdf = pd.DataFrame({"fid": np.arange(len(self.zone_wkb), dtype=np.int64),
                                       "geometry_wkb": self.zone_wkb})

    def prepare_oracle(self) -> None:
        self.expect = oracle.pip_pairs(self.docs, self.zones)
        self.expect_digest = oracle.pair_digest(self.expect)

    def _join(self, spark, tr):
        from pyogrio_spark import read_committed
        from pyogrio_spark.operators import point_in_polygon_join, zones_cell_cover

        with tr.span("io.reader.read_committed"):
            docs = read_committed(spark, self.docs_path)
        with tr.span("index.cover.zones_cell_cover"):
            cover = zones_cell_cover(spark, self.zones_pdf, res=gen.RES)
        with tr.span("operators.spatial_join.point_in_polygon_join"):
            return point_in_polygon_join(docs, cover, keep_doc_cols=["doc_id", "spans"]), cover

    def op(self, spark, tr, i: int):
        from pyogrio_spark import write_table

        out = os.path.join(self.work, f"pairs-{i}")
        pairs, _ = self._join(spark, tr)
        with tr.span("io.writer.write_table"):
            write_table(pairs, out, mode="overwrite")
        return out

    def check(self, out) -> list[str]:
        try:
            return oracle.check_pairs(oracle.read_committed_table(out), self.expect,
                                      self.expect_digest, self.docs.spans)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def probe(self, spark, tr, errors: list[str]) -> dict:
        from pyogrio_spark import write_table
        from pyogrio_spark.geometry import PreparedPolygon

        m = {}
        # public kernels on this seed's zones and the docs inside each zone's box
        samples, points = [], 0
        for b in self.zones.bboxes():
            inside = np.flatnonzero((self.docs.lon >= b[0]) & (self.docs.lon <= b[2])
                                    & (self.docs.lat >= b[1]) & (self.docs.lat <= b[3]))[:2048]
            samples.append((self.docs.lon[inside], self.docs.lat[inside]))
            points += inside.size
        prep_s, cont_s = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            preps = [PreparedPolygon(w) for w in self.zone_wkb]
            t1 = time.perf_counter()
            for p, (x, y) in zip(preps, samples):
                p.contains_points(x, y)
            t2 = time.perf_counter()
            prep_s.append((t1 - t0) / len(preps))
            cont_s.append((t2 - t1) / max(points, 1))
        m["geometry.predicates.prepare_us"] = _median(prep_s) * 1e6
        m["geometry.predicates.contains_ns_per_point"] = _median(cont_s) * 1e9

        from pyogrio_spark import read_committed
        from pyogrio_spark.operators import zones_cell_cover

        with tr.span("probe.io.reader"):  # a full scan of the committed docs
            m["io.reader.scan_s"] = _median_time(lambda: read_committed(spark, self.docs_path)
                                                 .write.format("noop").mode("overwrite").save())
        with tr.span("probe.index.cover"):
            m["index.cover.cover_s"] = _median_time(lambda: zones_cell_cover(spark, self.zones_pdf, res=gen.RES))
        # the committed write alone, on the join's materialized output
        with tr.span("probe.io.writer"):
            pairs, cover = self._join(spark, tr)
            m["index.cover.cells"] = cover.count()
            pairs = pairs.cache()
            pairs.count()
            out = os.path.join(self.work, "probe-pairs")
            m["io.writer.write_s"] = _median_time(lambda: write_table(pairs, out, mode="overwrite"))
            pairs.unpersist()
            shutil.rmtree(out, ignore_errors=True)
        return m

    def layer_metrics(self, tr, log, op_spans, results) -> dict:
        m, per_op = {}, []
        for s in op_spans:
            plans = _op_executions(log, s)
            c = _spatial_join_counts(log, plans)
            cand = c["skip"] + c["refine_rows"]
            per_op.append({
                "io.writer.rows_written": _sum_metric(log, plans, "Execute InsertIntoHadoopFsRelationCommand",
                                                      "number of output rows"),
                "operators.spatial_join.candidates": cand,
                "operators.spatial_join.refine_rows": c["refine_rows"],
                "operators.spatial_join.refine_yield": c["refined"] / c["refine_rows"] if c["refine_rows"] else 0.0,
                "operators.spatial_join.python_bytes": c["python_bytes"],
                "index.cover.full_frac": c["skip"] / cand if cand else 0.0,
            })
        for k in per_op[0] if per_op else ():
            m[k] = _median(p[k] for p in per_op)
        return m


# ----------------------------------------------------------------- knn_join


class KnnJoin(Workload):
    """k=10 neighbours of small probe batches against the pip_join docs."""

    name = "knn_join"
    sizes = {"docs": (20_000, 3_000), "probes": (48, 12), "batches": (4, 2)}
    # on the smoke sizes some seeds finish in one ring round, and the
    # operators.knn metrics are about the expansion
    probe_smoke = False

    def generate(self) -> str:
        self.docs = gen.make_docs(self.rng(0), self.size["docs"])
        prng = self.rng(2)
        self.batches = [gen.make_probes(prng, self.size["probes"]) for _ in range(self.size["batches"])]
        self.features_per_op = self.size["probes"]
        return gen.digest(self.docs.doc_id, self.docs.lon, self.docs.lat, self.docs.spans,
                          *[a for b in self.batches for a in b])

    def commit(self, spark) -> None:
        self.docs_path = _commit_docs(spark, self.docs, self.work)

    def prepare_oracle(self) -> None:
        self.expect = [oracle.knn(self.docs, px, py, K) for px, py in self.batches]

    def op(self, spark, tr, i: int):
        from pyogrio_spark import read_committed
        from pyogrio_spark.operators import knn_join
        from pyogrio_spark.operators.knn import LAST_RUN_TRACE

        b = i % len(self.batches)
        px, py = self.batches[b]
        with tr.span("session.create_probes"):
            probes = spark.createDataFrame(pd.DataFrame(
                {"probe_id": np.arange(px.size, dtype=np.int64), "lon": px, "lat": py}))
        with tr.span("io.reader.read_committed"):
            docs = read_committed(spark, self.docs_path)
        with tr.span("operators.knn.knn_join"):
            res = knn_join(probes, docs, k=K, res=gen.RES).toPandas()
        return b, res, [dict(r) for r in LAST_RUN_TRACE]

    def check(self, result) -> list[str]:
        b, res, rounds = result
        want = self.expect[b]
        res = res.sort_values(["probe_id", "rank"])
        errs = []
        if len(res) != want.size or not (res["rank"].to_numpy() == np.tile(np.arange(1, K + 1), want.shape[0])).all():
            return [f"batch {b}: {len(res)} rows / ranks differ from {want.shape[0]} x {K}"]
        got = res["doc_id"].to_numpy().reshape(want.shape)
        bad = int((got != want).any(axis=1).sum())
        if bad:
            errs.append(f"batch {b}: {bad} probes with wrong neighbours or ranks")
        if len(rounds) < 2:  # the workload stops exercising ring expansion; not an output error
            print(f"warning: batch {b} needed {len(rounds)} ring-expansion round(s)", file=sys.stderr)
        return errs

    def _round_metrics(self, traces) -> dict:
        n_probes = self.size["probes"]
        return {
            "operators.knn.rounds": _median(len(t) for t in traces),
            "operators.knn.round0_satisfied_frac": _median(1 - t[0]["pending_after"] / n_probes for t in traces if t),
            "operators.knn.carried_rows": _median(sum(r["carried_rows"] for r in t) for t in traces),
        }

    def probe(self, spark, tr, errors: list[str]) -> dict:
        """One call per probe batch, each checked against the oracle."""
        self.prepare_oracle()
        traces = []
        for i in range(len(self.batches)):
            with tr.span("probe.operators.knn"):
                result = self.op(spark, tr, i)
            errors += [f"knn_join probe: {e}" for e in self.check(result)]
            traces.append(result[2])
        return self._round_metrics(traces)

    def layer_metrics(self, tr, log, op_spans, results) -> dict:
        m = self._round_metrics([r[2] for r in results])
        m.update(knn_job_metrics(op_spans))
        return m


# ----------------------------------------------------------- vector_convert


class VectorConvert(Workload):
    """Indexed FlatGeobuf of polygons -> Shapefile with bbox (the west half
    of the extent), where (pop >= 40000) and three columns pushed down."""

    name = "vector_convert"
    sizes = {"parcels": (1_500, 300)}
    MIN_POP = 40_000
    COLUMNS = ["id", "name", "kind"]

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.outputs: list[str] = []

    def generate(self) -> str:
        self.shapes, self.attrs = gen.make_parcels(self.rng(3), self.size["parcels"])
        self.fgb = gen.flatgeobuf_bytes(self.shapes, self.attrs)
        b = self.shapes.bboxes()
        x0, y0, x1, y1 = b[:, 0].min(), b[:, 1].min(), b[:, 2].max(), b[:, 3].max()
        self.bbox = (float(x0), float(y0), float((x0 + x1) / 2), float(y1))
        self.where = f"pop >= {self.MIN_POP}"
        self.features_per_op = self.size["parcels"]
        return gen.digest(self.fgb)

    def commit(self, spark) -> None:
        self.src = os.path.join(self.work, "parcels.fgb")
        with open(self.src, "wb") as f:
            f.write(self.fgb)

    def prepare_oracle(self) -> None:
        self.expect = oracle.convert_expectation(self.shapes, self.attrs, self.bbox, self.MIN_POP)

    def _read(self, spark):
        from pyogrio_spark import open_table

        return open_table(spark, self.src, distributed=True, bbox=self.bbox, where=self.where, columns=self.COLUMNS)

    def op(self, spark, tr, i: int):
        from pyogrio_spark import convert_dataset

        dst = os.path.join(self.work, f"out-{i}.shp")
        with tr.span("io.dispatch.convert_dataset"):
            convert_dataset(spark, self.src, dst, bbox=self.bbox, where=self.where, columns=self.COLUMNS)
        self.outputs.append(dst)
        return dst

    def finish(self) -> list[str]:
        errs = []
        for dst in self.outputs:
            base = dst[:-4]
            try:
                errs += [f"{os.path.basename(dst)}: {e}" for e in oracle.check_shapefile(base, self.expect)]
            except (OSError, ValueError, KeyError, struct.error) as exc:
                errs.append(f"{os.path.basename(dst)}: unreadable ({exc})")
        return errs

    def probe(self, spark, tr, errors: list[str]) -> dict:
        from pyogrio_spark.geometry.wkb import encode_geom, parse_wkb
        from pyogrio_spark.io.shapefile import write_shapefile_distributed

        m = {}
        # public WKB kernels on this seed's parcels
        wkbs = self.shapes.wkb()
        verts = self.shapes.vertex_count()
        parsed = []
        m["geometry.wkb.parse_ns_per_vertex"] = _median_time(
            lambda: parsed.__setitem__(slice(None), [parse_wkb(w) for w in wkbs])) / verts * 1e9
        m["geometry.wkb.encode_ns_per_vertex"] = _median_time(lambda: [encode_geom(g) for g in parsed]) / verts * 1e9

        # the read half alone (decode + filters), then the write half alone
        counts = []
        with tr.span("probe.io.flatgeobuf"):
            m["io.flatgeobuf.read_s"] = _median_time(lambda: counts.append(self._read(spark).count()))
        m["io.flatgeobuf.features_returned"] = counts[-1]
        df = self._read(spark).cache()
        df.count()
        dst = os.path.join(self.work, "probe-out.shp")
        with tr.span("probe.io.shapefile"):
            m["io.shapefile.write_s"] = _median_time(lambda: write_shapefile_distributed(df, dst, crs="EPSG:4326"))
        df.unpersist()
        m["io.shapefile.bytes_written"] = sum(
            os.path.getsize(dst[:-4] + ext) for ext in (".shp", ".shx", ".dbf"))
        return m


def probe_log_metrics(tr, log, probed: dict) -> dict:
    """Probe metrics that come from the event log: FlatGeobuf features
    decoded by the three read probes (the scan's MapInPandas output), and
    the jobs and driver gap of the knn_join probe calls."""
    reads = [s for s in tr.spans if s.name == "probe.io.flatgeobuf"]
    decoded = _sum_metric(log, [p for s in reads for p in _op_executions(log, s)], "MapInPandas",
                          "number of output rows") / 3
    returned = probed.get("io.flatgeobuf.features_returned", 0)
    m = {"io.flatgeobuf.features_decoded": decoded,
         "io.flatgeobuf.keep_ratio": returned / decoded if decoded else 0.0}
    m.update(knn_job_metrics([s for s in tr.spans if s.name == "probe.operators.knn"]))
    return m
