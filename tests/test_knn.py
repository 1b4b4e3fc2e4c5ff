import pandas as pd
import pytest

from pyogrio_spark.fixtures import DOCS_SPARK_SCHEMA, make_docs, make_knn_probes
from pyogrio_spark.operators.knn import knn_join
from pyogrio_spark.oracle import oracle_knn


@pytest.fixture(scope="module")
def docs_pd():
    return make_docs(1200)


@pytest.fixture(scope="module")
def probes_pd():
    return make_knn_probes(40)


def _norm(df: pd.DataFrame):
    return sorted(map(tuple, df[["probe_id", "doc_id", "rank"]].itertuples(index=False, name=None)))


def test_knn_matches_bruteforce(spark, docs_pd, probes_pd):
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SPARK_SCHEMA)
    probes = spark.createDataFrame(
        probes_pd[["probe_id", "lon", "lat"]], schema="probe_id string, lon double, lat double"
    )
    got = knn_join(probes, docs, k=5).toPandas()
    want = oracle_knn(probes_pd, docs_pd, k=5)
    assert _norm(got) == _norm(want)
    # every probe got exactly k neighbors
    assert got.groupby("probe_id").size().eq(5).all()


def test_knn_k_larger_than_cell_population(spark, docs_pd, probes_pd):
    # force heavy ring expansion: k close to a sparse region's population
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SPARK_SCHEMA)
    probes = spark.createDataFrame(
        probes_pd[["probe_id", "lon", "lat"]].head(8), schema="probe_id string, lon double, lat double"
    )
    got = knn_join(probes, docs, k=25).toPandas()
    want = oracle_knn(probes_pd.head(8), docs_pd, k=25)
    assert _norm(got) == _norm(want)


def test_knn_clamped_window_edge_probe_is_exact(spark):
    # A corner probe at res=2 (n=4): the smallest clamped ring holding a
    # doc is r=2, cells [0,2]^2, and its doc is ~294 deg away; the true
    # nearest (~274 deg) lies in cell (3,0) outside that ring. The
    # distance bound from the ring must widen the window to reach it.
    from pyogrio_spark.index.grid import cell_of

    probes = spark.createDataFrame(
        [("p0", -179.0, -89.0)], schema="probe_id string, lon double, lat double"
    )
    pts = pd.DataFrame(
        {
            "doc_id": ["far_in_window", "near_outside_window"],
            "xmin": [85.0, 95.0],
            "ymin": [40.0, -89.0],
        }
    )
    pts["cell_id"] = cell_of(pts.xmin.to_numpy(), pts.ymin.to_numpy(), 2)
    docs = spark.createDataFrame(pts, schema="doc_id string, xmin double, ymin double, cell_id long")
    got = knn_join(probes, docs, k=1, res=2).toPandas()
    assert got.doc_id.tolist() == ["near_outside_window"]


def test_knn_res_mismatch_raises(spark, docs_pd, probes_pd):
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SPARK_SCHEMA)  # indexed at res=7
    probes = spark.createDataFrame(
        probes_pd[["probe_id", "lon", "lat"]].head(2), schema="probe_id string, lon double, lat double"
    )
    with pytest.raises(ValueError, match="res=7"):
        knn_join(probes, docs, k=1, res=6)


def test_knn_null_probe_coordinates_raise(spark, docs_pd):
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SPARK_SCHEMA)
    probes = spark.createDataFrame(
        [("a", 10.0, 20.0), ("b", None, 20.0), ("c", 10.0, None), ("d", None, None)],
        schema="probe_id string, lon double, lat double",
    )
    # without the check they would silently get no neighbours
    with pytest.raises(ValueError, match="3 probe.*'lon' or 'lat'"):
        knn_join(probes, docs, k=2)


@pytest.mark.parametrize("k", [0, -2])
def test_knn_k_below_one_raises_before_any_job(spark, docs_pd, probes_pd, k):
    docs = spark.createDataFrame(docs_pd, schema=DOCS_SPARK_SCHEMA)
    probes = spark.createDataFrame(
        probes_pd[["probe_id", "lon", "lat"]].head(2), schema="probe_id string, lon double, lat double"
    )
    sc = spark.sparkContext
    sc.setJobGroup("knn_k_below_one", "knn_join with k < 1")
    try:
        with pytest.raises(ValueError, match="k must be >= 1"):
            knn_join(probes, docs, k=k)
        assert list(sc.statusTracker().getJobIdsForGroup("knn_k_below_one")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _haversine_np(plon, plat, dlon, dlat):
    import numpy as np

    R = 6371.0088
    dphi = np.radians(dlat - plat)
    dlmb = np.radians(dlon - plon)
    h = np.sin(dphi / 2) ** 2 + np.cos(np.radians(plat)) * np.cos(np.radians(dlat)) * np.sin(dlmb / 2) ** 2
    return 2 * R * np.arcsin(np.sqrt(np.minimum(h, 1.0)))


def test_knn_haversine_matches_bruteforce(spark, docs_pd, probes_pd):
    import numpy as np

    docs = spark.createDataFrame(docs_pd, schema=DOCS_SPARK_SCHEMA)
    probes = spark.createDataFrame(
        probes_pd[["probe_id", "lon", "lat"]].head(15), schema="probe_id string, lon double, lat double"
    )
    got = knn_join(probes, docs, k=5, metric="haversine").toPandas()
    assert got.groupby("probe_id").size().eq(5).all()
    dl = docs_pd.xmin.to_numpy()
    db = docs_pd.ymin.to_numpy()
    for _, p in probes_pd.head(15).iterrows():
        d = _haversine_np(p.lon, p.lat, dl, db)
        order = np.lexsort((docs_pd.doc_id.to_numpy(), d))[:5]
        want = set(docs_pd.doc_id.to_numpy()[order])
        mine = got[got.probe_id == p.probe_id]
        assert set(mine.doc_id) == want, f"probe {p.probe_id}"
        # distances agree with the numpy formula
        dd = {doc: dist for doc, dist in zip(docs_pd.doc_id.to_numpy()[order], d[order])}
        for _, row in mine.iterrows():
            assert abs(row.dist - dd[row.doc_id]) < 1e-9


def test_knn_haversine_dateline_wraps(spark):
    """The haversine window must wrap at the antimeridian. At res=7 the
    clamped ring the planner counts around a probe at lon 179.9 holds
    only the decoy (589 km away); the true nearest neighbour is 22 km
    away across the dateline in column 0, which only the wrapped window
    columns reach."""
    from pyogrio_spark.index.grid import cell_of

    probes = spark.createDataFrame(
        [("dateline", 179.9, 0.0)], schema="probe_id string, lon double, lat double"
    )
    pts = pd.DataFrame(
        {
            "doc_id": ["near_across_dateline", "decoy_in_window"],
            "xmin": [-179.9, 174.6],
            "ymin": [0.0, 0.0],
        }
    )
    pts["cell_id"] = cell_of(pts.xmin.to_numpy(), pts.ymin.to_numpy(), 7)
    docs = spark.createDataFrame(pts, schema="doc_id string, xmin double, ymin double, cell_id long")
    got = knn_join(probes, docs, k=1, res=7, metric="haversine").toPandas()
    assert got.doc_id.tolist() == ["near_across_dateline"]
    assert abs(got.dist.iloc[0] - _haversine_np(179.9, 0.0, -179.9, 0.0)) < 1e-9


def test_knn_haversine_polar_bound_satisfies_early(spark):
    """The longitude half-width of a polar probe's window comes from the
    cross-track bound R*asin(cos(phi)*sin(lam)) at the probe cell's most
    poleward latitude (85.8 deg here), which stays positive near the
    pole: a probe whose 5th neighbour is 66.7 km away plans a window of
    fewer than all columns, and the result is exact."""
    import numpy as np

    from pyogrio_spark.index.grid import cell_of, cell_to_xy
    from pyogrio_spark.operators.knn import plan_windows

    lats = -84.5 + np.array([0.4, -0.4, 0.5, -0.5, 0.6, -0.6, 0.7, -0.7, 0.8, -0.8])
    pts = pd.DataFrame({"doc_id": [f"d{i}" for i in range(10)], "xmin": 3.0, "ymin": lats})
    pts["cell_id"] = cell_of(pts.xmin.to_numpy(), pts.ymin.to_numpy(), 7)
    docs = spark.createDataFrame(pts, schema="doc_id string, xmin double, ymin double, cell_id long")
    probes = spark.createDataFrame(
        pd.DataFrame({"probe_id": ["south"], "lon": [3.0], "lat": [-84.5]}),
        schema="probe_id string, lon double, lat double",
    )
    got = knn_join(probes, docs, k=5, metric="haversine").toPandas()
    d = _haversine_np(3.0, -84.5, pts.xmin.to_numpy(), pts.ymin.to_numpy())
    order = np.lexsort((pts.doc_id.to_numpy(), d))[:5]
    assert set(got.doc_id) == set(pts.doc_id.to_numpy()[order])
    px, py = cell_to_xy(cell_of([3.0], [-84.5], 7), 7)
    kx, _, _ = plan_windows(pts.cell_id, np.ones(len(pts)), px, py, 5, 7, "haversine")
    assert kx[0] < (1 << 7) // 2


def test_knn_haversine_polar_probe_exact(spark, docs_pd):
    # next to the pole the cross-track bound reaches 1 and the window
    # spans every column; the answer must still be exact
    import numpy as np

    docs = spark.createDataFrame(docs_pd, schema=DOCS_SPARK_SCHEMA)
    probes = spark.createDataFrame(
        pd.DataFrame({"probe_id": ["polar"], "lon": [12.0], "lat": [89.5]}),
        schema="probe_id string, lon double, lat double",
    )
    got = knn_join(probes, docs, k=3, metric="haversine").toPandas()
    d = _haversine_np(12.0, 89.5, docs_pd.xmin.to_numpy(), docs_pd.ymin.to_numpy())
    order = np.lexsort((docs_pd.doc_id.to_numpy(), d))[:3]
    assert set(got.doc_id) == set(docs_pd.doc_id.to_numpy()[order])


def test_within_distance_join_wrap_and_plan(spark):
    """Bounded-distance join: exact pairs vs numpy brute force incl. an
    antimeridian pair (lon wraps modularly in the cell window even
    though planar distance does not); broadcast window, no Python."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from pyogrio_spark.index.grid import cell_expr_sql
    from pyogrio_spark.operators.knn import within_distance_join

    rng = np.random.default_rng(11)
    lon = np.concatenate([rng.uniform(-30, 30, 300), [179.95, -179.95]])
    lat = np.concatenate([rng.uniform(-30, 30, 300), [0.0, 0.05]])
    pdf = pd.DataFrame({"doc_id": np.arange(len(lon), dtype=np.int64), "xmin": lon, "ymin": lat})
    res = 6
    docs = spark.createDataFrame(pdf).withColumn(
        "cell_id", F.expr(cell_expr_sql("xmin", "ymin", res))
    )
    probes = docs.filter("doc_id < 20 or doc_id >= 300").selectExpr(
        "doc_id AS probe_id", "xmin AS lon", "ymin AS lat"
    )
    r = 3.0000017
    out = within_distance_join(probes, docs, radius=r, res=res)
    got = {(x["probe_id"], x["doc_id"]) for x in out.collect()}

    pl = pdf[(pdf.doc_id < 20) | (pdf.doc_id >= 300)]
    want = set()
    for p in pl.itertuples():
        d2 = (pdf.xmin - p.xmin) ** 2 + (pdf.ymin - p.ymin) ** 2
        for did in pdf.doc_id[np.sqrt(d2) < r]:
            want.add((p.doc_id, int(did)))
    assert got == want
    # the antimeridian pair is NOT within planar distance (359.9 degrees
    # apart in unwrapped lon) — the planar metric is unwrapped by
    # contract; the wrap only widens the candidate window safely
    assert (300, 301) not in got and (300, 300) in got

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_within_distance_join_wide_radius_has_no_duplicate_pairs(spark):
    """A radius wider than half the grid (2*kx+1 > n columns) must not
    visit a window column twice, or pairs repeat."""
    import numpy as np
    from pyspark.sql import functions as F

    from pyogrio_spark.index.grid import cell_expr_sql
    from pyogrio_spark.operators.knn import within_distance_join

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({
        "doc_id": np.arange(200, dtype=np.int64),
        "xmin": rng.uniform(-180, 180, 200),
        "ymin": rng.uniform(-90, 90, 200),
    })
    docs = spark.createDataFrame(pdf).withColumn("cell_id", F.expr(cell_expr_sql("xmin", "ymin", 6)))
    probes = docs.filter("doc_id < 5").selectExpr("doc_id AS probe_id", "xmin AS lon", "ymin AS lat")
    got = sorted((r["probe_id"], r["doc_id"]) for r in within_distance_join(probes, docs, radius=200.0, res=6).collect())
    want = sorted(
        (int(p.doc_id), int(d))
        for p in pdf.head(5).itertuples()
        for d in pdf.doc_id[np.hypot(pdf.xmin - p.xmin, pdf.ymin - p.ymin) < 200.0]
    )
    assert got == want


def _docs_frame(spark, lon, lat, ids=None, res=7):
    """Point docs at (lon, lat) with cell_id at ``res``."""
    from pyogrio_spark.index.grid import cell_of

    pts = pd.DataFrame({
        "doc_id": ids if ids is not None else [f"d{i:03d}" for i in range(len(lon))],
        "xmin": lon, "ymin": lat,
    })
    pts["cell_id"] = cell_of(pts.xmin.to_numpy(), pts.ymin.to_numpy(), res)
    return pts, spark.createDataFrame(pts, schema="doc_id string, xmin double, ymin double, cell_id long")


def _probes_frame(spark, lon, lat):
    pdf = pd.DataFrame({"probe_id": [f"p{i}" for i in range(len(lon))], "lon": lon, "lat": lat})
    return pdf, spark.createDataFrame(pdf, schema="probe_id string, lon double, lat double")


def _brute(probes_pd, docs_pd, k, metric):
    """(probe_id, doc_id, rank) of the exact k nearest, ties on doc_id."""
    import numpy as np

    if metric == "planar":
        return _norm(oracle_knn(probes_pd, docs_pd, k))
    out = []
    for p in probes_pd.itertuples():
        d = _haversine_np(p.lon, p.lat, docs_pd.xmin.to_numpy(), docs_pd.ymin.to_numpy())
        for rank, i in enumerate(np.lexsort((docs_pd.doc_id.to_numpy(), d))[:k], start=1):
            out.append((p.probe_id, docs_pd.doc_id.iloc[i], rank))
    return sorted(out)


@pytest.mark.parametrize("metric", ["planar", "haversine"])
def test_knn_empty_docs_returns_empty_frame(spark, metric):
    docs = spark.createDataFrame([], schema="doc_id string, xmin double, ymin double, cell_id long")
    _, probes = _probes_frame(spark, [10.0, -120.0], [20.0, 45.0])
    out = knn_join(probes, docs, k=3, metric=metric)
    assert out.columns == ["probe_id", "doc_id", "dist", "rank"]
    assert [f.dataType.typeName() for f in out.schema.fields] == ["string", "string", "double", "integer"]
    assert out.collect() == []


@pytest.mark.parametrize("metric", ["planar", "haversine"])
def test_knn_k_above_doc_count_returns_every_doc(spark, metric):
    docs_pd, docs = _docs_frame(spark, [-170.0, -20.0, 0.5, 33.0, 120.0, 179.5], [-80.0, 10.0, 0.0, 45.0, -30.0, 85.0])
    probes_pd, probes = _probes_frame(spark, [0.0, 175.0, -60.0], [0.0, -89.0, 60.0])
    got = knn_join(probes, docs, k=10, metric=metric).toPandas()
    assert _norm(got) == _brute(probes_pd, docs_pd, 10, metric)
    for _, g in got.groupby("probe_id"):
        assert sorted(g["rank"]) == list(range(1, 7))


@pytest.mark.parametrize("metric", ["planar", "haversine"])
def test_knn_ties_across_a_cell_line_break_on_doc_id(spark, metric):
    # lon 0 is a column line at res 7; each probe sits on it with two docs
    # at exactly equal distance in the columns on either side
    docs_pd, docs = _docs_frame(
        spark, [1.0, -1.0, -1.0, 1.0, 0.0], [0.5, 0.5, -40.5, -40.5, 3.0], ids=["a", "b", "e", "f", "z"]
    )
    probes_pd, probes = _probes_frame(spark, [0.0, 0.0], [0.5, -40.5])
    got = knn_join(probes, docs, k=2, metric=metric).toPandas()
    assert _norm(got) == _brute(probes_pd, docs_pd, 2, metric)
    first = got[got["rank"] == 1].set_index("probe_id").doc_id.to_dict()
    assert first == {"p0": "a", "p1": "e"}  # east side wins one tie, west side the other


@pytest.mark.parametrize("metric", ["planar", "haversine"])
def test_knn_probe_on_a_cell_corner(spark, metric):
    import numpy as np

    rng = np.random.default_rng(3)
    # (0, 0) is a corner of four cells at res 7; docs around it, some on
    # the cell lines themselves
    lon = np.concatenate([rng.uniform(-6, 6, 60), [0.0, 2.8125, -2.8125, 0.0]])
    lat = np.concatenate([rng.uniform(-6, 6, 60), [1.40625, 0.0, 0.0, -1.40625]])
    docs_pd, docs = _docs_frame(spark, lon, lat)
    probes_pd, probes = _probes_frame(spark, [0.0, 2.8125], [0.0, -1.40625])
    got = knn_join(probes, docs, k=7, metric=metric).toPandas()
    assert _norm(got) == _brute(probes_pd, docs_pd, 7, metric)


def _plan_cases():
    import numpy as np

    rng = np.random.default_rng(17)
    return {
        "empty": (7, np.array([]), np.array([])),
        "sparse": (7, rng.uniform(-180, 180, 5), rng.uniform(-90, 90, 5)),
        "one_cell": (7, rng.uniform(40.0, 42.8, 50), rng.uniform(10.0, 11.4, 50)),
        "clamped_res2": (2, rng.uniform(-180, 180, 30), rng.uniform(-90, 90, 30)),
        "polar": (7, rng.uniform(-180, 180, 80), np.concatenate([rng.uniform(86, 90, 40), rng.uniform(-90, -86, 40)])),
        "antimeridian": (7, np.concatenate([rng.uniform(177, 180, 40), rng.uniform(-180, -177, 40)]),
                         rng.uniform(-60, 60, 80)),
        "uniform": (7, rng.uniform(-180, 180, 2000), rng.uniform(-90, 90, 2000)),
    }


@pytest.mark.parametrize("metric", ["planar", "haversine"])
@pytest.mark.parametrize("case", ["empty", "sparse", "one_cell", "clamped_res2", "polar", "antimeridian", "uniform"])
def test_plan_windows_bounds_hold_anywhere_in_the_probe_cell(case, metric):
    """For probe points anywhere in a probe cell (corners included): the
    true min(k, n_docs)-th neighbour distance is <= D, and every doc
    within D lies in the planned window."""
    import numpy as np

    from pyogrio_spark.index.grid import cell_of, cell_to_xy, cell_width_deg
    from pyogrio_spark.operators.knn import plan_windows

    res, dlon, dlat = _plan_cases()[case]
    n = 1 << res
    cw, ch = cell_width_deg(res)
    cells, counts = np.unique(cell_of(dlon, dlat, res), return_counts=True)
    dx, dy = cell_to_xy(cell_of(dlon, dlat, res), res)
    rng = np.random.default_rng(23)
    edge = [0, n - 1, n // 2]
    px = np.concatenate([rng.integers(0, n, 12), edge, edge, [0, n - 1]])
    py = np.concatenate([rng.integers(0, n, 12), edge, edge[::-1], [n - 1, 0]])
    if len(dlon):  # the docs' own cells and their neighbours
        px = np.concatenate([px, dx[:10], np.clip(dx[:10] + 1, 0, n - 1)])
        py = np.concatenate([py, dy[:10], dy[:10]])
    for k in (1, 7, 60):
        kx, ky, cut = plan_windows(cells, counts, px, py, k, res, metric)
        assert (kx <= n // 2).all() and (ky <= n - 1).all()
        for i in range(len(px)):
            u = np.concatenate([rng.uniform(0, 1, 6), [0.0, 1.0, 0.0, 1.0]])
            v = np.concatenate([rng.uniform(0, 1, 6), [0.0, 1.0, 1.0, 0.0]])
            for plon, plat in zip(-180 + (px[i] + u) * cw, -90 + (py[i] + v) * ch):
                if metric == "planar":
                    d = np.hypot(dlon - plon, dlat - plat)
                else:
                    d = _haversine_np(plon, plat, dlon, dlat)
                if len(d):
                    assert np.sort(d)[min(k, len(d)) - 1] <= cut[i], (case, k, i)
                near = d <= cut[i]
                col = (dx[near] - px[i]) % n
                assert ((col <= min(kx[i], n - 1 - kx[i])) | (col >= n - kx[i])).all(), (case, k, i)
                assert (np.abs(dy[near] - py[i]) <= ky[i]).all(), (case, k, i)
