import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyogrio_spark.fixtures import DOCS_SPARK_SCHEMA, ZONES_SPARK_SCHEMA, make_docs, make_zones
from pyogrio_spark.functions.geo import span_digest
from pyogrio_spark.operators.spatial_join import (
    point_in_polygon_join,
    zones_cell_cover,
    zones_cell_cover_distributed,
)
from pyogrio_spark.oracle import oracle_pip_join


@pytest.fixture(scope="module")
def docs_pd():
    return make_docs(2000)


@pytest.fixture(scope="module")
def zones_pd():
    return make_zones()


@pytest.fixture(scope="module")
def docs_df(spark, docs_pd):
    return spark.createDataFrame(docs_pd, schema=DOCS_SPARK_SCHEMA).cache()


def pairs(df, zone_key="fid"):
    return sorted((r["doc_id"], r[zone_key]) for r in df.select("doc_id", zone_key).collect())


def test_pip_join_matches_oracle(spark, docs_df, docs_pd, zones_pd):
    cover = zones_cell_cover(spark, zones_pd)
    got = pairs(point_in_polygon_join(docs_df, cover, keep_doc_cols=["doc_id"]))
    want = list(oracle_pip_join(docs_pd, zones_pd)[["doc_id", "fid"]].itertuples(index=False, name=None))
    assert got == sorted(want)
    assert len(got) > 100  # non-trivial


def test_pip_join_shuffle_salted_same_result(spark, docs_df, docs_pd, zones_pd):
    from pyogrio_spark.operators.spatial_join import plan_salt_factors

    cover = zones_cell_cover(spark, zones_pd)
    base = pairs(point_in_polygon_join(docs_df, cover, keep_doc_cols=["doc_id"]))
    # every cover cell salted x4
    uniform = cover.select("cell_id").distinct().toPandas().assign(salt_k=4)
    salted = pairs(
        point_in_polygon_join(docs_df, cover, keep_doc_cols=["doc_id"], broadcast_cover=False, salt_plan=uniform)
    )
    plain_shuffle = pairs(point_in_polygon_join(docs_df, cover, keep_doc_cols=["doc_id"], broadcast_cover=False))
    # targeted per-hot-cell plan (hotspot fixture guarantees hot cells exist)
    plan = plan_salt_factors(docs_df, threshold_rows=20)
    assert len(plan) > 0 and (plan.salt_k > 1).any()
    planned = pairs(
        point_in_polygon_join(
            docs_df, cover, keep_doc_cols=["doc_id"], broadcast_cover=False, salt_plan=plan
        )
    )
    # plan determinism: same input -> identical plan
    plan2 = plan_salt_factors(docs_df, threshold_rows=20)
    assert plan.sort_values("cell_id").values.tolist() == plan2.sort_values("cell_id").values.tolist()
    assert base == salted == plain_shuffle == planned


def test_salt_plan_with_broadcast_cover_raises(spark, docs_df, zones_pd):
    from pyogrio_spark.operators.intersects_join import intersects_join
    from pyogrio_spark.operators.spatial_join import plan_salt_factors

    cover = zones_cell_cover(spark, zones_pd)
    plan = plan_salt_factors(docs_df, threshold_rows=20)
    # the broadcast join has no reducers to salt: a plan there is a
    # caller error, not something to ignore
    with pytest.raises(ValueError, match="broadcast_cover=False"):
        point_in_polygon_join(docs_df, cover, keep_doc_cols=["doc_id"], salt_plan=plan)
    with pytest.raises(ValueError, match="broadcast_cover=False"):
        intersects_join(docs_df, cover, salt_plan=plan)


@pytest.mark.parametrize(
    "kwargs, name",
    [({"threshold_rows": 0}, "threshold_rows"), ({"threshold_rows": -3}, "threshold_rows"), ({"max_salt": 0}, "max_salt")],
)
def test_salt_plan_rejects_nonpositive_budget(spark, docs_df, kwargs, name):
    from pyogrio_spark.operators.spatial_join import plan_salt_factors

    with pytest.raises(ValueError, match=name):
        plan_salt_factors(docs_df, **{"threshold_rows": 20, **kwargs})


def test_null_zone_geometry_raises_naming_the_zone(spark, zones_pd):
    zones = zones_pd.copy()
    bad = zones["fid"].iloc[3]
    zones.loc[zones.index[3], "geometry_wkb"] = None
    with pytest.raises(ValueError, match=f"fid={bad!r}"):
        zones_cell_cover(spark, zones)
    zones_df = spark.createDataFrame(zones, schema=ZONES_SPARK_SCHEMA)
    with pytest.raises(Exception, match=f"fid={bad!r}"):
        zones_cell_cover_distributed(zones_df).collect()


def test_distributed_cover_matches_driver_cover(spark, zones_pd):
    zones_df = spark.createDataFrame(zones_pd, schema=ZONES_SPARK_SCHEMA).repartition(3)
    a = zones_cell_cover(spark, zones_pd)
    b = zones_cell_cover_distributed(zones_df)
    assert a.schema == b.schema

    def rows(df):
        return sorted((*r[:-1], tuple(map(tuple, r.edges))) for r in df.collect())

    la, lb = rows(a), rows(b)
    assert la == lb
    assert all(bool(r[-1]) != r[2] for r in la)  # edges on boundary rows only


def test_empty_zone_frame_gives_empty_cover(spark, zones_pd):
    empty = zones_pd.iloc[:0]
    driver = zones_cell_cover(spark, empty)
    distributed = zones_cell_cover_distributed(spark.createDataFrame(empty, schema=ZONES_SPARK_SCHEMA))
    for cover in (driver, distributed):
        assert cover.schema == zones_cell_cover(spark, zones_pd).schema
        assert cover.count() == 0


def test_pip_join_default_keep_doc_cols(spark, docs_df, docs_pd, zones_pd):
    # docs carry xmin/ymin, so the default keeps them as payload too
    out = point_in_polygon_join(docs_df, zones_cell_cover(spark, zones_pd))
    assert out.columns == [c for c in docs_df.columns if c != "geometry_wkb"] + ["fid"]
    want = list(oracle_pip_join(docs_pd, zones_pd)[["doc_id", "fid"]].itertuples(index=False, name=None))
    assert pairs(out) == sorted(want)


def test_spans_survive_pip_join(spark, docs_df, zones_pd):
    cover = zones_cell_cover(spark, zones_pd)
    before = {r["doc_id"]: r["d"] for r in docs_df.select("doc_id", span_digest().alias("d")).collect()}
    out = point_in_polygon_join(docs_df, cover, keep_doc_cols=["doc_id", "spans"])
    after = out.select("doc_id", span_digest().alias("d")).collect()
    assert len(after) > 0
    for r in after:
        assert before[r["doc_id"]] == r["d"], f"span digest drifted for {r['doc_id']}"


def test_full_cover_shortcut_is_exercised(spark, docs_df, zones_pd):
    # the scale story depends on interior cells skipping the refine
    cover = zones_cell_cover(spark, zones_pd)
    n_full = cover.filter("full_cover").count()
    assert n_full > 0
    joined = docs_df.join(F.broadcast(cover), on="cell_id")
    assert joined.filter("full_cover").count() > 0


def test_salting_splits_manufactured_hot_cell(spark):
    """Physical skew evidence (not just result parity): 90% of docs in
    ONE grid cell. Unsalted, that cell's join key lands on a single
    reducer; with a plan_salt_factors plan the same rows spread across
    >= 8 of 32 shuffle partitions and no task holds more than ~a salt
    share of the output."""
    import numpy as np

    from pyogrio_spark.geometry import wkb as W
    from pyogrio_spark.index.grid import cell_of
    from pyogrio_spark.operators.spatial_join import plan_salt_factors

    rng = np.random.default_rng(11)
    n_hot, n_cold_zones, per_cold = 9000, 10, 60

    # hot: one partially-covered cell (rect ends inside the cell, so no
    # full-cover shortcut — every row takes the join+refine path)
    hot_lon = rng.uniform(0.1, 1.0, n_hot)
    hot_lat = rng.uniform(0.1, 0.7, n_hot)
    rows = [("hot%06d" % i, float(hot_lon[i]), float(hot_lat[i])) for i in range(n_hot)]
    zones = [(0, W.encode_polygon([np.array(
        [[0.05, 0.05], [1.15, 0.05], [1.15, 0.75], [0.05, 0.75], [0.05, 0.05]])]))]
    for z in range(n_cold_zones):
        x0 = -150.0 + z * 3.0
        lon = rng.uniform(x0 + 0.1, x0 + 0.9, per_cold)
        lat = rng.uniform(-50.0 + 0.1, -50.0 + 0.7, per_cold)
        rows += [("c%02d_%04d" % (z, i), float(lon[i]), float(lat[i])) for i in range(per_cold)]
        zones.append((z + 1, W.encode_polygon([np.array(
            [[x0 + 0.05, -49.95], [x0 + 0.95, -49.95], [x0 + 0.95, -49.25],
             [x0 + 0.05, -49.25], [x0 + 0.05, -49.95]])])))

    docs_pd = pd.DataFrame(rows, columns=["doc_id", "xmin", "ymin"])
    docs_pd["cell_id"] = cell_of(docs_pd.xmin.to_numpy(), docs_pd.ymin.to_numpy(), 7)
    zones_pd = pd.DataFrame(zones, columns=["fid", "geometry_wkb"])

    docs = spark.createDataFrame(
        docs_pd, schema="doc_id string, xmin double, ymin double, cell_id long"
    ).repartition(8)
    cover = zones_cell_cover(spark, zones_pd)

    old = {
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    # force the shuffle join this test is about (the planner would
    # otherwise auto-broadcast the tiny cover and hide the skew)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_salt_factors(docs, threshold_rows=500)
        assert len(plan) == 1 and int(plan.salt_k.iloc[0]) == 18  # ceil(9000/500)

        def pid_counts(df):
            got = (
                df.withColumn("pid", F.spark_partition_id())
                .groupBy("pid").count().collect()
            )
            return {r["pid"]: r["count"] for r in got}

        unsalted = point_in_polygon_join(
            docs, cover, keep_doc_cols=["doc_id"], broadcast_cover=False
        )
        salted = point_in_polygon_join(
            docs, cover, keep_doc_cols=["doc_id"], broadcast_cover=False, salt_plan=plan
        )
        # same answer first
        assert pairs(salted) == pairs(unsalted) and len(pairs(salted)) == len(rows)

        cu, cs = pid_counts(unsalted), pid_counts(salted)
        total = sum(cu.values())
        # unsalted: the hot cell is one reduce key -> one task owns >=90%
        assert max(cu.values()) / total >= 0.9
        # salted: the same rows spread over many tasks, none dominant
        big = [c for c in cs.values() if c >= 100]
        assert len(big) >= 8, cs
        assert max(cs.values()) / total <= 0.3, cs
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_aqe_skew_join_splits_hot_cell_natively(spark):
    """Production complement to manual salting: with AQE skew-join
    enabled (thresholds scaled to the fixture), the SAME unsalted
    shuffle join gets its hot partition split by OptimizeSkewedJoin —
    plan shows skew=true — and the result is unchanged. At cluster
    scale the engine can therefore rely on AQE for moderate skew and
    reserve plan_salt_factors for the extreme cells AQE's per-partition
    splitting cannot reach (one KEY hotter than a partition)."""
    import numpy as np

    from pyogrio_spark.geometry import wkb as W
    from pyogrio_spark.index.grid import cell_of

    rng = np.random.default_rng(13)
    n_hot = 6000
    hot_lon = rng.uniform(0.1, 1.0, n_hot)
    hot_lat = rng.uniform(0.1, 0.7, n_hot)
    rows = [("hot%06d" % i, float(hot_lon[i]), float(hot_lat[i])) for i in range(n_hot)]
    zones = [(0, W.encode_polygon([np.array(
        [[0.05, 0.05], [1.15, 0.05], [1.15, 0.75], [0.05, 0.75], [0.05, 0.05]])]))]
    docs_pd = pd.DataFrame(rows, columns=["doc_id", "xmin", "ymin"])
    docs_pd["cell_id"] = cell_of(docs_pd.xmin.to_numpy(), docs_pd.ymin.to_numpy(), 7)
    docs = spark.createDataFrame(
        docs_pd, schema="doc_id string, xmin double, ymin double, cell_id long"
    ).repartition(8)
    cover = zones_cell_cover(spark, pd.DataFrame(zones, columns=["fid", "geometry_wkb"]))

    old = {k: spark.conf.get(k) for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.shuffle.partitions",
    )}
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # scale AQE's skew thresholds down to fixture size (defaults are
    # 256MB-scale); factor stays default-ish: hot partition >> median
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    try:
        out = point_in_polygon_join(
            docs, cover, keep_doc_cols=["doc_id"], broadcast_cover=False
        )
        got = out.collect()  # action on THIS frame finalizes its AQE plan
        assert len(got) == n_hot  # every doc inside the one zone
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        ):
            spark.conf.unset(k)


# ---- the JVM-side refine against PreparedPolygon.contains_points ----------

_W, _H = 360.0 / 128, 180.0 / 128  # res-7 cell size


def _gx(k):  # the k-th res-7 cell line in x
    return -180.0 + k * _W


def _gy(k):
    return -90.0 + k * _H


_PREDICATE_ZONES = {
    # axis-aligned rectangles: one with every edge on a cell line, one off the grid
    0: [[[(0.0, 0.0), (2 * _W, 0.0), (2 * _W, 2 * _H), (0.0, 2 * _H), (0.0, 0.0)]]],
    1: [[[(10.5, 10.25), (20.75, 10.25), (20.75, 15.5), (10.5, 15.5), (10.5, 10.25)]]],
    # diamond with 45-degree edges through integer points
    2: [[[(-44.0, 20.0), (-40.0, 24.0), (-36.0, 20.0), (-40.0, 16.0), (-44.0, 20.0)]]],
    # pentagon with a rectangular hole (horizontal edges on both rings)
    3: [[
        [(-100.0, -40.0), (-80.0, -40.0), (-80.0, -25.0), (-90.0, -20.0), (-100.0, -25.0), (-100.0, -40.0)],
        [(-95.0, -35.0), (-85.0, -35.0), (-85.0, -30.0), (-95.0, -30.0), (-95.0, -35.0)],
    ]],
    # two-part multipolygon, one apex on the y = 0 cell line
    4: [
        [[(60.0, -10.0), (70.0, -10.0), (65.0, 0.0), (60.0, -10.0)]],
        [[(72.0, -10.0), (82.0, -10.0), (77.0, -2.0), (72.0, -10.0)]],
    ],
    # L-shape whose vertices and axis-aligned edges all lie on cell lines
    5: [[[(_gx(74), _gy(84)), (_gx(76), _gy(84)), (_gx(76), _gy(85)), (_gx(75), _gy(85)),
          (_gx(75), _gy(87)), (_gx(74), _gy(87)), (_gx(74), _gy(84))]]],
    # triangle with a slanted edge through cell corners
    6: [[[(-3 * _W, -3 * _H), (0.0, 0.0), (-3 * _W, 0.0), (-3 * _W, -3 * _H)]]],
    # notch whose vertical edge sits a hair left of the x = 0 cell line
    7: [[[(-1.0, 30.0), (1.0, 30.0), (1.0, 31.0), (-1e-200, 31.0), (-1e-200, 30.5), (-1.0, 30.5), (-1.0, 30.0)]]],
}

# cell_of puts these in the cell right of x = 0, past the notch edge that
# their ray crosses: only the clipping margin keeps that edge in the cell
_MARGIN_POINTS = [(-1e-100, 30.75), (-1e-100, 30.25), (-1e-200, 30.75)]


def _predicate_zones():
    from pyogrio_spark.geometry import wkb as W

    rows = []
    for fid, parts in _PREDICATE_ZONES.items():
        polys = [[np.array(r, dtype=np.float64) for r in rings] for rings in parts]
        wkb = W.encode_polygon(polys[0]) if len(polys) == 1 else W.encode_multipolygon(polys)
        rows.append((fid, wkb))
    return pd.DataFrame(rows, columns=["fid", "geometry_wkb"])


def _hard_points(zones):
    """Vertices, points along every edge, cell-line lattice points and
    seeded random points around every zone."""
    from pyogrio_spark.geometry.predicates import PreparedPolygon

    rng = np.random.default_rng(3)
    pts = []
    for wkb in zones.geometry_wkb:
        prep = PreparedPolygon(wkb)
        for ring in prep.rings:
            a, b = ring[:-1], ring[1:]
            pts.append(ring)
            for t in (0.25, 0.5, 0.75):
                pts.append(a + t * (b - a))
            # along each horizontal edge's line, inside and beyond it
            for (x0, y0), (x1, y1) in zip(a, b):
                if y0 == y1:
                    xs = np.linspace(min(x0, x1) - 1.0, max(x0, x1) + 1.0, 9)
                    pts.append(np.column_stack([xs, np.full_like(xs, y0)]))
        xmin, ymin, xmax, ymax = prep.bbox
        gx = -180.0 + _W * np.arange(np.floor((xmin + 180.0) / _W) - 1, np.ceil((xmax + 180.0) / _W) + 2)
        gy = -90.0 + _H * np.arange(np.floor((ymin + 90.0) / _H) - 1, np.ceil((ymax + 90.0) / _H) + 2)
        # on the cell lines, and one ulp to either side of them
        for xs, ys in ((gx, gy), (gx, gy + _H / 2), (gx + _W / 2, gy),
                       (np.nextafter(gx, -np.inf), gy + _H / 2), (np.nextafter(gx, np.inf), gy + _H / 2),
                       (gx + _W / 2, np.nextafter(gy, -np.inf)), (gx + _W / 2, np.nextafter(gy, np.inf))):
            mx, my = np.meshgrid(xs, ys)
            pts.append(np.column_stack([mx.ravel(), my.ravel()]))
        pts.append(rng.uniform([xmin - _W, ymin - _H], [xmax + _W, ymax + _H], size=(300, 2)))
    pts.append(np.array(_MARGIN_POINTS))
    return np.unique(np.concatenate(pts), axis=0)


def _docs_in_every_touching_cell(pts):
    """One doc row per (point, cell whose closed box holds it), plus the
    point's own ``cell_of`` cell (``primary``; it can differ from the box
    by an ulp of rounding). A point on a cell line is thus also joined
    through the cell on the other side, which checks each cover row's
    clipped edges (and their margin) for it."""
    from pyogrio_spark.index.grid import cell_of, xy_to_cell

    rows = []
    for i, (x, y) in enumerate(pts):
        own = int(cell_of(x, y, 7))
        gx, gy = (x + 180.0) / _W, (y + 90.0) / _H
        xs = {int(np.floor(gx))} | ({int(gx) - 1} if gx == np.floor(gx) else set())
        ys = {int(np.floor(gy))} | ({int(gy) - 1} if gy == np.floor(gy) else set())
        cells = {int(xy_to_cell(cx, cy, 7)) for cx in xs for cy in ys if 0 <= cx < 128 and 0 <= cy < 128}
        rows += [(f"p{i}:{c}", float(x), float(y), c, c == own) for c in sorted(cells | {own})]
    return pd.DataFrame(rows, columns=["doc_id", "xmin", "ymin", "cell_id", "primary"])


def _expected_pairs(zones, docs_pd, include_boundary):
    """contains_points per zone; a non-primary row can only meet the
    zones whose cover has its cell (the cover is built for ``cell_of``)."""
    from pyogrio_spark.geometry.predicates import PreparedPolygon
    from pyogrio_spark.index.cover import cover_table

    x, y = docs_pd.xmin.to_numpy(), docs_pd.ymin.to_numpy()
    want = []
    for fid, wkb in zip(zones.fid, zones.geometry_wkb):
        hit = PreparedPolygon(wkb).contains_points(x, y, include_boundary=include_boundary)
        cells = cover_table([fid], [wkb], 7)["cell_id"].to_numpy()
        hit &= docs_pd.primary.to_numpy() | docs_pd.cell_id.isin(cells).to_numpy()
        want += [(d, fid) for d in docs_pd.doc_id[hit]]
    return sorted(want)


@pytest.fixture(scope="module")
def predicate_case(spark):
    zones = _predicate_zones()
    docs_pd = _docs_in_every_touching_cell(_hard_points(zones))
    docs = spark.createDataFrame(docs_pd, schema="doc_id string, xmin double, ymin double, cell_id bigint, primary boolean")
    return zones, docs_pd, docs.cache(), zones_cell_cover(spark, zones).cache()


@pytest.mark.parametrize("include_boundary", [False, True])
def test_jvm_refine_matches_contains_points(predicate_case, include_boundary):
    zones, docs_pd, docs, cover = predicate_case
    got = pairs(point_in_polygon_join(docs, cover, keep_doc_cols=["doc_id"], include_boundary=include_boundary))
    assert got == _expected_pairs(zones, docs_pd, include_boundary)
    assert len(got) > 1000


def test_jvm_refine_boundary_semantics(predicate_case):
    """Half-open ray cast by default, closed with include_boundary: a
    rectangle zone is [xmin, xmax) x [ymin, ymax), resp. the closed box."""
    zones, _, docs, cover = predicate_case
    default = set(pairs(point_in_polygon_join(docs, cover, keep_doc_cols=["doc_id"])))
    closed = set(pairs(point_in_polygon_join(docs, cover, keep_doc_cols=["doc_id"], include_boundary=True)))
    assert default < closed

    spark = docs.sparkSession
    probe = [(10.5, 12.0, True), (20.75, 12.0, False), (15.0, 10.25, True), (15.0, 15.5, False),
             (10.5, 10.25, True), (20.75, 15.5, False), (10.5, 15.5, False), (15.0, 12.0, True)]
    rect = _docs_in_every_touching_cell(np.array([(px, py) for px, py, _ in probe]))
    rect_docs = spark.createDataFrame(rect, schema="doc_id string, xmin double, ymin double, cell_id bigint, primary boolean")
    for include_boundary in (False, True):
        out = point_in_polygon_join(rect_docs, cover, keep_doc_cols=["doc_id"], include_boundary=include_boundary)
        inside = {d for d, fid in pairs(out) if fid == 1}
        for d in rect.doc_id:
            _, _, half_open = probe[int(d[1:].split(":")[0])]
            assert (d in inside) == (half_open or include_boundary), (d, include_boundary)
