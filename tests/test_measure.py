"""Planar measures, convex hull, simplify, and Web-Mercator transforms
(the GeoSeries.area/length/centroid/convex_hull/simplify/to_crs surface,
GEOS-free kernels in geometry/measure.py + Spark wrappers)."""

import numpy as np
import pandas as pd
import pytest

from pyogrio_spark.geometry import measure as M
from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.geometry.predicates import points_in_ring


def _rect(x0, y0, x1, y1):
    return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)], dtype=float)


def test_area_length_centroid_closed_forms():
    g = W.parse_wkb(W.encode_polygon([_rect(1, 2, 5, 8)]))
    assert M.area(g) == pytest.approx(24.0)
    assert M.length(g) == pytest.approx(20.0)
    assert M.centroid(g) == pytest.approx((3.0, 5.0))
    # hole subtracts from area, adds to perimeter, shifts centroid
    hole = _rect(2, 3, 3, 4)[::-1]
    gh = W.parse_wkb(W.encode_polygon([_rect(1, 2, 5, 8), hole]))
    assert M.area(gh) == pytest.approx(23.0)
    assert M.length(gh) == pytest.approx(24.0)
    cx, cy = M.centroid(gh)
    assert cx == pytest.approx((24 * 3.0 - 1 * 2.5) / 23)
    assert cy == pytest.approx((24 * 5.0 - 1 * 3.5) / 23)
    # triangle
    tri = np.array([(0.0, 0.0), (4.0, 0.0), (0.0, 3.0), (0.0, 0.0)])
    gt = W.parse_wkb(W.encode_polygon([tri]))
    assert M.area(gt) == pytest.approx(6.0)
    assert M.length(gt) == pytest.approx(12.0)
    assert M.centroid(gt) == pytest.approx((4 / 3, 1.0))
    # lines: length-weighted centroid, zero area
    line = W.parse_wkb(W.encode_linestring(np.array([(0.0, 0.0), (4.0, 0.0), (4.0, 2.0)])))
    assert M.area(line) == 0.0
    assert M.length(line) == pytest.approx(6.0)
    assert M.centroid(line) == pytest.approx(((2.0 * 4 + 4.0 * 2) / 6, (0.0 * 4 + 1.0 * 2) / 6))
    # points: vertex mean
    mp = W.parse_wkb(W.encode_multipoint(np.array([(0.0, 0.0), (2.0, 4.0)])))
    assert M.centroid(mp) == pytest.approx((1.0, 2.0))
    # multipolygon sums
    g2 = W.parse_wkb(W.encode_multipolygon([[_rect(0, 0, 1, 1)], [_rect(10, 10, 12, 11)]]))
    assert M.area(g2) == pytest.approx(3.0)
    assert M.centroid(g2)[0] == pytest.approx((0.5 * 1 + 11.0 * 2) / 3)
    assert M.area(None) == 0.0 and M.length(None) == 0.0


def test_convex_hull_properties():
    rng = np.random.default_rng(7)
    pts = rng.normal(0, 10, (60, 2))
    g = W.parse_wkb(W.encode_multipoint(pts))
    hull = W.parse_wkb(M.convex_hull(g))
    assert hull.type == "Polygon"
    ring = hull.coords[0]
    # CCW shell, closed
    assert np.array_equal(ring[0], ring[-1])
    assert M._ring_area_signed(ring) > 0
    # hull vertices are input points
    in_set = {tuple(p) for p in pts}
    assert all(tuple(v) in in_set for v in ring[:-1])
    # every input point inside-or-on the hull (shrink test: interior pts strictly inside)
    inside = points_in_ring(pts[:, 0], pts[:, 1], ring, include_boundary=True)
    assert inside.all()
    # degenerate: collinear -> LineString of extremes; single point -> Point
    col = W.parse_wkb(M.convex_hull(W.parse_wkb(W.encode_multipoint(np.array([(0.0, 0.0), (1.0, 1.0), (2.0, 2.0)])))))
    assert col.type == "LineString" and np.allclose(col.coords, [(0, 0), (2, 2)])
    pt = W.parse_wkb(M.convex_hull(W.parse_wkb(W.encode_point(3.0, 4.0))))
    assert pt.type == "Point"


def test_simplify_douglas_peucker():
    # dense arc: simplification error bounded by tol, endpoints kept
    t = np.linspace(0, np.pi, 200)
    arc = np.column_stack([np.cos(t), np.sin(t)])
    g = W.parse_wkb(W.encode_linestring(arc))
    tol = 0.05
    simp = W.parse_wkb(M.simplify(g, tol))
    assert simp.type == "LineString" and 2 < len(simp.coords) < 60
    assert np.allclose(simp.coords[0], arc[0]) and np.allclose(simp.coords[-1], arc[-1])
    # every original vertex within tol of the simplified path
    sc = np.asarray(simp.coords)
    for p in arc:
        d = np.inf
        for i in range(len(sc) - 1):
            seg = sc[i + 1] - sc[i]
            ll = seg @ seg
            u = np.clip(((p - sc[i]) @ seg) / ll, 0, 1) if ll else 0.0
            d = min(d, float(np.hypot(*(p - (sc[i] + u * seg)))))
        assert d <= tol + 1e-12
    # tol=0 keeps all (no collinear runs on a strict arc interior)
    assert len(W.parse_wkb(M.simplify(g, 0.0)).coords) == len(arc)
    # polygon rings keep closure; collapse drops the ring
    sq = W.parse_wkb(W.encode_polygon([_rect(0, 0, 10, 10)]))
    s = W.parse_wkb(M.simplify(sq, 1.0))
    ring = s.coords[0]
    assert np.array_equal(ring[0], ring[-1]) and len(ring) == 5
    assert M.simplify(W.parse_wkb(W.encode_polygon([_rect(0, 0, 0.1, 0.1)])), 5.0) is None


def test_mercator_roundtrip_and_known_values():
    lon = np.array([0.0, 180.0, -123.5, 31.2])
    lat = np.array([0.0, 0.0, 45.25, -80.0])
    x, y = M.lonlat_to_mercator(lon, lat)
    assert x[0] == 0.0 and y[0] == 0.0
    assert x[1] == pytest.approx(20037508.342789244)
    lon2, lat2 = M.mercator_to_lonlat(x, y)
    assert np.allclose(lon2, lon, atol=1e-9) and np.allclose(lat2, lat, atol=1e-9)
    # geometry transform keeps structure (and Z)
    gz = W.parse_wkb(W.encode_linestring(np.array([(0.0, 0.0, 7.0), (10.0, 20.0, 8.0)])))
    out = W.parse_wkb(M.transform_geom(gz, M.lonlat_to_mercator))
    assert out.has_z and out.coords[0][2] == 7.0
    assert out.coords[1][0] == pytest.approx(10 * np.pi / 180 * 6378137.0)


def test_spark_wrappers_and_codegen_exprs(spark):
    from pyspark.sql import functions as F

    from pyogrio_spark.functions.geo import (
        convex_hull_column,
        measure_columns,
        mercator_x_expr,
        mercator_y_expr,
        reproject_column,
        simplify_column,
    )

    pdf = pd.DataFrame(
        {
            "gid": np.arange(3, dtype=np.int64),
            "geometry_wkb": [
                W.encode_polygon([_rect(0, 0, 2, 3)]),
                W.encode_linestring(np.array([(0.0, 0.0), (3.0, 4.0)])),
                None,
            ],
            "lon": [10.0, -45.0, 0.0],
            "lat": [50.0, -20.0, 0.0],
        }
    )
    df = spark.createDataFrame(pdf, schema="gid bigint, geometry_wkb binary, lon double, lat double")
    m = {r["gid"]: r for r in measure_columns(df).collect()}
    assert m[0]["area"] == pytest.approx(6.0) and m[0]["length"] == pytest.approx(10.0)
    assert m[1]["area"] == 0.0 and m[1]["length"] == pytest.approx(5.0)
    assert m[2]["cx"] is None  # NaN -> null through Spark

    hull = df.filter("gid = 1").select(convex_hull_column().alias("h")).first()["h"]
    assert W.parse_wkb(bytes(hull)).type == "LineString"
    simp = df.filter("gid = 0").select(simplify_column(0.1).alias("s")).first()["s"]
    assert W.parse_wkb(bytes(simp)).type == "Polygon"

    # codegen exprs match the numpy kernel; geometry reproject matches too
    got = df.select(
        "lon", "lat",
        mercator_x_expr("lon").alias("mx"), mercator_y_expr("lat").alias("my"),
    ).collect()
    for r in got:
        x, y = M.lonlat_to_mercator(np.array([r["lon"]]), np.array([r["lat"]]))
        assert r["mx"] == pytest.approx(float(x[0]), abs=1e-6)
        assert r["my"] == pytest.approx(float(y[0]), abs=1e-6)
    g3857 = df.select(reproject_column("EPSG:3857").alias("g"), "gid").filter("gid = 0").first()["g"]
    rt = M.transform_geom(W.parse_wkb(bytes(g3857)), M.mercator_to_lonlat)
    orig = W.parse_wkb(pdf.geometry_wkb[0])
    assert np.allclose(W.parse_wkb(rt).coords[0], orig.coords[0], atol=1e-9)


def test_clip_by_rect():
    from pyogrio_spark.geometry.measure import clip_by_rect

    # rect x rect = interval intersection, exact corners
    g = W.parse_wkb(W.encode_polygon([_rect(0, 0, 10, 10)]))
    c = W.parse_wkb(clip_by_rect(g, 5, 5, 20, 20))
    assert c.type == "Polygon"
    assert M.area(c) == pytest.approx(25.0)
    x0, y0, x1, y1 = W.bounds(W.encode_geom(c))
    assert (x0, y0, x1, y1) == (5.0, 5.0, 10.0, 10.0)
    # fully inside -> unchanged shape (same area/bounds)
    inside = W.parse_wkb(clip_by_rect(g, -5, -5, 50, 50))
    assert M.area(inside) == pytest.approx(100.0)
    # disjoint -> None
    assert clip_by_rect(g, 100, 100, 110, 110) is None
    # triangle clipped by a half-covering window
    tri = W.parse_wkb(W.encode_polygon([np.array([(0.0, 0.0), (10.0, 0.0), (0.0, 10.0), (0.0, 0.0)])]))
    ct = W.parse_wkb(clip_by_rect(tri, 0, 0, 5, 20))
    # area left of x=5: total 50 minus right triangle (5..10) area 12.5
    assert M.area(ct) == pytest.approx(37.5)
    # hole survives clipping when inside the window
    holed = W.parse_wkb(W.encode_polygon([_rect(0, 0, 10, 10), _rect(2, 2, 4, 4)[::-1]]))
    ch = W.parse_wkb(clip_by_rect(holed, 0, 0, 6, 6))
    assert M.area(ch) == pytest.approx(36.0 - 4.0)
    # line crossing the window: clipped to the chord
    line = W.parse_wkb(W.encode_linestring(np.array([(-5.0, 5.0), (15.0, 5.0)])))
    cl = W.parse_wkb(clip_by_rect(line, 0, 0, 10, 10))
    assert cl.type == "LineString" and np.allclose(cl.coords, [(0, 5), (10, 5)])
    # line weaving in and out -> MultiLineString pieces
    zig = W.parse_wkb(
        W.encode_linestring(np.array([(-5.0, 2.0), (5.0, 2.0), (5.0, 20.0), (8.0, 20.0), (8.0, 2.0), (15.0, 2.0)]))
    )
    cz = W.parse_wkb(clip_by_rect(zig, 0, 0, 10, 10))
    assert cz.type == "MultiLineString" and len(cz.coords) == 2
    # points
    assert clip_by_rect(W.parse_wkb(W.encode_point(3.0, 3.0)), 0, 0, 10, 10) is not None
    assert clip_by_rect(W.parse_wkb(W.encode_point(30.0, 3.0)), 0, 0, 10, 10) is None
    mp = W.parse_wkb(W.encode_multipoint(np.array([(1.0, 1.0), (50.0, 50.0)])))
    kept = W.parse_wkb(clip_by_rect(mp, 0, 0, 10, 10))
    assert kept.type == "Point"


def test_clip_properties_hypothesis():
    """Random convex-ish polygons and windows: clipping never grows
    area, output bounds stay inside the window, and clipping is
    idempotent."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyogrio_spark.geometry.measure import clip_by_rect

    @settings(max_examples=60, deadline=None)
    @given(
        cx=st.floats(-50, 50), cy=st.floats(-50, 50),
        r=st.floats(1, 30), n=st.integers(3, 12),
        wx=st.floats(-60, 40), wy=st.floats(-60, 40),
        ww=st.floats(5, 60), wh=st.floats(5, 60),
    )
    def check(cx, cy, r, n, wx, wy, ww, wh):
        ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
        ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])[::-1]  # CCW -> reversed = CW? orientation-agnostic kernels
        g = W.parse_wkb(W.encode_polygon([ring]))
        a0 = M.area(g)
        out = clip_by_rect(g, wx, wy, wx + ww, wy + wh)
        if out is None:
            return
        cg = W.parse_wkb(out)
        a1 = M.area(cg)
        assert a1 <= a0 + 1e-9
        x0, y0, x1, y1 = W.bounds(out)
        assert x0 >= wx - 1e-9 and y0 >= wy - 1e-9 and x1 <= wx + ww + 1e-9 and y1 <= wy + wh + 1e-9
        # idempotent
        again = clip_by_rect(cg, wx, wy, wx + ww, wy + wh)
        assert again is not None and M.area(W.parse_wkb(again)) == pytest.approx(a1, abs=1e-9)

    check()


def test_crs_reproject_end_to_end(spark, tmp_path):
    """Story test: read a 4326 dataset, reproject geometries to 3857,
    write with crs=3857, and read_info reports the new CRS."""
    import os

    from pyogrio_spark.compat import read_dataframe, read_info, write_dataframe
    from pyogrio_spark.functions.geo import reproject_column
    from pyogrio_spark.io.dispatch import open_table

    src = str(tmp_path / "src.gpkg")
    pdf = pd.DataFrame(
        {
            "name": ["a", "b"],
            "geometry": [W.encode_point(10.0, 50.0), W.encode_point(-45.0, -20.0)],
        }
    )
    write_dataframe(pdf, src, crs="EPSG:4326")
    assert read_info(src)["crs"] == "EPSG:4326"

    df = open_table(spark, src)
    merc = df.withColumn("geometry_wkb", reproject_column("EPSG:3857")).toPandas()
    out = str(tmp_path / "merc.fgb")
    write_dataframe(
        merc.rename(columns={"geometry_wkb": "geometry"}), out, crs="EPSG:3857"
    )
    info = read_info(out)
    assert info["crs"] == "EPSG:3857"
    back = read_dataframe(out)
    g = W.parse_wkb(bytes(back.geometry.iloc[0]))
    x, y = M.lonlat_to_mercator(np.array([10.0]), np.array([50.0]))
    assert g.coords[0] == pytest.approx(float(x[0])) and g.coords[1] == pytest.approx(float(y[0]))
    assert back.attrs["crs"] == "EPSG:3857"


def test_explode_geometry(spark):
    """GeoSeries.explode: multis fan out to their parts with part_idx,
    singles pass through, nulls keep one row."""
    from pyogrio_spark.functions.geo import explode_geometry

    mp = W.encode_multipoint(np.array([(0.0, 0.0), (1.0, 1.0), (2.0, 2.0)]))
    poly = W.encode_polygon([_rect(0, 0, 1, 1)])
    mpoly = W.encode_multipolygon([[_rect(0, 0, 1, 1)], [_rect(5, 5, 7, 8)]])
    pdf = pd.DataFrame(
        {
            "gid": np.arange(4, dtype=np.int64),
            "geometry_wkb": [mp, poly, mpoly, None],
        }
    )
    df = spark.createDataFrame(pdf, schema="gid bigint, geometry_wkb binary")
    out = explode_geometry(df).toPandas()
    assert len(out) == 3 + 1 + 2 + 1
    g0 = out[out.gid == 0].sort_values("part_idx")
    assert [W.parse_wkb(bytes(b)).type for b in g0.geometry_wkb] == ["Point"] * 3
    assert g0.part_idx.tolist() == [0, 1, 2]
    g1 = out[out.gid == 1]
    assert len(g1) == 1 and bytes(g1.geometry_wkb.iloc[0]) == poly
    g2 = out[out.gid == 2].sort_values("part_idx")
    areas = sorted(M.area(W.parse_wkb(bytes(b))) for b in g2.geometry_wkb)
    assert areas == pytest.approx([1.0, 6.0])
    g3 = out[out.gid == 3]
    assert len(g3) == 1 and g3.geometry_wkb.iloc[0] is None and pd.isna(g3.part_idx.iloc[0])


def test_geodesic_measures():
    from pyogrio_spark.geometry.measure import EARTH_R, area_geodesic, length_geodesic

    # 1-degree square at the equator: ~(111.19 km)^2, perimeter ~4*111.19 km
    sq = W.parse_wkb(W.encode_polygon([_rect(0, 0, 1, 1)]))
    a = area_geodesic(sq)
    km = np.pi / 180 * EARTH_R / 1e3  # one degree of arc in km
    assert a / 1e6 == pytest.approx(km * km, rel=2e-4)
    p = length_geodesic(sq)
    assert p / 1e3 == pytest.approx(4 * km, rel=2e-4)
    # same square at 60N: parallels shrink by ~cos(60) = 0.5, meridians don't
    hi = W.parse_wkb(W.encode_polygon([_rect(0, 60, 1, 61)]))
    assert area_geodesic(hi) < 0.55 * a
    # hemispheres: half the sphere (exactly, by the closed form)
    hemi = W.parse_wkb(W.encode_polygon([np.array(
        [(-180.0, -90.0), (180.0, -90.0), (180.0, 90.0), (-180.0, 90.0), (-180.0, -90.0)]
    )]))
    assert area_geodesic(hemi) == pytest.approx(4 * np.pi * EARTH_R**2, rel=1e-12)
    # hole subtracts
    holed = W.parse_wkb(W.encode_polygon([_rect(0, 0, 10, 10), _rect(2, 2, 3, 3)[::-1]]))
    assert area_geodesic(holed) < area_geodesic(W.parse_wkb(W.encode_polygon([_rect(0, 0, 10, 10)])))
    # lines: haversine length; meridian degree is exact arc
    mer = W.parse_wkb(W.encode_linestring(np.array([(5.0, 0.0), (5.0, 1.0)])))
    assert length_geodesic(mer) == pytest.approx(np.pi / 180 * EARTH_R, rel=1e-12)


def test_affine_transform(spark):
    from pyspark.sql import functions as F

    from pyogrio_spark.functions.geo import affine_transform_column
    from pyogrio_spark.geometry.measure import affine_transform

    g = W.parse_wkb(W.encode_polygon([_rect(0, 0, 2, 3)]))
    # translate(5, -1)
    t = W.parse_wkb(affine_transform(g, [1, 0, 0, 1, 5, -1]))
    assert W.bounds(W.encode_geom(t)) == (5.0, -1.0, 7.0, 2.0)
    # scale x2 about origin doubles lengths, quadruples area
    s = W.parse_wkb(affine_transform(g, [2, 0, 0, 2, 0, 0]))
    assert M.area(s) == pytest.approx(4 * M.area(g))
    # rotate 90 deg CCW about origin: (x,y)->(-y,x)
    r = W.parse_wkb(affine_transform(g, [0, -1, 1, 0, 0, 0]))
    assert W.bounds(W.encode_geom(r)) == (-3.0, 0.0, 0.0, 2.0)
    assert M.area(r) == pytest.approx(M.area(g))
    # Z passes through; column wrapper agrees with the kernel
    gz = W.encode_linestring(np.array([(0.0, 0.0, 9.0), (1.0, 1.0, 8.0)]))
    tz = W.parse_wkb(affine_transform(W.parse_wkb(gz), [1, 0, 0, 1, 10, 10]))
    assert tz.has_z and tz.coords[0][2] == 9.0
    df = spark.createDataFrame(
        pd.DataFrame({"geometry_wkb": [W.encode_geom(g)]}), schema="geometry_wkb binary"
    )
    got = df.select(affine_transform_column([1, 0, 0, 1, 5, -1]).alias("t")).first()["t"]
    assert bytes(got) == affine_transform(g, [1, 0, 0, 1, 5, -1])
