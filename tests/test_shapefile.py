"""Shapefile source parity against the reference's own naturalearth_lowres
fixture and the values its tests assert
(/root/reference/pyogrio/tests/test_core.py:540-552 — 177 features,
5 fields with dtypes [int64, object x3, float64], total_bounds
(-180, -90, 180, 83.64513), EPSG:4326; :285-301 — MultiPolygon layer)."""

import numpy as np
import pytest

from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.io.shapefile import read_shapefile, read_shapefile_pdf

NE = "/root/reference/pyogrio/tests/fixtures/naturalearth_lowres/naturalearth_lowres.shp"


@pytest.fixture(scope="module")
def ne():
    return read_shapefile_pdf(NE)


def test_naturalearth_info_matches_reference(ne):
    pdf, info = ne
    assert info["features"] == 177 and len(pdf) == 177
    assert info["fields"] == ["pop_est", "continent", "name", "iso_a3", "gdp_md_est"]
    assert info["dtypes"] == ["int64", "object", "object", "object", "float64"]
    assert np.allclose(info["total_bounds"], (-180, -90, 180, 83.64513))
    assert info["geometry_type"] == "MultiPolygon"
    assert info["crs"] == "EPSG:4326" and info["encoding"] == "UTF-8"


def test_naturalearth_wkb_roundtrip_and_bounds(ne):
    pdf, info = ne
    gx0 = gy0 = np.inf
    gx1 = gy1 = -np.inf
    for b in pdf.geometry_wkb:
        g = W.parse_wkb(b)
        assert g.type in ("Polygon", "MultiPolygon")
        # WKB round trip: re-encode and re-parse gives identical coords
        g2 = W.parse_wkb(W.encode_geom(g))
        assert g2.type == g.type
        x0, y0, x1, y1 = W.bounds(b)
        gx0, gy0 = min(gx0, x0), min(gy0, y0)
        gx1, gy1 = max(gx1, x1), max(gy1, y1)
        # every ring closed
        def rings_of(gg):
            if gg.type == "Polygon":
                return gg.coords
            return [r for p in gg.coords for r in p.coords]
        for r in rings_of(g):
            assert np.array_equal(r[0], r[-1])
    assert np.allclose((gx0, gy0, gx1, gy1), info["total_bounds"])


def test_naturalearth_attribute_values(ne):
    pdf, _ = ne
    fiji = pdf[pdf.name == "Fiji"].iloc[0]
    assert fiji.continent == "Oceania" and fiji.iso_a3 == "FJI" and fiji.pop_est == 920938


def test_read_shapefile_spark_filters_compose(spark):
    # full read_table surface over the shapefile source
    df = read_shapefile(spark, NE, where="continent = 'Africa'", columns=["name", "pop_est"])
    rows = df.collect()
    assert 0 < len(rows) < 177
    assert set(df.columns) == {"name", "pop_est", "geometry_wkb"}
    # bbox filter: countries intersecting a box around western Europe
    eu = read_shapefile(spark, NE, bbox=(-10.0, 36.0, 20.0, 60.0))
    names = {r["name"] for r in eu.select("name").collect()}
    assert {"France", "Spain", "Germany"} <= names
    assert "Brazil" not in names


def test_distributed_scan_matches_driver_parse(spark, ne):
    """Byte-range chunked scan (.shx-partitioned mapInPandas) must
    reproduce the driver-side parse exactly: same fids, attributes,
    byte-identical WKB — across multiple chunks."""
    from pyogrio_spark.io.shapefile import read_shapefile

    pdf, _ = ne
    got = (
        read_shapefile(spark, NE, distributed=True, chunk_records=40)
        .toPandas()
        .sort_values("fid")
        .reset_index(drop=True)
    )
    assert len(got) == 177
    assert got.fid.tolist() == pdf.fid.tolist()
    assert [bytes(b) for b in got.geometry_wkb] == [bytes(b) for b in pdf.geometry_wkb]
    assert got["name"].tolist() == pdf["name"].tolist()
    assert got.pop_est.tolist() == pdf.pop_est.tolist()
    assert np.allclose(got.gdp_md_est, pdf.gdp_md_est)


def test_distributed_scan_partitioning_and_filters(spark):
    """The scan must actually fan out (one task per chunk, 5 chunks at
    40 records/chunk for 177 features) and compose with read_table
    filters pushed through mapInPandas output."""
    from pyogrio_spark.io.shapefile import read_shapefile

    df = read_shapefile(spark, NE, distributed=True, chunk_records=40)
    assert df.rdd.getNumPartitions() == 5
    af = read_shapefile(
        spark, NE, distributed=True, chunk_records=40, where="continent = 'Africa'", columns=["name"]
    )
    rows = af.collect()
    assert 0 < len(rows) < 177 and set(af.columns) == {"name", "geometry_wkb"}


def test_shapefile_polygon_hole_assembly():
    # synthesize a shapefile-style ring set: one CW outer + one CCW hole
    from pyogrio_spark.io.shapefile import _assemble_polygons

    outer = np.array([(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)], dtype=float)  # CW
    hole = np.array([(2, 2), (4, 2), (4, 4), (2, 4), (2, 2)], dtype=float)  # CCW
    far_outer = np.array([(20, 0), (20, 5), (25, 5), (25, 0), (20, 0)], dtype=float)  # CW
    groups = _assemble_polygons([outer, hole, far_outer])
    assert len(groups) == 2
    assert any(len(g) == 2 for g in groups)  # hole landed inside the first outer


def test_write_shapefile_roundtrip_naturalearth(ne, tmp_path):
    # full write-side parity: re-write all 177 countries through our
    # .shp/.dbf writer and read them back — geometry WKB byte-identical,
    # attributes value-identical
    from pyogrio_spark.io.shapefile import write_shapefile

    pdf, info = ne
    out = str(tmp_path / "ne_rt.shp")
    write_shapefile(pdf, out)
    back, info2 = read_shapefile_pdf(out)
    assert info2["features"] == 177
    assert info2["fields"] == info["fields"]
    assert info2["geometry_type"] == "MultiPolygon"
    assert np.allclose(info2["total_bounds"], info["total_bounds"])
    a = [bytes(b) for b in pdf.geometry_wkb]
    b = [bytes(b) for b in back.geometry_wkb]
    assert a == b, "WKB round trip must be byte-identical"
    assert back.pop_est.tolist() == pdf.pop_est.tolist()
    assert back["name"].tolist() == pdf["name"].tolist()
    assert np.allclose(back.gdp_md_est, pdf.gdp_md_est)


def test_write_shapefile_points_and_lines(tmp_path):
    from pyogrio_spark.io.shapefile import write_shapefile
    import pandas as pd

    pts = pd.DataFrame(
        {"geometry_wkb": [W.encode_point(1.5, 2.5), W.encode_point(-3.0, 4.0)], "label": ["a", "b"]}
    )
    p = str(tmp_path / "pts.shp")
    write_shapefile(pts, p)
    back, info = read_shapefile_pdf(p)
    assert info["geometry_type"] == "Point" and [bytes(b) for b in back.geometry_wkb] == list(pts.geometry_wkb)
    lines = pd.DataFrame(
        {"geometry_wkb": [W.encode_linestring(np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 0.0]]))], "n": np.array([7], dtype=np.int64)}
    )
    q = str(tmp_path / "lines.shp")
    write_shapefile(lines, q)
    back2, info2 = read_shapefile_pdf(q)
    assert info2["geometry_type"] == "LineString"
    assert [bytes(b) for b in back2.geometry_wkb] == list(lines.geometry_wkb)
    assert back2.n.tolist() == [7]


def test_blank_string_field_reads_back_as_null(spark, tmp_path):
    """A blank DBF C field is null, as OGR reads it, on both placements
    (the empty string has no other spelling in a DBF)."""
    import pandas as pd

    from pyogrio_spark.io.shapefile import write_shapefile

    pdf = pd.DataFrame(
        {"label": ["a", None, ""], "geometry_wkb": [W.encode_point(float(i), 0.0) for i in range(3)]}
    )
    p = str(tmp_path / "labels.shp")
    write_shapefile(pdf, p, crs=4326)
    assert read_shapefile_pdf(p)[0]["label"].tolist() == ["a", None, None]
    rows = read_shapefile(spark, p, distributed=True).orderBy("fid").collect()
    assert [r.label for r in rows] == ["a", None, None]


def test_no_crs_writes_no_prj(spark, tmp_path):
    """crs=None writes no .prj (and drops an overwritten layer's), so the
    layer reads back with no CRS; convert_dataset of a source without a
    CRS gives a shapefile without one, as ogr2ogr does."""
    import pandas as pd

    from pyogrio_spark.io.dispatch import convert_dataset
    from pyogrio_spark.io.flatgeobuf import write_flatgeobuf
    from pyogrio_spark.io.shapefile import write_shapefile

    pdf = pd.DataFrame({"n": np.arange(3, dtype=np.int64),
                        "geometry_wkb": [W.encode_point(float(i), 1.0) for i in range(3)]})
    shp = tmp_path / "pts.shp"
    write_shapefile(pdf, str(shp), crs=32633)
    assert read_shapefile_pdf(str(shp))[1]["crs"] == "EPSG:32633"
    write_shapefile(pdf, str(shp))
    assert not shp.with_suffix(".prj").exists()
    assert read_shapefile_pdf(str(shp))[1]["crs"] is None

    fgb, out = str(tmp_path / "src.fgb"), tmp_path / "out.shp"
    write_flatgeobuf(pdf, fgb)
    info = convert_dataset(spark, fgb, str(out))
    assert info["crs"] is None and not out.with_suffix(".prj").exists()
    assert info["features"] == 3


def test_distributed_sink_roundtrip_and_parity(spark, tmp_path):
    """write_shapefile_distributed: executors encode .shp/.dbf records;
    the driver stream-patches record numbers and builds .shx in one
    sequential pass. Content parity on multi-partition writes;
    byte-identity with the driver-side writer on one partition."""
    import numpy as np
    import pandas as pd

    from pyogrio_spark.io.shapefile import (
        read_shapefile_pdf,
        write_shapefile,
        write_shapefile_distributed,
    )

    n = 300
    pdf = pd.DataFrame(
        {
            "name": [f"row-{i}" for i in range(n)],
            "v": np.arange(n, dtype=np.int64),
            "x": np.arange(n, dtype=np.float64) / 7.0,
            "ok": [bool(i % 2) for i in range(n)],
            "geometry_wkb": [W.encode_point(float(i % 40), float(i // 40)) for i in range(n)],
        }
    )
    pdf.loc[5, "geometry_wkb"] = None
    df = spark.createDataFrame(
        pdf, schema="name string, v bigint, x double, ok boolean, geometry_wkb binary"
    )

    multi = str(tmp_path / "multi.shp")
    write_shapefile_distributed(df.repartition(6, "v"), multi, crs=32633)
    back, info = read_shapefile_pdf(multi)
    assert info["features"] == n and info["crs"] == "EPSG:32633"
    assert sorted(back.v) == list(range(n))
    got = {
        (r.v, r.name, round(r.x, 6), r.ok, None if r.geometry_wkb is None else bytes(r.geometry_wkb))
        for r in back.itertuples()
    }
    want = {
        (r.v, r.name, round(r.x, 6), r.ok, None if r.geometry_wkb is None else bytes(r.geometry_wkb))
        for r in pdf.itertuples()
    }
    assert got == want
    # .shx agrees with a fresh offset walk (the distributed reader uses it)
    from pyogrio_spark.io.shapefile import read_shapefile

    assert read_shapefile(spark, multi, distributed=True, chunk_records=64).count() == n

    one = str(tmp_path / "one.shp")
    write_shapefile_distributed(df.coalesce(1), one, crs=32633)
    ref = str(tmp_path / "ref.shp")
    write_shapefile(pdf.drop(columns=[]), ref, crs=32633)
    for ext in (".shp", ".shx", ".dbf", ".prj", ".cpg"):
        a = open(str(tmp_path / f"one{ext}"), "rb").read()
        b = open(str(tmp_path / f"ref{ext}"), "rb").read()
        assert a == b, ext


def test_null_strings_size_c_fields_like_the_distributed_sink(spark, tmp_path):
    """C field widths come from non-null values only (an all-null column
    gets width 1) in both writers, so the driver writer and a
    one-partition distributed write stay byte-identical when string
    columns hold nulls and multibyte UTF-8."""
    import pandas as pd

    from pyogrio_spark.io.shapefile import _dbf_header, write_shapefile, write_shapefile_distributed

    pdf = pd.DataFrame(
        {
            "s": ["ab", None, "c"],
            "u": ["日本", None, "x"],  # 6 UTF-8 bytes
            "empty": [None, None, None],
            "v": np.arange(3, dtype=np.int64),
            "geometry_wkb": [W.encode_point(float(i), 1.0) for i in range(3)],
        }
    )
    ref = str(tmp_path / "ref.shp")
    write_shapefile(pdf, ref, crs=4326)
    with open(str(tmp_path / "ref.dbf"), "rb") as f:
        _, _, _, fields = _dbf_header(f.read())
    assert [(name, flen) for name, _, flen, _ in fields] == [("s", 2), ("u", 6), ("empty", 1), ("v", 18)]

    df = spark.createDataFrame(
        pdf, schema="s string, u string, empty string, v bigint, geometry_wkb binary"
    )
    one = str(tmp_path / "one.shp")
    write_shapefile_distributed(df.coalesce(1), one, crs=4326)
    for ext in (".shp", ".shx", ".dbf", ".prj", ".cpg"):
        a = open(str(tmp_path / f"one{ext}"), "rb").read()
        b = open(str(tmp_path / f"ref{ext}"), "rb").read()
        assert a == b, ext


def test_distributed_sink_repads_narrower_parts(spark, tmp_path):
    """Parts with different string widths (one empty partition, one
    all-null column): the DBF declares each field at the global maximum
    width, narrower parts are re-laid-out to it, and the content equals
    the driver writer's."""
    import pandas as pd

    from pyogrio_spark.io.shapefile import (
        _dbf_header,
        read_shapefile,
        read_shapefile_pdf,
        write_shapefile,
        write_shapefile_distributed,
    )

    widths = [2, 11, 0, 5]  # per partition; partition 2 ends up empty
    rows = [
        ("n" * (1 + (i % widths[p])) if p != 2 else "", "é" * (p + 1), None, p * 100 + i,
         W.encode_point(float(p), float(i)))
        for p in range(4) for i in range(25)
    ]
    rdd = spark.sparkContext.parallelize(rows, 4).mapPartitionsWithIndex(
        lambda i, it: iter([]) if i == 2 else it
    )
    df = spark.createDataFrame(rdd, schema="name string, tag string, gone string, v bigint, geometry_wkb binary")
    assert df.rdd.glom().map(len).collect() == [25, 25, 0, 25]

    multi = str(tmp_path / "multi.shp")
    write_shapefile_distributed(df, multi, crs=4326)
    with open(str(tmp_path / "multi.dbf"), "rb") as f:
        _, _, _, fields = _dbf_header(f.read())
    assert [(name, flen) for name, _, flen, _ in fields] == [("name", 11), ("tag", 8), ("gone", 1), ("v", 18)]

    pdf = pd.DataFrame([r for r in rows if r[3] // 100 != 2], columns=["name", "tag", "gone", "v", "geometry_wkb"])
    ref = str(tmp_path / "ref.shp")
    write_shapefile(pdf, ref, crs=4326)
    got, _ = read_shapefile_pdf(multi)
    want, _ = read_shapefile_pdf(ref)
    key = ["v"]
    got = got.drop(columns=["fid"]).sort_values(key).reset_index(drop=True)
    want = want.drop(columns=["fid"]).sort_values(key).reset_index(drop=True)
    assert got.drop(columns=["geometry_wkb"]).equals(want.drop(columns=["geometry_wkb"]))
    assert [bytes(b) for b in got.geometry_wkb] == [bytes(b) for b in want.geometry_wkb]
    assert read_shapefile(spark, multi, distributed=True, chunk_records=20).count() == 75


def test_z_geometry_roundtrip(tmp_path):
    """Z shapefile record types (11/13/15/18): write Z geometries, read
    them back with Z intact (M sections written as no-data and stripped
    on read — the engine's documented M handling)."""
    import pandas as pd

    from pyogrio_spark.io.shapefile import read_shapefile_pdf, write_shapefile

    # outer ring already CW (spec orientation) so the writer preserves vertex order
    ring = np.array([(0.0, 0.0, 1.0), (4.0, 4.0, 3.0), (4.0, 0.0, 2.0), (0.0, 0.0, 1.0)])
    cases = {
        "pointz.shp": [W.encode_point(1.0, 2.0, 3.5)],
        "linez.shp": [W.encode_linestring(np.array([(0.0, 0.0, 1.0), (1.0, 1.0, 2.0), (2.0, 0.5, 3.0)]))],
        "polyz.shp": [W.encode_polygon([ring])],
        "mpointz.shp": [W.encode_multipoint(np.array([(0.0, 0.0, 9.0), (5.0, 5.0, 8.0)]))],
        "mlinez.shp": [
            W.encode_multilinestring(
                [np.array([(0.0, 0.0, 1.0), (1.0, 0.0, 2.0)]), np.array([(2.0, 2.0, 3.0), (3.0, 3.0, 4.0)])]
            )
        ],
    }
    for fname, geoms in cases.items():
        p = str(tmp_path / fname)
        write_shapefile(pd.DataFrame({"geometry_wkb": geoms, "tag": ["z"]}), p)
        back, info = read_shapefile_pdf(p)
        got = [bytes(b) for b in back.geometry_wkb]
        if fname == "mlinez.shp":
            # multi-part lines flatten into one PolyLineZ record and come
            # back as the same MultiLineString Z
            assert got == geoms
        else:
            assert got == geoms, fname
        g = W.parse_wkb(got[0])
        assert g.has_z, fname
    # header-only info reports the Z layer type
    from pyogrio_spark.io.shapefile import shapefile_info

    assert shapefile_info(str(tmp_path / "pointz.shp"))["geometry_type"] == "Point Z"
    assert shapefile_info(str(tmp_path / "polyz.shp"))["geometry_type"] == "MultiPolygon Z"


def test_z_wkb_encoders_emit_iso_z_codes():
    """encode_polygon/multi* with 3-column input must emit ISO Z type
    codes (1003-1006), not 2-D codes over 3-col payloads."""
    import struct as _s

    ring = np.array([(0.0, 0.0, 1.0), (4.0, 0.0, 2.0), (4.0, 4.0, 3.0), (0.0, 0.0, 1.0)])
    for wkb, code in [
        (W.encode_polygon([ring]), 1003),
        (W.encode_multipoint(np.array([(0.0, 0.0, 9.0)])), 1004),
        (W.encode_multilinestring([ring[:, :3]]), 1005),
        (W.encode_multipolygon([[ring]]), 1006),
    ]:
        assert _s.unpack_from("<I", wkb, 1)[0] == code
        g = W.parse_wkb(wkb)
        assert g.has_z
        assert bytes(W.encode_geom(g)) == wkb  # byte-stable re-encode
