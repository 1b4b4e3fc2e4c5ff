"""GeoPackage source parity against the reference's own fixtures:
curve/curvepolygon/multisurface layer-type downgrades
(/root/reference/pyogrio/tests/test_core.py:311-316) and the
test_gpkg_nulls numeric-null typing matrix
(/root/reference/pyogrio/tests/test_raw_io.py:968-979)."""

import numpy as np
import pytest

from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.io.geopackage import list_layers, read_geopackage, read_geopackage_pdf

FIX = "/root/reference/pyogrio/tests/fixtures"


@pytest.mark.parametrize(
    "f,want",
    [("curve", "LineString"), ("curvepolygon", "Polygon"), ("multisurface", "MultiPolygon")],
)
def test_curve_layer_types_downgrade(f, want):
    layers = list_layers(f"{FIX}/{f}.gpkg")
    assert len(layers) == 1 and layers[0][1] == want
    pdf, info = read_geopackage_pdf(f"{FIX}/{f}.gpkg")
    assert info["geometry_type"] == want
    for b in pdf.geometry_wkb:
        assert W.parse_wkb(b).type == want  # curves linearized at parse


def test_gpkg_nulls_typing_matrix():
    pdf, info = read_geopackage_pdf(f"{FIX}/test_gpkg_nulls.gpkg")
    assert info["features"] == 4  # 3 value rows + 1 all-null row
    num_cols = [c for c in pdf.columns if c.startswith("col_")]
    assert len(num_cols) == 11
    for c in num_cols:
        assert np.isnan(pdf[c].iloc[-1])  # last row is null everywhere
        if c == "col_float32":
            assert pdf[c].dtype == np.float32
        else:
            assert pdf[c].dtype == np.float64  # nullable numerics -> float64
    assert pdf.col_int64.tolist()[:3] == [1.0, 2.0, 3.0]
    assert pdf.col_float64.tolist()[:3] == [1.5, 2.5, 3.5]
    # geometry: 2-D points (0,0) (1,1) (2,2) + null
    pts = [W.parse_wkb(b).coords.tolist() if b is not None else None for b in pdf.geometry_wkb]
    assert pts[:3] == [[0.0, 0.0], [1.0, 1.0], [2.0, 2.0]]
    assert info["crs"] == "EPSG:4326"


def test_read_geopackage_spark_composes(spark):
    df = read_geopackage(spark, f"{FIX}/test_gpkg_nulls.gpkg", where="col_int64 = 2")
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["col_float64"] == 2.5


def test_line_zm_keeps_z_strips_m():
    # reference: "Measured (M) geometry types are not supported ...
    # converted to 'LineString Z'" (test_core.py:304-310)
    pdf, info = read_geopackage_pdf(f"{FIX}/line_zm.gpkg")
    assert info["geometry_type"] == "LineString Z"  # M stripped, Z kept — reference parity
    g = W.parse_wkb(pdf.geometry_wkb.iloc[0])
    assert g.type == "LineString" and g.has_z
    assert g.coords.shape[1] == 3  # M gone, Z kept


def test_write_read_roundtrip(tmp_path):
    from pyogrio_spark.io.geopackage import write_geopackage
    import pandas as pd

    pts = [W.encode_point(float(i), float(i) / 2) for i in range(5)]
    pdf = pd.DataFrame(
        {
            "geometry_wkb": pts,
            "name": [f"n{i}" for i in range(5)],
            "score": np.arange(5, dtype=np.float64) * 1.5,
            "count": np.arange(5, dtype=np.int64),
        }
    )
    out = str(tmp_path / "rt.gpkg")
    write_geopackage(pdf, out, layer="pts")
    back, info = read_geopackage_pdf(out)
    assert info["layer_name"] == "pts" and info["features"] == 5
    assert info["geometry_type"] == "Point" and info["crs"] is None  # written with no CRS
    assert [bytes(b) for b in back.geometry_wkb] == pts  # WKB byte-identical round trip
    assert back.name.tolist() == pdf.name.tolist()
    assert back["count"].tolist() == [0, 1, 2, 3, 4]
    assert np.allclose(back.score, pdf.score)
    assert list_layers(out) == [["pts", "Point"]]


def test_roundtrip_reference_fixture_content(tmp_path):
    # read a reference fixture, write it through our GPKG writer, read it
    # back: geometry WKB and attributes survive byte/value-identical
    from pyogrio_spark.io.geopackage import write_geopackage

    src, _ = read_geopackage_pdf(f"{FIX}/test_gpkg_nulls.gpkg")
    out = str(tmp_path / "nulls_rt.gpkg")
    write_geopackage(src.drop(columns=["fid"]), out, layer="t")
    back, info = read_geopackage_pdf(out)
    assert info["features"] == len(src)
    a = [None if b is None else bytes(b) for b in src.geometry_wkb]
    b = [None if x is None else bytes(x) for x in back.geometry_wkb]
    assert a == b
    for c in [c for c in src.columns if c.startswith("col_") and c != "col_bool"]:
        x, y = src[c].to_numpy(np.float64), back[c].to_numpy(np.float64)
        assert ((x == y) | (np.isnan(x) & np.isnan(y))).all(), c


def test_distributed_scan_matches_single_node(spark, tmp_path):
    """read_geopackage(distributed=True) must return the same rows/WKB as the
    driver-side reader, through genuinely partitioned pk-range chunks."""
    import pandas as pd

    from pyogrio_spark.io.geopackage import read_geopackage, write_geopackage

    n = 257
    pdf = pd.DataFrame(
        {
            "name": [f"r{i}" for i in range(n)],
            "rank": np.arange(n, dtype=np.int64),
            "score": np.arange(n, dtype=np.float64) / 7.0,
            "geometry_wkb": [W.encode_point(float(i % 50), float(i % 37)) for i in range(n)],
        }
    )
    path = str(tmp_path / "dist.gpkg")
    write_geopackage(pdf, path, layer="pts")
    # inject a NULL into the declared-INTEGER column: the distributed
    # path must keep it BIGINT (nullable), not fall back to double
    import sqlite3

    con = sqlite3.connect(path)
    con.execute('UPDATE "pts" SET "rank" = NULL WHERE "fid" = 4')
    con.commit()
    con.close()

    dist = read_geopackage(spark, path, distributed=True, chunk_rows=64)
    # 257 rows / 64-pk chunks -> 5 genuinely separate scan partitions
    assert dist.rdd.getNumPartitions() == 5
    got = dist.toPandas().sort_values("fid").reset_index(drop=True)
    want = read_geopackage(spark, path).toPandas().sort_values("fid").reset_index(drop=True)
    assert len(got) == len(want) == n
    assert got.name.tolist() == want.name.tolist()
    assert got.geometry_wkb.tolist() == want.geometry_wkb.tolist()
    # the SPARK schema keeps BIGINT (toPandas renders nullable bigint as
    # float64 — a pandas conversion, not a schema fallback)
    assert dict(dist.dtypes)["rank"] == "bigint"
    assert got["rank"].isna().iloc[3]
    # single-node interchange path keeps its pandas parity convention
    # (nullable int -> float64); values agree where defined
    np.testing.assert_allclose(
        got["rank"].astype("float64").to_numpy(), want["rank"].astype("float64").to_numpy()
    )
    np.testing.assert_allclose(got.score.to_numpy(), want.score.to_numpy())
    # composes with read_table filters like every other source
    f = read_geopackage(
        spark, path, distributed=True, chunk_rows=64, where="score > 30", columns=["name", "score"]
    ).toPandas()
    assert (f.score > 30).all() and list(f.columns) == ["name", "score", "geometry_wkb"]
