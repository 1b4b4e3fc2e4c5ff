"""One decoder per file format: ``open_table(p, distributed=False)`` and
``distributed=True`` run the same chunk decoder on the driver or on
executors, so they must give the same schema and the same rows by fid,
with and without bbox/where/columns. The inputs are built here from
``fixtures.make_zones()`` through the engine's own writers, with a
nullable integer column, a zero-feature file and a deleted DBF record.
GeoJSON has no chunk-size argument: its tests shrink the module's
``CHUNK_BYTES`` so a GeoJSONSeq file splits into several chunks."""

import numpy as np
import pandas as pd
import pytest

from pyogrio_spark.fixtures import make_zones
from pyogrio_spark.io import geojson
from pyogrio_spark.io.dispatch import convert_dataset, open_table
from pyogrio_spark.io.flatgeobuf import write_flatgeobuf
from pyogrio_spark.io.geopackage import write_geopackage
from pyogrio_spark.io.shapefile import write_shapefile

# format -> (writer, the reader's chunk-size argument or None)
FORMATS = {
    "shp": (lambda pdf, p: write_shapefile(pdf, p), "chunk_records"),
    "gpkg": (lambda pdf, p: write_geopackage(pdf, p, layer="zones"), "chunk_rows"),
    # indexed, so a bbox also prunes storage in both placements
    "fgb": (lambda pdf, p: write_flatgeobuf(pdf, p, index_node_size=16), "chunk_features"),
    "geojson": (geojson.write_geojson, None),
    "geojsonl": (geojson.write_geojson, None),
}

CASES = {
    "plain": {},
    "bbox": {"bbox": (-60.0, -40.0, 70.0, 45.0)},
    "where": {"where": "pop_est > 5e8 OR rank IS NULL"},
    "columns": {"columns": ["fid", "name", "rank"]},
    "all": {"bbox": (-60.0, -40.0, 70.0, 45.0), "where": "rank >= 40", "columns": ["fid", "rank", "continent"]},
}


def _zones(n: int | None = None) -> pd.DataFrame:
    z = make_zones()
    pdf = z[["pop_est", "continent", "name", "iso_a3", "gdp_md_est", "geometry_wkb"]].copy()
    pdf.insert(0, "rank", pd.array([None if i % 7 == 3 else i for i in range(len(z))], dtype="Int64"))
    return pdf if n is None else pdf.iloc[:n].reset_index(drop=True)


def _write(tmp_path, fmt: str, pdf: pd.DataFrame, stem: str) -> str:
    p = str(tmp_path / f"{stem}.{fmt}")
    FORMATS[fmt][0](pdf, p)
    return p


def _chunked(monkeypatch, fmt: str) -> dict:
    """The read arguments that cut the 177 zones into about 4 chunks."""
    if FORMATS[fmt][1] is None:
        monkeypatch.setattr(geojson, "CHUNK_BYTES", 40 << 10)
        return {}
    return {FORMATS[fmt][1]: 50}


def _by_fid(df) -> dict:
    return {r["fid"]: tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r) for r in df.collect()}


def _assert_same(spark, path: str, **kw) -> tuple:
    drv = open_table(spark, path, distributed=False, **kw)
    dist = open_table(spark, path, distributed=True, **kw)
    assert drv.schema == dist.schema
    got_drv, got_dist = _by_fid(drv), _by_fid(dist)
    assert got_drv == got_dist
    return drv, got_drv


@pytest.mark.parametrize("case", list(CASES))
@pytest.mark.parametrize("fmt", list(FORMATS))
def test_placements_agree(spark, tmp_path, monkeypatch, fmt, case):
    path = _write(tmp_path, fmt, _zones(), "zones")
    kw = dict(CASES[case], **_chunked(monkeypatch, fmt))  # 177 features -> 4 chunks
    df, rows = _assert_same(spark, path, **kw)
    assert dict(df.dtypes)["rank"] == "bigint"
    want = _zones()
    if case == "plain":
        assert len(rows) == len(want)
        rank = df.columns.index("rank")
        assert sum(r[rank] is None for r in rows.values()) == want["rank"].isna().sum()
    elif case in ("bbox", "where", "all"):
        assert 0 < len(rows) < len(want)


@pytest.mark.parametrize("fmt", list(FORMATS))
def test_zero_feature_file(spark, tmp_path, monkeypatch, fmt):
    path = _write(tmp_path, fmt, _zones(0), "empty")
    df, rows = _assert_same(spark, path, **_chunked(monkeypatch, fmt))
    assert rows == {}
    dst = str(tmp_path / f"empty_{fmt}_out.shp")
    info = convert_dataset(spark, path, dst)
    assert info["features"] == 0
    if fmt.startswith("geojson"):  # JSON declares no fields: none without a feature
        assert df.columns == ["fid", "geometry_wkb"] and info["fields"] == []
        return
    types = dict(df.dtypes)
    assert types["rank"] == "bigint" and types["name"] == "string" and types["pop_est"] == "double"
    assert "name" in info["fields"]


def _delete_record(path: str, rec: int) -> None:
    """Set the DBF deletion flag of record ``rec`` (dBase: '*')."""
    import struct

    dbf = path[:-4] + ".dbf"
    with open(dbf, "r+b") as f:
        hsize, rsize = struct.unpack("<HH", (f.read(12))[8:12])
        f.seek(hsize + rec * rsize)
        f.write(b"*")


@pytest.mark.parametrize("distributed", [False, True])
def test_deleted_dbf_record_is_skipped(spark, tmp_path, distributed):
    from pyogrio_spark.io.shapefile import read_shapefile_pdf

    path = _write(tmp_path, "shp", _zones(5), "five")
    want = read_shapefile_pdf(path)[0].drop(index=2)
    _delete_record(path, 2)
    df = open_table(spark, path, distributed=distributed, chunk_records=2)
    rows = df.orderBy("fid").collect()
    assert [r["fid"] for r in rows] == [0, 1, 3, 4]  # fid stays the record number
    assert [r["name"] for r in rows] == want["name"].tolist()
    assert [bytes(r["geometry_wkb"]) for r in rows] == [bytes(b) for b in want["geometry_wkb"]]
    pdf, info = read_shapefile_pdf(path)
    assert pdf["fid"].tolist() == [0, 1, 3, 4] and info["features"] == 4


def test_gpkg_declared_types_survive_nulls(spark, tmp_path):
    """A nullable INTEGER column is bigint in Spark on both placements;
    the pandas reader keeps the reference's float64-with-NaN typing."""
    import sqlite3

    from pyogrio_spark.io.geopackage import read_geopackage_pdf

    path = _write(tmp_path, "gpkg", _zones(20), "decl")
    con = sqlite3.connect(path)
    decl = {r[1]: r[2] for r in con.execute('PRAGMA table_info("zones")')}
    con.close()
    assert decl["rank"] == "INTEGER" and decl["name"] == "TEXT"
    df, rows = _assert_same(spark, path)
    assert dict(df.dtypes)["rank"] == "bigint"
    pdf, _ = read_geopackage_pdf(path)
    assert pdf["rank"].dtype == np.float64 and np.isnan(pdf["rank"].iloc[3])
