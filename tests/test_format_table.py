"""Every I/O route answers from one format table (``io.dispatch``): the
extensions ``list_drivers_details`` advertises reach their driver through
``detect_format``, the paths ``detect_write_driver`` maps to a writable
driver are written by ``write_dataframe``, and the drivers ``read_info``
reports are the ones the listing names."""

import os
import warnings
import zipfile

import numpy as np
import pandas as pd
import pytest

from pyogrio_spark.compat import detect_write_driver, list_drivers_details, read_info, write_dataframe
from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.io.dispatch import detect_format

# the engine format each GDAL driver reads through
FORMAT_OF = {
    "ESRI Shapefile": "shapefile", "GPKG": "geopackage", "GeoJSON": "geojson",
    "GeoJSONSeq": "geojson", "FlatGeobuf": "flatgeobuf", "OSM": "osm",
}
ARCHIVES = {".shz": ".shp", ".shp.zip": ".shp", ".gpkg.zip": ".gpkg"}


def _points(n: int = 3) -> pd.DataFrame:
    return pd.DataFrame({
        "name": [f"p{i}" for i in range(n)],
        "geometry": [W.encode_point(float(i), float(i) + 0.5) for i in range(n)],
    })


def _archive(tmp_path, ext: str) -> str:
    """A zip archive named ``x<ext>`` holding one dataset of the member
    extension the archive stands for."""
    src = tmp_path / "src"
    src.mkdir(exist_ok=True)
    member = str(src / f"x{ARCHIVES[ext]}")
    write_dataframe(_points(), member)
    path = str(tmp_path / f"x{ext}")
    with zipfile.ZipFile(path, "w") as z:
        for f in os.listdir(src):
            z.write(src / f, f)
    return path


def _advertised():
    return [(name, ext) for name, d in list_drivers_details().items() for ext in d["extensions"]]


def _writable():
    exts = []
    for _, ext in _advertised():
        try:
            detect_write_driver(f"x{ext}")
        except ValueError:
            continue
        exts.append(ext)
    return exts


@pytest.mark.parametrize("name,ext", _advertised())
def test_advertised_extension_reaches_its_driver(tmp_path, name, ext):
    """Never the Parquet reader: a standalone .dbf opens as a Shapefile
    (as in GDAL); OSM XML is advertised by the OSM driver but only PBF
    is read, so .osm raises naming the extension."""
    path = _archive(tmp_path, ext) if ext in ARCHIVES else f"x{ext}"
    if ext == ".osm":
        with pytest.raises(ValueError, match="'.osm'"):
            detect_format(path)
    else:
        assert detect_format(path) == FORMAT_OF[name]


@pytest.mark.parametrize("ext", _writable())
def test_write_dataframe_writes_what_detect_write_driver_names(tmp_path, ext):
    path = str(tmp_path / f"x{ext}")
    if ext in ARCHIVES:
        with pytest.raises(ValueError, match="archives are read, not written"):
            write_dataframe(_points(), path)
        return
    write_dataframe(_points(), path)
    info = read_info(path)
    assert info["driver"] == detect_write_driver(path)
    assert info["features"] == 3 and list(info["fields"]) == ["name"]


def test_writable_extensions_cover_every_write_driver():
    names = {detect_write_driver(f"x{ext}") for ext in _writable()}
    assert names == {n for n, d in list_drivers_details().items() if d["write"]}


def test_committed_table_reads_through_open_table(spark, tmp_path):
    """A ``write_table`` directory opens through ``open_table`` and
    ``read_table`` as its current snapshot, with the filter surface."""
    from pyogrio_spark import open_table, read_committed, read_table, write_table

    path = str(tmp_path / "tbl")
    schema = "doc_id long, name string, v double"
    write_table(spark.createDataFrame([(i, f"n{i}", i / 2) for i in range(10)], schema), path)
    write_table(spark.createDataFrame([(i, f"n{i}", i / 2) for i in range(10, 25)], schema), path)
    want = sorted(read_committed(spark, path).where("v >= 3").select("doc_id", "name").collect())
    assert len(want) == 19
    for read in (open_table, read_table):
        got = read(spark, path, where="v >= 3", columns=["doc_id", "name"])
        assert got.columns == ["doc_id", "name"]
        assert sorted(got.collect()) == want


def test_one_layer_type_rule_across_writers(tmp_path):
    """The same Polygon Z / MultiPolygon Z rows report one layer type
    whichever format they are written to (``W.layer_type``)."""
    from pyogrio_spark.compat import list_layers

    sq = np.array([(0.0, 0.0, 1.0), (1, 0, 1), (1, 1, 1), (0, 1, 1), (0, 0, 1)])
    pdf = pd.DataFrame({
        "v": [1, 2, 3],
        "geometry": [W.encode_polygon([sq]), W.encode_multipolygon([[sq], [sq + 5]]), None],
    })
    got = {}
    for ext in (".fgb", ".geojson", ".shp"):
        path = str(tmp_path / f"z{ext}")
        write_dataframe(pdf, path)
        got[ext] = (read_info(path)["geometry_type"], list_layers(path)[0][1])
    assert set(got.values()) == {("MultiPolygon Z", "MultiPolygon Z")}, got


def test_single_layer_list_comes_from_the_header(tmp_path, monkeypatch):
    """``list_layers`` of a FlatGeobuf file reads its header, not the
    features through the decoder."""
    from pyogrio_spark.compat import list_layers
    from pyogrio_spark.io import flatgeobuf

    fgb = str(tmp_path / "pts.fgb")
    write_dataframe(_points(), fgb)
    monkeypatch.setattr(flatgeobuf, "_decoder", lambda *a: pytest.fail("list_layers decoded features"))
    assert list_layers(fgb).tolist() == [["pts", "Point"]]


def test_osm_routes_reach_the_osm_reader(spark, tmp_path):
    """An OSM PBF built here goes through every routing function to the
    OSM reader: detect_format, open_table(layer=), dataset_layers and
    the facade's read_info and list_layers."""
    from pyogrio_spark import compat
    from pyogrio_spark.io.dispatch import dataset_layers, open_table
    from pyogrio_spark.io.osm_pbf import LAYERS, write_osm_pbf

    path = str(tmp_path / "tiny.osm.pbf")
    nodes = [(1, 10.0, 50.0, {"name": "stop", "highway": "bus_stop"}), (2, 10.001, 50.0, {}),
             (3, 10.001, 50.001, {})]
    write_osm_pbf(path, nodes, ways=[(10, [1, 2, 3], {"highway": "residential", "name": "lane"})])
    assert detect_format(path) == "osm"
    layers = dataset_layers(path)
    assert [name for name, _ in layers] == LAYERS
    assert compat.list_layers(path).tolist() == layers
    points = open_table(spark, path, layer="points").toPandas()
    assert points.osm_id.tolist() == ["1"] and points.name.tolist() == ["stop"]
    lines = open_table(spark, path, layer="lines", columns=["name"]).toPandas()
    assert lines.name.tolist() == ["lane"]
    info = compat.read_info(path, layer="lines")
    assert (info["driver"], info["geometry_type"], info["features"]) == ("OSM", "LineString", -1)
    assert info["crs"] == "EPSG:4326" and not any(info["capabilities"].values())
    assert compat.read_info(path, layer="lines", force_feature_count=True, spark=spark)["features"] == 1
    with pytest.warns(UserWarning, match="More than one layer found"):
        assert compat.read_info(path)["layer_name"] == "points"
    # a read that defaults the layer warns once, not once per lookup
    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        meta, _, geometry, _ = compat.read(path, spark=spark)
    assert sum("More than one layer found" in str(w.message) for w in seen) == 1
    assert meta["geometry_type"] == "Point" and len(geometry) == 1


def test_geopackage_write_and_append_share_one_bounds_pass(tmp_path, monkeypatch):
    """A fresh GeoPackage write and an append each take every envelope
    (blob, R-tree, contents bounds) from one ``W.bounds_many`` pass; a
    Polygon/MultiPolygon mix still declares GEOMETRY, as GPKG requires
    every feature to match the declared type."""
    import sqlite3

    from pyogrio_spark.io.geopackage import read_geopackage_pdf, write_geopackage

    sq = np.array([(0.0, 0.0), (1, 0), (1, 1), (0, 1), (0, 0)])
    first = pd.DataFrame({"v": [1, 2, 3], "geometry_wkb": [
        W.encode_polygon([sq]), None, W.encode_multipolygon([[sq + 2]])]})
    more = pd.DataFrame({"v": [4, 5], "geometry_wkb": [W.encode_point(-1.0, 9.0), W.encode_polygon([sq - 3])]})
    passes = []
    bounds_many = W.bounds_many
    monkeypatch.setattr(W, "bounds", lambda *a: pytest.fail("per-geometry W.bounds"))
    monkeypatch.setattr(W, "bounds_many", lambda g: passes.append(1) or bounds_many(g))
    path = str(tmp_path / "t.gpkg")
    write_geopackage(first, path)
    write_geopackage(more, path, append=True)
    assert len(passes) == 2
    con = sqlite3.connect(path)
    try:
        assert con.execute("SELECT geometry_type_name FROM gpkg_geometry_columns").fetchone()[0] == "GEOMETRY"
        rtree = con.execute('SELECT * FROM "rtree_layer_geometry_wkb" ORDER BY id').fetchall()
        contents = con.execute("SELECT min_x, min_y, max_x, max_y FROM gpkg_contents").fetchone()
    finally:
        con.close()
    assert rtree == [(1, 0, 1, 0, 1), (3, 2, 3, 2, 3), (4, -1, -1, 9, 9), (5, -3, -2, -3, -2)]
    assert contents == (-3, -3, 3, 9)
    back, _ = read_geopackage_pdf(path)
    assert back.v.tolist() == [1, 2, 3, 4, 5]
    assert list(back.geometry_wkb) == list(first.geometry_wkb) + list(more.geometry_wkb)
