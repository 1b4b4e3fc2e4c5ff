"""GeoJSON source/sink: round trips (FeatureCollection and GeoJSONSeq),
naturalearth cross-format identity, both placements of the one decoder
and encoder, the typing rule and decode errors that name the feature."""

import json

import numpy as np
import pandas as pd
import pytest

from pyogrio_spark.errors import FeatureError
from pyogrio_spark.fixtures import make_zones
from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.io import geojson as G
from pyogrio_spark.io.geojson import (
    read_geojson,
    read_geojson_pdf,
    write_geojson,
    write_geojson_distributed,
)


@pytest.fixture()
def frame():
    return pd.DataFrame(
        {
            "geometry_wkb": [
                W.encode_point(1.25, -2.5),
                W.encode_linestring(np.array([[0.0, 0.0], [1.5, 2.25]])),
                W.encode_polygon([np.array([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)], dtype=float)]),
                W.encode_multipolygon([[np.array([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)], dtype=float)],
                                       [np.array([(5, 5), (6, 5), (6, 6), (5, 6), (5, 5)], dtype=float)]]),
            ],
            "name": ["pt", "ln", "pg", "mp"],
            "v": np.array([1, 2, 3, 4], dtype=np.int64),
        }
    )


@pytest.mark.parametrize("ext", [".geojson", ".geojsonl"])
def test_roundtrip_both_layouts(frame, tmp_path, ext):
    p = str(tmp_path / f"rt{ext}")
    write_geojson(frame, p)
    back = read_geojson_pdf(p)
    assert [bytes(b) for b in back.geometry_wkb] == list(frame.geometry_wkb)  # WKB byte identity
    assert back["name"].tolist() == frame["name"].tolist()
    assert back.v.tolist() == [1, 2, 3, 4]


def test_naturalearth_cross_format_identity(tmp_path):
    # shapefile -> engine WKB -> geojson -> engine WKB: byte-identical
    from pyogrio_spark.io.shapefile import read_shapefile_pdf

    src, _ = read_shapefile_pdf(
        "/root/reference/pyogrio/tests/fixtures/naturalearth_lowres/naturalearth_lowres.shp"
    )
    p = str(tmp_path / "ne.geojson")
    write_geojson(src, p)
    back = read_geojson_pdf(p)
    assert len(back) == 177
    assert [bytes(b) for b in back.geometry_wkb] == [bytes(b) for b in src.geometry_wkb]
    assert back.pop_est.tolist() == src.pop_est.tolist()


def test_read_geojson_spark_composes(frame, tmp_path, spark):
    p = str(tmp_path / "f.geojson")
    write_geojson(frame, p)
    df = read_geojson(spark, p, where="v >= 3", columns=["name"])
    assert {r["name"] for r in df.collect()} == {"pg", "mp"}


def test_distributed_seq_reader(frame, tmp_path, spark):
    p = str(tmp_path / "f.geojsonl")
    write_geojson(frame, p)
    df = read_geojson(spark, p, distributed=True)
    rows = df.collect()
    assert len(rows) == 4
    got = sorted(bytes(r.geometry_wkb) for r in rows)
    assert got == sorted(frame.geometry_wkb)
    assert df.columns == ["fid", "name", "v", "geometry_wkb"]


def test_distributed_seq_never_drops_filters(frame, tmp_path, spark):
    """The distributed GeoJSONSeq scan decodes the properties, so it
    applies read_table filters like the driver scan; convert_dataset
    keeps both halves distributed and writes the filtered attributes."""
    import pyogrio_spark as ps

    p = str(tmp_path / "f.geojsonl")
    write_geojson(frame, p)
    df = ps.open_table(spark, p, distributed=True, where="v >= 3", columns=["v"])
    assert sorted(r.v for r in df.collect()) == [3, 4] and df.columns == ["v", "geometry_wkb"]
    assert ps.open_table(spark, p, distributed=True).count() == 4
    out = str(tmp_path / "out.geojsonl")
    ps.convert_dataset(spark, p, out, where="v >= 3", columns=["v"])
    back = read_geojson_pdf(out)
    assert sorted(back.v) == [3, 4] and list(back.columns) == ["fid", "v", "geometry_wkb"]


def test_open_table_dispatch(tmp_path, spark, frame):
    import pyogrio_spark as ps

    # one entry point across formats, full filter surface everywhere
    gj = str(tmp_path / "d.geojson")
    write_geojson(frame, gj)
    assert ps.open_table(spark, gj, where="v = 1").count() == 1
    ne = "/root/reference/pyogrio/tests/fixtures/naturalearth_lowres/naturalearth_lowres.shp"
    assert ps.open_table(spark, ne, where="continent = 'Oceania'").count() > 0
    assert ps.dataset_layers(ne) == [["naturalearth_lowres", "MultiPolygon"]]
    gp = "/root/reference/pyogrio/tests/fixtures/curve.gpkg"
    assert ps.dataset_layers(gp) == [["curve", "LineString"]]
    assert ps.open_table(spark, gp).count() >= 1


def test_distributed_seq_sink_roundtrip(spark, tmp_path):
    """write_geojson_distributed -> one .geojsonl file from 4 partitions
    -> the distributed read returns the same features with WKB-identical
    geometry (repr-exact float round trip)."""
    n = 250
    pdf = pd.DataFrame(
        {
            "name": [f"r{i}" for i in range(n)],
            "v": np.arange(n, dtype=np.int64),
            "geometry_wkb": [
                W.encode_point(float(i) / 7.0 - 90.0, float(i) / 11.0 - 40.0) for i in range(n)
            ],
        }
    )
    df = spark.createDataFrame(
        pdf, schema="name string, v bigint, geometry_wkb binary"
    ).repartition(4)
    out = str(tmp_path / "seq_out.geojsonl")
    write_geojson_distributed(df, out)
    assert sorted(p.name for p in tmp_path.iterdir()) == ["seq_out.geojsonl"]  # one file, no parts left
    back = read_geojson(spark, out, distributed=True).toPandas()
    assert len(back) == n
    got = sorted((r.name, int(r.v), bytes(r.geometry_wkb)) for r in back.itertuples(index=False))
    want = sorted((r.name, int(r.v), bytes(r.geometry_wkb)) for r in pdf.itertuples(index=False))
    assert got == want


@pytest.mark.parametrize("ext", [".geojson", ".geojsonl"])
def test_zones_wkb_identity(tmp_path, ext):
    """make_zones() (177 naturalearth-like polygons) -> GeoJSON -> WKB:
    byte-identical, and the attributes come back."""
    src = make_zones()
    p = str(tmp_path / f"zones{ext}")
    write_geojson(src, p)
    back = read_geojson_pdf(p)
    assert len(back) == 177
    assert [bytes(b) for b in back.geometry_wkb] == [bytes(b) for b in src.geometry_wkb]
    assert back.name.tolist() == src.name.tolist() and back.pop_est.tolist() == src.pop_est.tolist()


def _lines(path, props_list, geometry=None):
    with open(path, "w") as f:
        for props in props_list:
            geom = geometry or {"type": "Point", "coordinates": [1.0, 2.0]}
            f.write(json.dumps({"type": "Feature", "properties": props, "geometry": geom}) + "\n")


@pytest.mark.parametrize("distributed", [False, True])
@pytest.mark.parametrize("ext", [".geojson", ".geojsonl"])
def test_nullable_integer_is_bigint(spark, tmp_path, ext, distributed):
    from pyogrio_spark.compat import read_info

    p = str(tmp_path / f"n{ext}")
    write_geojson(pd.DataFrame({"a": pd.array([1, None], dtype="Int64"),
                                "geometry_wkb": [W.encode_point(0.0, 0.0)] * 2}), p)
    df = read_geojson(spark, p, distributed=distributed)
    assert dict(df.dtypes)["a"] == "bigint"
    assert [r.a for r in df.orderBy("fid").collect()] == [1, None]
    assert list(read_info(p)["dtypes"]) == ["int64"]


def test_typing_rule(spark, tmp_path):
    """Mixed int and float are double, uniform lists arrays, irregular
    lists and objects JSON text tagged OFSTJSON, other mixes string."""
    p = str(tmp_path / "t.geojsonl")
    _lines(p, [
        {"i": 1, "f": 1, "l": [1, 2], "j": [1, None], "o": {"k": 1}, "m": "x", "b": True},
        {"i": None, "f": 2.5, "l": [], "j": [2], "o": None, "m": 3, "b": None},
    ])
    df = read_geojson(spark, p)
    assert dict(df.dtypes) == {"fid": "bigint", "i": "bigint", "f": "double", "l": "array<bigint>",
                               "j": "string", "o": "string", "m": "string", "b": "boolean",
                               "geometry_wkb": "binary"}
    tagged = {f.name for f in df.schema.fields if f.metadata.get("ogr_subtype") == "OFSTJSON"}
    assert tagged == {"j", "o"}
    rows = df.orderBy("fid").collect()
    assert [r.j for r in rows] == ["[1, null]", "[2]"] and [r.m for r in rows] == ["x", "3"]
    # the encoder reads the tag back: JSON text is written as the value it holds
    out = str(tmp_path / "back.geojsonl")
    write_geojson_distributed(df.drop("fid").coalesce(1), out)
    assert json.loads(open(out).readline())["properties"]["o"] == {"k": 1}


def test_seq_splits_into_line_aligned_chunks(spark, tmp_path, monkeypatch):
    p = str(tmp_path / "z.geojsonl")
    write_geojson(make_zones(), p)
    monkeypatch.setattr(G, "CHUNK_BYTES", 16 << 10)
    chunks = G._layout(p)[1]
    assert len(chunks) > 4 and chunks[0][:3] == (0, chunks[1][0], 0)
    data = open(p, "rb").read()
    assert all(data[lo - 1 : lo] == b"\n" for lo, _, _, _ in chunks[1:])
    df = read_geojson(spark, p, distributed=True)
    assert df.rdd.getNumPartitions() == len(chunks) and df.count() == 177


@pytest.mark.parametrize("distributed", [False, True])
def test_decode_errors_name_the_feature(spark, tmp_path, distributed):
    """A line that does not parse (header pass) and a geometry that does
    not convert (decoder, on an executor when distributed) both raise
    FeatureError naming the path, the byte range and the feature."""
    bad_json = str(tmp_path / "bad_json.geojsonl")
    _lines(bad_json, [{"a": 1}, {"a": 2}])
    with open(bad_json, "a") as f:
        f.write("\n{\"type\": \"Feature\", \"properties\": \n")
    with pytest.raises(FeatureError, match=r"bad_json\.geojsonl: cannot decode bytes \[0, \d+\).*feature 2 \(line 4\)"):
        read_geojson(spark, bad_json, distributed=distributed).collect()

    bad_geom = str(tmp_path / "bad_geom.geojsonl")
    _lines(bad_geom, [{"a": 1}])
    _lines(str(tmp_path / "tail"), [{"a": 2}], geometry={"type": "Curve", "coordinates": []})
    with open(bad_geom, "a") as f:
        f.write(open(tmp_path / "tail").read())
    raised = FeatureError if not distributed else Exception  # a task's error reaches the driver wrapped
    with pytest.raises(raised, match=r"bad_geom\.geojsonl: cannot decode bytes \[0, \d+\) \(first fid 0\).*"
                                          r"feature 1 \(line 2\).*unsupported GeoJSON geometry type Curve"):
        read_geojson(spark, bad_geom, distributed=distributed).collect()

    bad_fc = str(tmp_path / "bad.geojson")
    with open(bad_fc, "w") as f:
        f.write('{"type": "FeatureCollection", "features": [{"type": "Feature", "properties": {}, '
                '"geometry": {"type": "Point", "coordinates": [0, 0]}}, {"type": "Feature", '
                '"properties": {}, "geometry": {"type": "Polygon", "coordinates": 5}}]}')
    with pytest.raises(raised, match=r"bad\.geojson: cannot decode bytes \[0, \d+\).*feature 1"):
        read_geojson(spark, bad_fc, distributed=distributed).collect()


def test_empty_feature_collection_layer_type(tmp_path):
    """dataset_layers and read_info agree: no geometry is Unknown."""
    import pyogrio_spark as ps
    from pyogrio_spark.compat import read_info

    p = str(tmp_path / "empty.geojson")
    write_geojson(pd.DataFrame({"geometry_wkb": []}), p)
    assert ps.dataset_layers(p) == [["empty", "Unknown"]]
    assert read_info(p)["geometry_type"] == "Unknown"


def test_info_bounds_come_from_the_header_pass(tmp_path, monkeypatch):
    """read_info of a FeatureCollection takes total_bounds from the one
    header pass: the same envelope as the decoded WKB, no second parse."""
    from pyogrio_spark.compat import read_info

    z = make_zones()
    p = str(tmp_path / "z.geojson")
    write_geojson(z, p)
    bs = W.bounds_many(list(z.geometry_wkb))
    expected = (np.nanmin(bs[:, 0]), np.nanmin(bs[:, 1]), np.nanmax(bs[:, 2]), np.nanmax(bs[:, 3]))
    calls = []
    decoder = G._decoder
    monkeypatch.setattr(G, "_decoder", lambda *a: calls.append(a) or decoder(*a))
    assert read_info(p)["total_bounds"] == pytest.approx(expected, rel=0, abs=0)
    assert read_info(p)["features"] == 177
    assert calls == []


@pytest.mark.parametrize("driver,ext,seq", [("GeoJSONSeq", ".json", True), ("GeoJSON", ".geojsonl", False)])
def test_driver_decides_the_layout(tmp_path, driver, ext, seq):
    """write_dataframe's driver, not the extension, picks the layout, and
    the file reads back as written, whatever its extension."""
    from pyogrio_spark.compat import read_dataframe, read_info, write_dataframe

    pdf = pd.DataFrame({"geometry_wkb": [W.encode_point(1.5, 2.0), W.encode_point(-3.0, 4.25)],
                        "name": ["a", "b"]})
    p = str(tmp_path / f"x{ext}")
    write_dataframe(pdf, p, driver=driver)
    lines = open(p).read().splitlines()
    if seq:
        assert [json.loads(line)["type"] for line in lines] == ["Feature", "Feature"]
    else:
        assert len(lines) == 1 and json.loads(lines[0])["type"] == "FeatureCollection"
    assert G.holds_seq(p) is seq
    back = read_dataframe(p)
    assert back["name"].tolist() == ["a", "b"]
    assert [bytes(b) for b in back.geometry] == list(pdf.geometry_wkb)
    assert read_info(p)["driver"] == driver


def test_holds_seq_by_content(tmp_path):
    def holds(name, text):
        p = tmp_path / name
        p.write_text(text)
        return G.holds_seq(str(p))

    feat = json.dumps({"type": "Feature", "properties": {}, "geometry": None})
    assert holds("a.json", f"{feat}\n{feat}\n")
    assert not holds("b.geojsonl", f"{feat}\n")  # one JSON text reads either way
    assert not holds("c.json", '{\n"type": "FeatureCollection",\n"features": []\n}\n')
    assert holds("d.geojsonl", f"{feat[:-1]}\n{feat}\n")  # a broken first line: the extension decides
    assert holds("e.geojsonl", "") and not holds("e.geojson", "")
