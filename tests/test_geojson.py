"""GeoJSON source/sink: round trips (FeatureCollection and GeoJSONSeq),
naturalearth cross-format identity, and the distributed line reader."""

import numpy as np
import pandas as pd
import pytest

from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.io.geojson import (
    read_geojson,
    read_geojson_pdf,
    read_geojson_seq_distributed,
    write_geojson,
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
    df = read_geojson_seq_distributed(spark, p)
    rows = df.collect()
    assert len(rows) == 4
    got = sorted(bytes(r.geometry_wkb) for r in rows)
    assert got == sorted(frame.geometry_wkb)


def test_distributed_seq_never_drops_filters(frame, tmp_path, spark):
    """The line-split GeoJSONSeq scan returns raw properties_json, so
    given read_table filters it raises NoDistributedScan naming them;
    convert_dataset then reads on the driver, which applies them."""
    import pyogrio_spark as ps
    from pyogrio_spark.errors import NoDistributedScan

    p = str(tmp_path / "f.geojsonl")
    write_geojson(frame, p)
    with pytest.raises(NoDistributedScan, match="columns, where"):
        ps.open_table(spark, p, distributed=True, where="v >= 3", columns=["v"])
    assert ps.open_table(spark, p, distributed=True).count() == 4  # no filters: line split
    out = str(tmp_path / "out.geojsonl")
    ps.convert_dataset(spark, p, out, where="v >= 3", columns=["v"])
    back = read_geojson_pdf(out)
    assert sorted(back.v) == [3, 4] and "properties_json" not in back.columns


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
    """write_geojson_seq_distributed -> part-per-partition .jsonl files
    -> read_geojson_seq_distributed returns the same features with
    WKB-identical geometry (repr-exact float round trip)."""
    import json as _json

    import numpy as np

    from pyogrio_spark.io.geojson import (
        read_geojson_seq_distributed,
        write_geojson_seq_distributed,
    )

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
    out = str(tmp_path / "seq_out")
    write_geojson_seq_distributed(df, out)
    import glob as _glob

    parts = _glob.glob(f"{out}/part-*")
    assert len(parts) == 4  # one file per partition, no driver funnel
    back = read_geojson_seq_distributed(spark, f"{out}/part-*").toPandas()
    assert len(back) == n
    got = sorted(
        (
            _json.loads(p)["name"],
            _json.loads(p)["v"],
            bytes(g),
        )
        for p, g in zip(back.properties_json, back.geometry_wkb)
    )
    want = sorted((r.name, int(r.v), bytes(r.geometry_wkb)) for r in pdf.itertuples(index=False))
    assert got == want
