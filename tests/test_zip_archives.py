"""Zip-archive dataset variants (.shp.zip / .shz / .gpkg.zip / .zip):
the reference treats zipped shapefiles as primary citizens via /vsizip/
(/root/reference/pyogrio/tests/conftest.py:27-35, util.py:94-175); the
engine extracts to a cached temp dir and routes to the native driver."""

import os
import zipfile

import pytest

from pyogrio_spark.io.dispatch import dataset_layers, detect_format, open_table, resolve_archive
from pyogrio_spark.io.shapefile import read_shapefile_pdf

NE_DIR = "/root/reference/pyogrio/tests/fixtures/naturalearth_lowres"
GPKG_NULLS = "/root/reference/pyogrio/tests/fixtures/test_gpkg_nulls.gpkg"


@pytest.fixture(scope="module")
def zipped(tmp_path_factory):
    root = tmp_path_factory.mktemp("zips")
    shp_zip = str(root / "naturalearth_lowres.shp.zip")
    with zipfile.ZipFile(shp_zip, "w") as z:
        for f in os.listdir(NE_DIR):
            z.write(os.path.join(NE_DIR, f), f)
    shz = str(root / "naturalearth_lowres.shz")
    os.link(shp_zip, shz)
    gpkg_zip = str(root / "nulls.gpkg.zip")
    with zipfile.ZipFile(gpkg_zip, "w") as z:
        z.write(GPKG_NULLS, "test_gpkg_nulls.gpkg")
    return shp_zip, shz, gpkg_zip


def test_detect_and_resolve(zipped):
    shp_zip, shz, gpkg_zip = zipped
    assert detect_format(shp_zip) == "shapefile"
    assert detect_format(shz) == "shapefile"
    assert detect_format(gpkg_zip) == "geopackage"
    inner = resolve_archive(shp_zip)
    assert inner.endswith(".shp") and os.path.exists(inner)
    # cached: second resolve returns the same extraction
    assert resolve_archive(shp_zip) == inner


def test_zipped_shapefile_matches_unzipped(spark, zipped):
    shp_zip, shz, _ = zipped
    want, _ = read_shapefile_pdf(os.path.join(NE_DIR, "naturalearth_lowres.shp"))
    got = open_table(spark, shp_zip).toPandas()
    assert len(got) == 177
    assert got["name"].tolist() == want["name"].tolist()
    assert [bytes(b) for b in got.geometry_wkb] == [bytes(b) for b in want.geometry_wkb]
    # .shz single-file archive variant + filter composition
    df = open_table(spark, shz, where="continent = 'Africa'", columns=["name"])
    assert 0 < df.count() < 177
    assert dataset_layers(shp_zip) == [["naturalearth_lowres", "MultiPolygon"]]


def test_zipped_geopackage_reads(spark, zipped):
    _, _, gpkg_zip = zipped
    df = open_table(spark, gpkg_zip)
    assert df.count() > 0
    layers = dataset_layers(gpkg_zip)
    assert len(layers) >= 1


def test_multi_dataset_zip_rejected(tmp_path):
    p = str(tmp_path / "two.zip")
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("a.gpkg", b"x")
        z.writestr("b.gpkg", b"y")
    with pytest.raises(ValueError, match="exactly one"):
        resolve_archive(p)


def test_open_table_distributed_routing(spark, tmp_path):
    """open_table(distributed=True) must route every format to its
    chunk scan with identical rows; a GeoJSON FeatureCollection is one
    chunk."""
    import numpy as np
    import pandas as pd

    from pyogrio_spark.geometry import wkb as W
    from pyogrio_spark.io.dispatch import open_table
    from pyogrio_spark.io.flatgeobuf import write_flatgeobuf
    from pyogrio_spark.io.geojson import write_geojson
    from pyogrio_spark.io.geopackage import write_geopackage
    from pyogrio_spark.io.shapefile import write_shapefile

    n = 40
    pdf = pd.DataFrame(
        {
            "name": [f"r{i}" for i in range(n)],
            "v": np.arange(n, dtype=np.int64),
            "geometry_wkb": [W.encode_point(float(i), float(i % 7)) for i in range(n)],
        }
    )
    paths = {
        "shp": str(tmp_path / "d.shp"),
        "gpkg": str(tmp_path / "d.gpkg"),
        "fgb": str(tmp_path / "d.fgb"),
        "geojson": str(tmp_path / "d.geojson"),
    }
    write_shapefile(pdf, paths["shp"])
    write_geopackage(pdf, paths["gpkg"])
    write_flatgeobuf(pdf, paths["fgb"])
    write_geojson(pdf, paths["geojson"])
    for fmt, p in paths.items():
        a = open_table(spark, p).toPandas().sort_values("name").reset_index(drop=True)
        b = (
            open_table(spark, p, distributed=True)
            .toPandas()
            .sort_values("name")
            .reset_index(drop=True)
        )
        assert a.name.tolist() == b.name.tolist(), fmt
        assert [bytes(x) for x in a.geometry_wkb] == [bytes(x) for x in b.geometry_wkb], fmt
