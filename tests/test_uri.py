"""URI / VSI path normalization (pyogrio_spark/uri.py), mirroring the
reference's tests/test_path.py:31-109 table (POSIX rows) plus the
engine-side storage_path mapping."""

import io
from pathlib import Path

import pytest

from pyogrio_spark.uri import get_vsi_path_or_buffer, storage_path, vsi_path


@pytest.mark.parametrize(
    "path, expected",
    [
        # local paths pass through (incl. multi-extension zips GDAL
        # drivers open directly)
        ("data.gpkg", "data.gpkg"),
        ("data.gpkg.zip", "data.gpkg.zip"),
        ("data.shp.zip", "data.shp.zip"),
        (Path("data.gpkg"), "data.gpkg"),
        (Path("data.gpkg.zip"), "data.gpkg.zip"),
        ("/home/user/data.gpkg", "/home/user/data.gpkg"),
        ("/home/user/data.gpkg.zip", "/home/user/data.gpkg.zip"),
        ("/home/user/data.shp.zip", "/home/user/data.shp.zip"),
        ("file:///home/user/data.gpkg", "/home/user/data.gpkg"),
        ("file:///home/user/data.gpkg.zip", "/home/user/data.gpkg.zip"),
        ("file:///home/user/data.shp.zip", "/home/user/data.shp.zip"),
        ("/home/folder # with hash/data.gpkg", "/home/folder # with hash/data.gpkg"),
        # cloud URIs
        ("https://testing/data.gpkg", "/vsicurl/https://testing/data.gpkg"),
        ("s3://testing/data.gpkg", "/vsis3/testing/data.gpkg"),
        ("gs://testing/data.gpkg", "/vsigs/testing/data.gpkg"),
        ("az://testing/data.gpkg", "/vsiaz/testing/data.gpkg"),
        ("adl://testing/data.gpkg", "/vsiadls/testing/data.gpkg"),
        ("adls://testing/data.gpkg", "/vsiadls/testing/data.gpkg"),
        ("hdfs://testing/data.gpkg", "/vsihdfs/testing/data.gpkg"),
        ("webhdfs://testing/data.gpkg", "/vsiwebhdfs/testing/data.gpkg"),
        # archives
        ("zip://data.zip", "/vsizip/data.zip"),
        ("tar://data.tar", "/vsitar/data.tar"),
        ("gzip://data.gz", "/vsigzip/data.gz"),
        ("tar://./my.tar!my.geojson", "/vsitar/./my.tar/my.geojson"),
        ("zip://home/data/shapefile.zip!layer.shp",
         "/vsizip/home/data/shapefile.zip/layer.shp"),
        # combined schemes
        ("zip+s3://testing/shapefile.zip", "/vsizip/vsis3/testing/shapefile.zip"),
        ("zip+https://s3.amazonaws.com/testing/shapefile.zip",
         "/vsizip/vsicurl/https://s3.amazonaws.com/testing/shapefile.zip"),
        # auto-prefix zip files
        ("test.zip", "/vsizip/test.zip"),
        ("/a/b/test.zip", "/vsizip//a/b/test.zip"),
        ("a/b/test.zip", "/vsizip/a/b/test.zip"),
        # ! member notation
        ("test.zip!item.shp", "/vsizip/test.zip/item.shp"),
        ("test.zip!/a/b/item.shp", "/vsizip/test.zip/a/b/item.shp"),
        ("test.zip!a/b/item.shp", "/vsizip/test.zip/a/b/item.shp"),
        ("/vsizip/test.zip/a/b/item.shp", "/vsizip/test.zip/a/b/item.shp"),
        ("zip:///test.zip/a/b/item.shp", "/vsizip//test.zip/a/b/item.shp"),
        # auto-prefix remote zips
        ("https://s3.amazonaws.com/testing/test.zip",
         "/vsizip/vsicurl/https://s3.amazonaws.com/testing/test.zip"),
        ("https://s3.amazonaws.com/testing/test.zip!/a/b/item.shp",
         "/vsizip/vsicurl/https://s3.amazonaws.com/testing/test.zip/a/b/item.shp"),
        ("s3://testing/test.zip", "/vsizip/vsis3/testing/test.zip"),
        ("s3://testing/test.zip!a/b/item.shp",
         "/vsizip/vsis3/testing/test.zip/a/b/item.shp"),
        ("/vsimem/data.gpkg", "/vsimem/data.gpkg"),
        (Path("/vsimem/data.gpkg"), "/vsimem/data.gpkg"),
    ],
)
def test_vsi_path(path, expected):
    assert vsi_path(path) == expected


def test_vsi_path_unknown_scheme_passthrough():
    assert vsi_path("s4://test/data.geojson") == "s4://test/data.geojson"


def test_get_vsi_path_or_buffer():
    assert get_vsi_path_or_buffer("s3://b/k.gpkg") == "/vsis3/b/k.gpkg"
    assert get_vsi_path_or_buffer(b"\x00\x01") == b"\x00\x01"
    buf = io.BytesIO(b"abc")
    assert get_vsi_path_or_buffer(buf) == b"abc"
    assert buf.tell() == 0  # rewound


@pytest.mark.parametrize(
    "path, expected",
    [
        ("data.gpkg", ("data.gpkg", None)),
        ("file:///home/user/data.gpkg", ("/home/user/data.gpkg", None)),
        ("/a/b.zip", ("/a/b.zip", None)),
        ("zip:///a/b.zip!inner.shp", ("/a/b.zip", "inner.shp")),
        ("/a/b.zip!inner.shp", ("/a/b.zip", "inner.shp")),
        ("s3://bucket/key/table.parquet", ("s3a://bucket/key/table.parquet", None)),
        ("gs://bucket/k.parquet", ("gs://bucket/k.parquet", None)),
        ("hdfs://nn/k.parquet", ("hdfs://nn/k.parquet", None)),
        ("https://host/data.gpkg", ("https://host/data.gpkg", None)),
    ],
)
def test_storage_path(path, expected):
    assert storage_path(path) == expected


def test_storage_path_remote_archive_raises():
    with pytest.raises(ValueError, match="remote archive"):
        storage_path("zip+s3://bucket/a.zip")
    with pytest.raises(ValueError, match="remote archive"):
        storage_path("s3://bucket/a.zip")


def test_storage_path_non_zip_archive_raises():
    with pytest.raises(ValueError, match="only zip archives"):
        storage_path("tar://a.tar!member.shp")


def test_open_table_accepts_file_uri_and_zip_member(spark, tmp_path):
    """The dispatch layer resolves the same URI grammar end-to-end:
    file:// and zip://...!member chains reach the format codecs."""
    import zipfile

    import pandas as pd

    from pyogrio_spark.compat import write_dataframe
    from pyogrio_spark.geometry import wkb as W
    from pyogrio_spark.io.dispatch import open_table

    pdf = pd.DataFrame(
        {
            "a": [1, 2],
            "geometry": [W.encode_point(0.0, 0.0), W.encode_point(1.0, 1.0)],
        }
    )
    gj = tmp_path / "t.geojson"
    write_dataframe(pdf, str(gj))

    assert open_table(spark, f"file://{gj}").count() == 2

    z = tmp_path / "t.zip"
    with zipfile.ZipFile(z, "w") as zf:
        zf.write(gj, "inner/t.geojson")
    assert open_table(spark, f"zip://{z}!inner/t.geojson").count() == 2


_TEMP_DIRS_SCRIPT = """
import os, sys
sys.path.insert(0, sys.argv[1])
from pyogrio_spark.io.dispatch import _unzip_member
from pyogrio_spark.uri import vsimem_root, vsimem_to_local

with open(vsimem_to_local("/vsimem/scratch/a.txt"), "w") as f:
    f.write("x")
member = _unzip_member(sys.argv[2], (".txt",))
assert open(member).read() == "y"
print("VSIMEM", vsimem_root())
print("ZIP", os.path.dirname(member))
"""


def test_temp_dirs_are_removed_at_exit(tmp_path):
    """The /vsimem/ root and extracted-archive dirs end with the process
    that made them, as GDAL's in-memory filesystem does."""
    import os
    import subprocess
    import sys
    import zipfile

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    archive = tmp_path / "t.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("b.txt", "y")
    script = tmp_path / "drive.py"
    script.write_text(_TEMP_DIRS_SCRIPT)
    proc = subprocess.run(
        [sys.executable, str(script), root, str(archive)], capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    dirs = dict(line.split(" ", 1) for line in proc.stdout.splitlines())
    assert set(dirs) == {"VSIMEM", "ZIP"}
    for d in dirs.values():
        assert os.path.basename(d).startswith("pyogrio_spark_")
        assert not os.path.exists(d), d
