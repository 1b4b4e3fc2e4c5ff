"""FlatGeobuf driver: naturalearth golden parity (through the shapefile
source, since the reference regenerates .fgb fixtures with GDAL at test
time — /root/reference/pyogrio/tests/conftest.py:26-41), byte-identical
WKB round trips over the full geometry-type matrix, null handling,
index skipping, and dispatch integration."""

import struct

import numpy as np
import pandas as pd
import pytest

from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.io.flatgeobuf import (
    MAGIC,
    packed_rtree_size,
    read_flatgeobuf,
    read_flatgeobuf_pdf,
    write_flatgeobuf,
)
from pyogrio_spark.io.shapefile import read_shapefile_pdf

NE = "/root/reference/pyogrio/tests/fixtures/naturalearth_lowres/naturalearth_lowres.shp"


@pytest.fixture(scope="module")
def ne_fgb(tmp_path_factory):
    pdf, info = read_shapefile_pdf(NE)
    out = str(tmp_path_factory.mktemp("fgb") / "naturalearth_lowres.fgb")
    write_flatgeobuf(pdf.drop(columns=["fid"]), out, crs_wkt="EPSG:4326")
    return pdf, info, out


def test_naturalearth_golden_roundtrip(ne_fgb):
    pdf, info, out = ne_fgb
    back, info2 = read_flatgeobuf_pdf(out)
    assert info2["features"] == 177
    assert info2["fields"] == ["pop_est", "continent", "name", "iso_a3", "gdp_md_est"]
    assert info2["geometry_type"] == "MultiPolygon"
    assert np.allclose(info2["total_bounds"], info["total_bounds"])
    assert info2["crs"] == "EPSG:4326"
    a = [bytes(b) for b in pdf.geometry_wkb]
    b = [bytes(b) for b in back.geometry_wkb]
    assert a == b, "WKB round trip must be byte-identical"
    assert back.pop_est.tolist() == pdf.pop_est.tolist()
    assert back["name"].tolist() == pdf["name"].tolist()
    assert np.allclose(back.gdp_md_est, pdf.gdp_md_est)
    fiji = back[back.name == "Fiji"].iloc[0]
    assert fiji.continent == "Oceania" and fiji.iso_a3 == "FJI" and fiji.pop_est == 920938


def test_geometry_type_matrix_roundtrip(tmp_path):
    outer = np.array([(0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (0.0, 0.0)])
    hole = np.array([(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 1.0)])
    geoms = [
        W.encode_point(1.5, -2.5),
        W.encode_point(1.0, 2.0, 3.0),  # Z point
        W.encode_linestring(np.array([(0.0, 0.0), (1.0, 1.0), (2.0, 0.5)])),
        W.encode_polygon([outer, hole]),
        W.encode_multipoint([(0.0, 0.0), (5.0, 5.0)]),
        W.encode_multilinestring(
            [np.array([(0.0, 0.0), (1.0, 0.0)]), np.array([(2.0, 2.0), (3.0, 3.0), (4.0, 2.0)])]
        ),
        W.encode_multipolygon([[outer, hole], [outer + 20.0]]),
        W.encode_collection([W.encode_point(9.0, 9.0), W.encode_linestring(outer[:3])]),
        None,  # null geometry row
    ]
    pdf = pd.DataFrame({"geometry_wkb": geoms, "tag": [f"g{i}" for i in range(len(geoms))]})
    p = str(tmp_path / "matrix.fgb")
    write_flatgeobuf(pdf, p)
    back, info = read_flatgeobuf_pdf(p)
    assert info["geometry_type"] == "Unknown"  # heterogeneous layer
    got = [None if b is None else bytes(b) for b in back.geometry_wkb]
    assert got == geoms
    assert back.tag.tolist() == pdf.tag.tolist()


def test_property_types_and_nulls(tmp_path):
    pdf = pd.DataFrame(
        {
            "geometry_wkb": [W.encode_point(float(i), 0.0) for i in range(4)],
            "i": np.array([1, 2, 3, 4], dtype=np.int64),
            "d": [1.5, np.nan, 2.5, -0.25],
            "s": ["a", None, "é-utf8", ""],
            "b": [True, False, True, False],
            "raw": [b"\x00\x01", b"", None, b"xyz"],
        }
    )
    p = str(tmp_path / "props.fgb")
    write_flatgeobuf(pdf, p)
    back, info = read_flatgeobuf_pdf(p)
    assert back.i.tolist() == [1, 2, 3, 4] and back.i.dtype == np.int64
    assert np.isnan(back.d[1]) and np.allclose(back.d[[0, 2, 3]], [1.5, 2.5, -0.25])
    assert back.s.tolist() == ["a", None, "é-utf8", ""]
    assert back.b.tolist() == [True, False, True, False]
    assert back.raw.tolist() == [b"\x00\x01", b"", None, b"xyz"]
    assert info["fields"] == ["i", "d", "s", "b", "raw"]


def test_reader_skips_spatial_index(tmp_path):
    """Files written by other implementations carry a packed Hilbert
    R-tree between header and features; the reader must skip it."""
    pdf = pd.DataFrame(
        {"geometry_wkb": [W.encode_point(1.0, 2.0), W.encode_point(3.0, 4.0)], "n": np.array([7, 8], dtype=np.int64)}
    )
    plain = str(tmp_path / "plain.fgb")
    write_flatgeobuf(pdf, plain)
    raw = open(plain, "rb").read()
    # splice: rebuild the header with index_node_size=16 and insert a
    # zeroed index of the exact size the formula dictates
    (hsize,) = struct.unpack_from("<I", raw, 8)
    features = raw[8 + 4 + hsize :]
    from pyogrio_spark.io.flatbuf import Builder

    hb = Builder()
    n_off = hb.create_string("n")
    hb.start_table()
    hb.add_offset(0, n_off)
    hb.add_scalar(1, "<B", 7, 0)  # Long
    col = hb.end_table()
    cols = hb.create_offset_vector([col])
    name = hb.create_string("plain")
    hb.start_table()
    hb.add_offset(0, name)
    hb.add_scalar(2, "<B", 1, 0)  # Point
    hb.add_offset(7, cols)
    hb.add_scalar(8, "<Q", 2, 0)
    hb.add_scalar(9, "<H", 16, 16)  # default → omitted → reader sees 16
    header = hb.finish(hb.end_table(), size_prefixed=True)
    indexed = str(tmp_path / "indexed.fgb")
    with open(indexed, "wb") as f:
        f.write(MAGIC + header + b"\x00" * packed_rtree_size(2, 16) + features)
    back, info = read_flatgeobuf_pdf(indexed)
    assert len(back) == 2 and back.n.tolist() == [7, 8]
    assert [bytes(b) for b in back.geometry_wkb] == list(pdf.geometry_wkb)


def test_packed_rtree_size_formula():
    # leaf-only tree: 2 items + 1 root node = 3 nodes x 40 bytes
    assert packed_rtree_size(2, 16) == 120
    # two levels: 17 leaves -> 2 inner -> 1 root = 20 nodes
    assert packed_rtree_size(17, 16) == 800


def test_bad_magic_raises(tmp_path):
    p = str(tmp_path / "bad.fgb")
    with open(p, "wb") as f:
        f.write(b"notfgb\x00\x00rest")
    with pytest.raises(ValueError, match="magic"):
        read_flatgeobuf_pdf(p)


def test_dispatch_and_spark_filters(spark, ne_fgb):
    from pyogrio_spark.io.dispatch import dataset_layers, detect_format, open_table

    _, _, out = ne_fgb
    assert detect_format(out) == "flatgeobuf"
    assert dataset_layers(out) == [["naturalearth_lowres", "MultiPolygon"]]
    df = open_table(spark, out, where="continent = 'Africa'", columns=["name", "pop_est"])
    rows = df.collect()
    assert 0 < len(rows) < 177
    assert set(df.columns) == {"name", "pop_est", "geometry_wkb"}
    eu = read_flatgeobuf(spark, out, bbox=(-10.0, 36.0, 20.0, 60.0))
    names = {r["name"] for r in eu.select("name").collect()}
    assert {"France", "Spain", "Germany"} <= names and "Brazil" not in names


def test_indexed_write_hilbert_reorder_and_parity(tmp_path):
    """index_node_size=16 writes the packed Hilbert R-tree: features
    are re-sorted into Hilbert order (spec contract), the reader skips
    the index, and every (attrs, geometry) pair survives."""
    import numpy as np

    from pyogrio_spark.io.flatgeobuf import (
        _fgb_layout,
        packed_rtree_size,
        read_flatgeobuf_pdf,
        write_flatgeobuf,
    )

    n = 300
    pdf = pd.DataFrame(
        {
            "name": [f"f{i}" for i in range(n)],
            "v": np.arange(n, dtype=np.int64),
            # unique quantized Hilbert cells per row (i//100 x-shift), so
            # the global sort has no ties and order parity is exact
            "geometry_wkb": [
                W.encode_point((i * 37) % 100 + (i // 100) * 0.2, float((i * 53) % 80))
                for i in range(n)
            ],
        }
    )
    path = str(tmp_path / "idx.fgb")
    write_flatgeobuf(pdf, path, index_node_size=16)
    got, info = read_flatgeobuf_pdf(path)
    assert len(got) == n and sorted(got.name) == sorted(pdf.name)
    # attribute<->geometry pairing survives the reorder
    m = dict(zip(got.name, map(bytes, got.geometry_wkb)))
    want = dict(zip(pdf.name, map(bytes, pdf.geometry_wkb)))
    assert m == want
    spec, code, feat0, offs, fsize, leaf_boxes = _fgb_layout(path)
    # leaf slice yields one ascending offset per feature, starting at the
    # feature section, and the index block has the spec'd size
    assert len(offs) == n and offs[0] == feat0 and (np.diff(offs) > 0).all()
    assert leaf_boxes.shape == (n, 4)
    with open(path, "rb") as f:
        import struct as _s

        f.seek(8)
        (hsize,) = _s.unpack("<I", f.read(4))
    assert feat0 - (8 + 4 + hsize) == packed_rtree_size(n, 16)


@pytest.mark.parametrize("node_size", [0, 16])
def test_distributed_scan_matches_single_node(spark, tmp_path, node_size):
    """Distributed byte-range scan == single-node reader, through both
    offset sources: R-tree leaves (indexed) and the seek-walk (not)."""
    import numpy as np

    from pyogrio_spark.io.flatgeobuf import (
        read_flatgeobuf,
        write_flatgeobuf,
    )

    n = 450
    pdf = pd.DataFrame(
        {
            "name": [f"f{i}" for i in range(n)],
            "v": np.arange(n, dtype=np.int64),
            "score": np.arange(n, dtype=np.float64) / 3.0,
            # unique quantized Hilbert cells per row (i//100 x-shift), so
            # the global sort has no ties and order parity is exact
            "geometry_wkb": [
                W.encode_point((i * 37) % 100 + (i // 100) * 0.2, float((i * 53) % 80))
                for i in range(n)
            ],
        }
    )
    path = str(tmp_path / f"d{node_size}.fgb")
    write_flatgeobuf(pdf, path, index_node_size=node_size)
    dist = read_flatgeobuf(spark, path, distributed=True, chunk_features=100)
    assert dist.rdd.getNumPartitions() == 5  # 450/100 -> 5 byte-range chunks
    got = dist.toPandas().sort_values("name").reset_index(drop=True)
    want = read_flatgeobuf(spark, path).toPandas().sort_values("name").reset_index(drop=True)
    assert got.name.tolist() == want.name.tolist()
    assert got.v.tolist() == want.v.tolist()
    assert [bytes(b) for b in got.geometry_wkb] == [bytes(b) for b in want.geometry_wkb]
    np.testing.assert_allclose(got.score.to_numpy(), want.score.to_numpy())
    # composes with read_table filters
    f = read_flatgeobuf(
        spark, path, distributed=True, chunk_features=100, where="v % 2 = 0", columns=["name", "v"]
    ).toPandas()
    assert len(f) == n // 2 and (f.v % 2 == 0).all()


def test_distributed_bbox_pushdown_prunes_byte_ranges(spark, tmp_path):
    """With the R-tree present, a bbox read must prune whole byte
    ranges on the driver (storage-level pushdown) AND return exactly
    the rows the unpruned path returns."""
    import numpy as np

    from pyogrio_spark.io.flatgeobuf import read_flatgeobuf, write_flatgeobuf

    n = 400
    xs = np.array([(i * 37) % 100 for i in range(n)], dtype=np.float64)
    ys = np.array([(i * 53) % 80 for i in range(n)], dtype=np.float64)
    pdf = pd.DataFrame(
        {
            "name": [f"f{i}" for i in range(n)],
            "geometry_wkb": [W.encode_point(x, y) for x, y in zip(xs, ys)],
        }
    )
    path = str(tmp_path / "bbox.fgb")
    write_flatgeobuf(pdf, path, index_node_size=16)
    bbox = (10.0, 10.0, 30.0, 25.0)
    pruned = read_flatgeobuf(spark, path, distributed=True, chunk_features=100, bbox=bbox)
    full = read_flatgeobuf(spark, path, distributed=True, chunk_features=100)
    want = {
        f"f{i}"
        for i in range(n)
        if bbox[0] <= xs[i] <= bbox[2] and bbox[1] <= ys[i] <= bbox[3]
    }
    got = set(pruned.toPandas().name)
    assert got == want and 0 < len(want) < n
    # the pruned plan reads strictly fewer byte-range chunks
    assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions() or len(want) <= 100
    # miss-everything bbox still yields a well-formed empty frame
    empty = read_flatgeobuf(
        spark, path, distributed=True, chunk_features=100, bbox=(500.0, 500.0, 600.0, 600.0)
    )
    assert empty.count() == 0 and "geometry_wkb" in empty.columns


def test_driver_side_read_binary_and_nullable_bool(spark, tmp_path):
    """A file the engine itself wrote with a binary attribute and a
    boolean column containing nulls must read back through open_table
    WITHOUT distributed=True (round-3 ADVICE: pandas dtype sniffing put
    both in the string branch and createDataFrame raised TypeError)."""
    from pyogrio_spark.io.dispatch import open_table
    from pyogrio_spark.io.flatgeobuf import COL_BINARY, COL_BOOL

    pdf = pd.DataFrame(
        {
            "geometry_wkb": [W.encode_point(float(i), 0.0) for i in range(3)],
            "blob": [b"\x00\xffx", None, b""],
            "flag": [True, None, False],
            "n": pd.array([1, None, 3], dtype="Int64"),
        }
    )
    p = str(tmp_path / "binbool.fgb")
    write_flatgeobuf(pdf, p)
    _, info = read_flatgeobuf_pdf(p)
    assert dict(info["column_spec"])["blob"] == COL_BINARY
    assert dict(info["column_spec"])["flag"] == COL_BOOL
    df = open_table(spark, p)
    assert dict(df.dtypes)["blob"] == "binary"
    assert dict(df.dtypes)["flag"] == "boolean"
    assert dict(df.dtypes)["n"] == "bigint"
    rows = {r["fid"]: r for r in df.collect()}
    assert bytes(rows[0]["blob"]) == b"\x00\xffx" and rows[1]["blob"] is None
    assert rows[0]["flag"] is True and rows[1]["flag"] is None and rows[2]["flag"] is False
    assert rows[1]["n"] is None and rows[2]["n"] == 3
    # distributed scan agrees on schema and values
    ddf = open_table(spark, p, distributed=True)
    assert ddf.schema == df.schema
    assert sorted(map(tuple, ddf.collect())) == sorted(map(tuple, df.collect()))


def test_distributed_empty_file_matches_single_node(spark, tmp_path):
    """A valid zero-feature file returns an empty frame (same schema)
    from BOTH scan paths — distributed=True changes the plan, not the
    behavior (round-3 ADVICE: it used to raise ValueError)."""
    from pyogrio_spark.io.flatgeobuf import read_flatgeobuf

    pdf = pd.DataFrame({"geometry_wkb": pd.Series([], dtype=object), "tag": pd.Series([], dtype=object)})
    p = str(tmp_path / "empty.fgb")
    write_flatgeobuf(pdf, p)
    single = read_flatgeobuf(spark, p)
    dist = read_flatgeobuf(spark, p, distributed=True)
    assert single.count() == 0 and dist.count() == 0
    assert dist.schema == single.schema


def test_distributed_sink_roundtrip_and_parity(spark, tmp_path):
    """write_flatgeobuf_distributed: executors encode feature sections,
    the driver only concatenates — output must round-trip through both
    readers and (single partition) match the driver-side writer
    byte-for-byte."""
    from pyogrio_spark.io.flatgeobuf import (
        flatgeobuf_info,
        read_flatgeobuf,
        write_flatgeobuf_distributed,
    )

    pdf = pd.DataFrame(
        {
            "name": [f"f{i}" for i in range(200)],
            "v": np.arange(200, dtype=np.int64),
            "geometry_wkb": [W.encode_point(float(i % 50), float(i // 50)) for i in range(200)],
        }
    )
    pdf.loc[3, "geometry_wkb"] = None
    df = spark.createDataFrame(pdf, schema="name string, v bigint, geometry_wkb binary")

    # multi-partition write: full content parity (order follows partitions)
    multi = str(tmp_path / "multi.fgb")
    write_flatgeobuf_distributed(df.repartition(7, "v"), multi, crs="EPSG:3857")
    back, info = read_flatgeobuf_pdf(multi)
    assert info["features"] == 200 and info["crs"] == "EPSG:3857"
    assert sorted(back.v) == list(range(200))
    got = {(r.v, None if r.geometry_wkb is None else bytes(r.geometry_wkb)) for r in back.itertuples()}
    want = {(r.v, None if r.geometry_wkb is None else bytes(r.geometry_wkb)) for r in pdf.itertuples()}
    assert got == want
    hdr = flatgeobuf_info(multi)
    assert hdr["total_bounds"] == (0.0, 0.0, 49.0, 3.0)
    assert hdr["geometry_type"] == "Point"
    # distributed reader reads the distributed write
    assert read_flatgeobuf(spark, multi, distributed=True, chunk_features=64).count() == 200

    # single-partition write is byte-identical to the driver-side writer
    one = str(tmp_path / "one.fgb")
    write_flatgeobuf_distributed(df.coalesce(1), one, crs="EPSG:3857")
    ref = str(tmp_path / "ref.fgb")
    write_flatgeobuf(pdf, ref, crs="EPSG:3857", layer_name="one")
    assert open(one, "rb").read() == open(ref, "rb").read()


def test_distributed_indexed_write_hilbert_and_pushdown(spark, tmp_path):
    """index_node_size>0 through the DISTRIBUTED sink: global Hilbert
    sort via a Spark range sort, R-tree assembled from per-part leaf
    files — the result must be a valid indexed file whose bbox
    byte-range pushdown prunes and whose feature order matches the
    driver-side indexed writer's Hilbert order."""
    from pyogrio_spark.io.flatgeobuf import (
        read_flatgeobuf,
        write_flatgeobuf_distributed,
    )

    n = 500
    pdf = pd.DataFrame(
        {
            "v": np.arange(n, dtype=np.int64),
            # unique quantized Hilbert cells per row (i//100 x-shift), so
            # the global sort has no ties and order parity is exact
            "geometry_wkb": [
                W.encode_point((i * 37) % 100 + (i // 100) * 0.2, float((i * 53) % 80))
                for i in range(n)
            ],
        }
    )
    df = spark.createDataFrame(pdf, schema="v bigint, geometry_wkb binary")

    dist = str(tmp_path / "dist_idx.fgb")
    write_flatgeobuf_distributed(df.repartition(5, "v"), dist, index_node_size=16)
    drv = str(tmp_path / "drv_idx.fgb")
    write_flatgeobuf(pdf, drv, index_node_size=16)

    dback, dinfo = read_flatgeobuf_pdf(dist)
    rback, rinfo = read_flatgeobuf_pdf(drv)
    assert dinfo["features"] == n
    # same Hilbert order as the driver-side writer (same key, same sort)
    assert dback.v.tolist() == rback.v.tolist()
    assert [bytes(b) for b in dback.geometry_wkb] == [bytes(b) for b in rback.geometry_wkb]

    # the index actually prunes byte ranges on a tight bbox
    bbox = (10.0, 10.0, 25.0, 25.0)
    pruned = read_flatgeobuf(spark, dist, distributed=True, chunk_features=32, bbox=bbox)
    full = read_flatgeobuf(spark, dist, distributed=True, chunk_features=32)
    assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions()
    want = {
        int(v) for i, v in enumerate(pdf.v)
        if 10.0 <= (i * 37) % 100 + (i // 100) * 0.2 <= 25.0 and 10.0 <= (i * 53) % 80 <= 25.0
    }
    assert {r.v for r in pruned.collect()} == want

    with pytest.raises(Exception, match="non-null geometries"):
        bad = pdf.copy()
        bad.loc[0, "geometry_wkb"] = None
        bdf = spark.createDataFrame(bad, schema="v bigint, geometry_wkb binary")
        write_flatgeobuf_distributed(bdf, str(tmp_path / "bad.fgb"), index_node_size=16)


def test_distributed_decode_error_names_path_and_byte_range(spark, tmp_path):
    """A corrupt feature frame fails its chunk's decode with an error that
    names the file, the chunk's byte range and its first fid."""
    from pyogrio_spark.io.flatgeobuf import _fgb_layout, read_flatgeobuf

    n = 300
    pdf = pd.DataFrame(
        {
            "v": np.arange(n, dtype=np.int64),
            "geometry_wkb": [W.encode_point(float(i % 30), float(i // 30)) for i in range(n)],
        }
    )
    path = str(tmp_path / "corrupt.fgb")
    write_flatgeobuf(pdf, path, index_node_size=16)
    offsets = _fgb_layout(path)[3]
    # feature 150's flatbuffer root offset points far past its frame
    with open(path, "r+b") as f:
        f.seek(int(offsets[150]) + 4)
        f.write(struct.pack("<I", 0x7FFFFFF0))
    with pytest.raises(Exception) as err:
        read_flatgeobuf(spark, path, distributed=True, chunk_features=100).collect()
    msg = str(err.value)
    assert path in msg
    assert f"bytes [{int(offsets[100])}, {int(offsets[200])})" in msg
    assert "first fid 100" in msg
