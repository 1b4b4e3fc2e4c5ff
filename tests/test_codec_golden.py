"""Byte pins for the geometry codecs: the sha256 of the ``.shp``, ``.shx``
and ``.dbf`` files ``write_shapefile`` writes for a geometry-type matrix,
and of every WKB ``read_flatgeobuf_pdf`` decodes from the same matrix
(plus hand-built features other writers emit: an empty polygon, a
MultiPolygon without parts, a feature that leaves its type to the
layer). The digests were recorded from the per-geometry codecs; a codec
rewrite must reproduce them exactly."""

import datetime
import hashlib
import struct

import numpy as np
import pandas as pd
import pytest

from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.io.flatbuf import Builder
from pyogrio_spark.io.flatgeobuf import MAGIC, _build_header, read_flatgeobuf_pdf, write_flatgeobuf
from pyogrio_spark.io.shapefile import write_shapefile

SQ = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])  # CCW
HOLE = np.array([[1.0, 1.0], [1.0, 2.5], [2.5, 2.5], [2.5, 1.0], [1.0, 1.0]])  # CW


def _be_polygon(rings) -> bytes:
    """Big-endian 2-D polygon WKB."""
    out = b"\x00" + struct.pack(">II", 3, len(rings))
    for r in rings:
        out += struct.pack(">I", len(r)) + np.asarray(r, dtype=">f8").tobytes()
    return out


def _iso(code: int, coords) -> bytes:
    """LE point (``code`` % 1000 == 1) or linestring WKB with raw ``coords``
    (so M dimensions can be written)."""
    c = np.asarray(coords, dtype="<f8")
    if code % 1000 == 1:
        return b"\x01" + struct.pack("<I", code) + c.tobytes()
    return b"\x01" + struct.pack("<II", code, len(c)) + c.tobytes()


def _curve_polygon() -> bytes:
    """CurvePolygon whose one ring is a full-circle CircularString."""
    ring = b"\x01" + struct.pack("<II", 8, 3) + np.array([[0, 0], [2, 0], [0, 0]], dtype="<f8").tobytes()
    return b"\x01" + struct.pack("<II", 10, 1) + ring


MATRIX = {
    "point": W.encode_point(1.5, -2.0),
    "point_z": W.encode_point(1.5, -2.0, 7.0),
    "point_zm": _iso(3001, [3.0, 4.0, 5.0, 6.0]),
    "multipoint_z": W.encode_multipoint([[0.0, 0.0, 1.0], [1.0, 2.0, 3.0], [-1.0, 5.0, -2.0]]),
    "line": W.encode_linestring([[0.0, 0.0], [1.0, 1.0], [2.0, 0.0]]),
    "line_m": _iso(2002, [[0.0, 0.0, 9.0], [3.0, 1.0, 8.0]]),
    "multiline": W.encode_multilinestring([[[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [3.0, 1.0], [4.0, 4.0]]]),
    "poly_hole_ccw_cw": W.encode_polygon([SQ, HOLE]),
    "poly_hole_cw_ccw": W.encode_polygon([SQ[::-1], HOLE[::-1]]),
    "multipolygon": W.encode_multipolygon([[SQ], [SQ + 10.0, HOLE + 10.0]]),
    "poly_z": W.encode_polygon([np.column_stack([SQ, np.arange(5.0)])]),
    "multipolygon_z": W.encode_multipolygon([[np.column_stack([SQ[::-1], -np.arange(5.0)])],
                                             [np.column_stack([SQ + 5.0, np.ones(5)])]]),
    "poly_big_endian": _be_polygon([SQ * 2.0, HOLE * 2.0]),
    "multipolygon_mixed_endian": b"\x01" + struct.pack("<II", 6, 2) + _be_polygon([SQ]) + W.encode_polygon([HOLE]),
    "circularstring": W.encode_circularstrings([0.0], [0.0], [1.0], [1.0], [2.0], [0.0])[0],
    "curvepolygon": _curve_polygon(),
    "null": None,
}
# written to FlatGeobuf only: a shapefile has no collection record
COLLECTIONS = {
    "collection": W.encode_collection([W.encode_point(9.0, 9.0), W.encode_linestring(SQ[:3])]),
    "collection_nested": W.encode_collection([W.encode_multipolygon([[SQ], [SQ + 6.0]]),
                                              W.encode_point(1.0, 2.0, 3.0)]),
}


def _attrs(n: int) -> dict:
    return {
        "id": np.arange(n, dtype=np.int64) * 1_000_003 - 7,
        "nn": pd.array([None if i % 4 == 1 else -i for i in range(n)], dtype="Int32"),
        "val": np.array([np.nan if i % 5 == 3 else i / 7.0 for i in range(n)]),
        "flag": np.arange(n) % 3 == 0,
        "label": [None if i % 6 == 0 else f"geom-{i}-é" * (1 + i % 3) for i in range(n)],
        "day": [datetime.date(2020, 1, 1) + datetime.timedelta(days=3 * i) for i in range(n)],
    }


def _frame(geoms: list) -> pd.DataFrame:
    return pd.DataFrame({**_attrs(len(geoms)), "geometry_wkb": geoms})


def _sha(data) -> str:
    return hashlib.sha256(bytes(data)).hexdigest()


def _shp_digests(tmp_path, name: str, geoms: list) -> tuple:
    path = str(tmp_path / f"{name}.shp")
    write_shapefile(_frame(geoms), path)
    return tuple(_sha(open(path[:-4] + ext, "rb").read()) for ext in (".shp", ".shx", ".dbf"))


DBF_ONE_ROW = "2de62962580213f7080f626557a0c28929a31b15aa78ed504255604fcf833072"  # every one-row file
SHP_DIGESTS = {  # name -> (.shp, .shx) sha256; .dbf is DBF_ONE_ROW
    "point": ("e611a6c8cc18a86edc354f16dcad45683011f1ce185dbc4ba577445f548869a4",
        "c7640beb4e6477c5f54b035525456c763376d160a7c7c444c36c44167c9c17ba"),
    "point_z": ("e480f87f250dbdb500774620c9ff8206ce349e94b07aa9353053c29b01711c24",
        "fcbf47709c6104227c83b5aad3bb280966a99079a778927372875b4ca5b58bcb"),
    "point_zm": ("1eab6973c98a172668f854280ffaf2f7f609d27fa713ae0f9f06f54f2f294b23",
        "08ca12a1fa7e1d064963c6e5a1e810496233e1a75323065b0e757e8b4c26367b"),
    "multipoint_z": ("0a901f8cb28203df331f16db90c7a4a2b97e5b4908bb33dc41c0f12e86e2b40a",
        "82fdb6231758fd3cf4e2fc708c859848fca5e79afd9d81fc6753b0adece730ae"),
    "line": ("b072bf0bf508e7e1e6b91b596c22f7149ef6b62cc2583ed6db2511f7c0addfcd",
        "35921db98d67cd01425298276dce17375e642f9ccef21047b948667fe3905b6b"),
    "line_m": ("d0d8c7dbd5ece476a99e3f4e3a27fe59f023a9dd3e8e70fcb97307ae1adea80f",
        "6c2b7107f114376ac6ef4f6a85fa4099ac57726c4a5ed9952462c984fc8a2dfd"),
    "multiline": ("27d7bb8b5c27f6911eddb0ffe71256863d8aaa8d1679e600653b37b030a121d0",
        "63466e21621e8212b88795fba10fdafec6cb6e57adb9546c86c2f2b8e778f935"),
    "poly_hole_ccw_cw": ("e7cfb8aa96895ab86fb2efca3419d28313c9861e3d62a60e2a97d8fd2641c71c",
        "c40cf34c1dd97ec8a10e0c073358d89159d3c94f2274d1c3cefc67ae76f18c12"),
    "poly_hole_cw_ccw": ("e7cfb8aa96895ab86fb2efca3419d28313c9861e3d62a60e2a97d8fd2641c71c",
        "c40cf34c1dd97ec8a10e0c073358d89159d3c94f2274d1c3cefc67ae76f18c12"),
    "multipolygon": ("1d06ec7f6ff722a0e593bc6c7545875a47742eeaece4e33b9c1c2087943024e3",
        "f135ecdf9b443654c8133e14c6a948dc8a0abd3a90b214e98458b97abe9d78e9"),
    "poly_z": ("180688798efc2068d04bc29ca0a7334e0badcf7dedfa17f76619dd0cbdf6a8d7",
        "94794d7eddff5c3acf03bfff7c4f4703cd80599d446a9ccfe4a2e625f0d607c8"),
    "multipolygon_z": ("6ed6a1b59999028eabc16d4ddb49e54f8872ece1e231abf29043816fef2be11f",
        "8ad6384543c3bf00d385ceb8790e966d00c2c56c3a9f178d19053348dc850352"),
    "poly_big_endian": ("3dfc143630b3c47363ac6952f901aaa3dff075c9a4f347155e053eeed9c8e26d",
        "4c85f9f763b0ff9ce4b4f34b844177ff74368f83f4957464d8d7b8c6d07f1895"),
    "multipolygon_mixed_endian": ("651f50db453d9882fc5e88ec9d8537e0585def9d405e334dcb317d590943eb72",
        "c40cf34c1dd97ec8a10e0c073358d89159d3c94f2274d1c3cefc67ae76f18c12"),
    "circularstring": ("2d513e1c3afc4e55856667f9a430f08b1029ab6ee4c63a15f7d5a83b48e63dee",
        "1648baccd625c73cdb6a53f5d1234e5dce69c5345372fff759e19f9f22ccc53c"),
    "curvepolygon": ("5644eff77566de5b96ade37acf864617a1f8486d364919b22e592cfce6469a46",
        "7e70103aefa4aa8a15a13eac880f7845a2bc18bfae0bd3c577416c8618f7bbc8"),
    "null": ("59447c75951cec322383e7451ec555b8a5496a2b51414e228373ebef4645061c",
        "a9b680ca49da5381a4ae8ea5be16717e655c21320079ccceb653b87b563a2844"),
}
SHP_ALL_DIGESTS = ("34bae851811bc43af47340760fefdb178f769f2e7125a5c78d29309e97965ca0",
                   "6a3eec9413ec7dfd572edfc0296a31e72eae4ef8e4887727d9c9d7cab52d6d43",
                   "a7c12d035bb45bee79e6489d3386c3faada5eb7de8efdfb0eb23398b712411fe")


@pytest.mark.parametrize("name", list(MATRIX))
def test_shapefile_bytes_per_geometry_type(tmp_path, name):
    assert _shp_digests(tmp_path, name, [MATRIX[name]]) == (*SHP_DIGESTS[name], DBF_ONE_ROW)


def test_shapefile_bytes_whole_matrix(tmp_path):
    assert _shp_digests(tmp_path, "matrix", list(MATRIX.values())) == SHP_ALL_DIGESTS


# points and nulls between the multi-vertex records, Z rows between 2-D ones
INTERLEAVED = ["multipoint_z", "point", "poly_z", "null", "point_zm", "multiline", "point_z",
               "multipolygon_z", "line_m", "point", "poly_big_endian", "null", "poly_hole_ccw_cw"]
SHP_INTERLEAVED_DIGESTS = ("743e574b2ecd02a89eb199cbfbce383dd58455af141dc2fba960d8bc65a9eea4",
                           "7123c03743c8734582baaaae600ef99fb8cc275613a89af6548794f2a004ee4a",
                           "cc200e71944f5e1f51867aa1c13c243521af4e8bbd5d001d614d815865858813")


def test_shapefile_bytes_interleaved_types(tmp_path):
    assert _shp_digests(tmp_path, "mixed", [MATRIX[n] for n in INTERLEAVED]) == SHP_INTERLEAVED_DIGESTS


@pytest.mark.parametrize("geom", [b"\x01\x03\x00\x00\x00\x00\x00\x00\x00",  # POLYGON EMPTY
                                  W.encode_linestring(np.empty((0, 2))),
                                  COLLECTIONS["collection"]])
def test_shapefile_rejects_what_it_cannot_write(tmp_path, geom):
    with pytest.raises(ValueError):
        write_shapefile(_frame([MATRIX["point"], geom]), str(tmp_path / "bad.shp"))


def _hand_built_fgb(path: str) -> list:
    """A Polygon-layer FlatGeobuf whose features other writers may emit:
    an empty polygon (no xy), a MultiPolygon given as one polygon's xy
    and ends (no parts), and a polygon whose type comes from the layer.
    Returns the geometry tables' WKB as decoded."""
    ring = SQ.ravel().astype("<f8").tobytes()
    two_rings = np.concatenate([SQ, HOLE]).ravel().astype("<f8").tobytes()
    feats = []
    for code, xy, ends in [(3, None, None), (6, two_rings, (5, 10)), (0, ring, None)]:
        fb = Builder()
        ends_off = None if ends is None else fb.create_scalar_vector(struct.pack(f"<{len(ends)}I", *ends), len(ends), 4)
        xy_off = None if xy is None else fb.create_scalar_vector(xy, len(xy) // 8, 8)
        fb.start_table()
        fb.add_offset(0, ends_off)
        fb.add_offset(1, xy_off)
        if code:
            fb.add_scalar(6, "<B", code, 0)
        geom = fb.end_table()
        fb.start_table()
        fb.add_offset(0, geom)
        feats.append(fb.finish(fb.end_table(), size_prefixed=True))
    header = _build_header([], 3, False, [0.0, 0.0, 4.0, 4.0], len(feats), "hand", None, 0)
    with open(path, "wb") as f:
        f.write(MAGIC + header + b"".join(feats))


FGB_DIGESTS = [  # sha256 of each decoded WKB (None for null), matrix + collections order
    '05362ed042acf027d686da21fa7200fe047e9923efa58b8e23c6ea77e966146c',
    'c8e91cfa48c9ba23683a623886152e829f3f538370484b9b94e2534c3d78fc22',
    '6a3951c3e20fe6e3a8f62e34b16f77ab30683d4c94e1a619c3df82e96249ebda',
    'd75216f64e97a48998d90e0eba1ca25ed7f00ca55b9cdafbc0f467fdeb5f8caa',
    '081d124b7d510d12ef877b87d48519d1995be0fb2bca0d378122ea41b49ec90b',
    'b592cf880c1f56b7ac16bdb7ef42e89180f3d3c7e6a502e34c8dfc8ddde14ffb',
    '0cd5a235e678cdc404cc48fd902178294fe6fbaeb43198ea066a6355b95a0c03',
    'dc3d1d2a5a4a815fa210eb42addc4c6073a4f4ee3269dad6f480d7e8e6433cd7',
    'd1193b95468ab7cf9a7c244621c0d13dd2e7d8c866790c378ce7ca9bfb4e4538',
    '3347534e7fa81bda857009481454672a1b645e51d763d2679a297101ce0191fa',
    'df9a3fcba939127b67909395be4bdc0044594a5ca52ca6992afd53d8796f9129',
    'ca4569d712a26754e1f22015fa83a4a330f531e9e48d94446caa5901f65879f9',
    '7ce73f82590639a401bdd170b7aa16ad3d13f6e22c2ee3d081edf2aab4310540',
    'ac05987f61533a708df6a5901c6f70a16479b33e07c8e246d8b9390560afc490',
    '26378cf7f8b1c472d9ab3f37597944a0ad3459886a7e2db7a089d0dfd064e891',
    'ff29b47a095e5ecea94e9e331ae2ba992c66e47214b8a2a7a90c35f3dec340e8',
    None,
    '877fd7636eedf8d9ee3ef11bd8e2794c6670a55e6f8129794f84f3801332349c',
    '664f9727228a7fee25c587e08a0730e24187ff51653819099c3bf32353189ea9',
]
FGB_HAND_DIGESTS = [
    'd7e41ff1839fd7cac3e372ba42bb6410e8a52101126769586c6d57ee7e53da7f',
    '656b3a11af36aabc4e95ef93e1924c69cfa2089364582e3542ea78c922c4f42f',
    '719fccd4e6bcf70a2161a3850c31daffe420822f7e3ae62f0e97f0844c8befe0',
]


def test_flatgeobuf_decoded_wkb_whole_matrix(tmp_path):
    geoms = list(MATRIX.values()) + list(COLLECTIONS.values())
    path = str(tmp_path / "matrix.fgb")
    write_flatgeobuf(_frame(geoms), path)
    back, _ = read_flatgeobuf_pdf(path)
    assert [None if b is None else _sha(b) for b in back["geometry_wkb"]] == FGB_DIGESTS


def test_flatgeobuf_decoded_wkb_hand_built_features(tmp_path):
    path = str(tmp_path / "hand.fgb")
    _hand_built_fgb(path)
    back, _ = read_flatgeobuf_pdf(path)
    assert [_sha(b) for b in back["geometry_wkb"]] == FGB_HAND_DIGESTS


def _record(tmp_path):  # pragma: no cover - regenerates the digests above
    print("SHP_DIGESTS =", {n: _shp_digests(tmp_path, n, [g]) for n, g in MATRIX.items()})
    print("SHP_ALL_DIGESTS =", _shp_digests(tmp_path, "matrix", list(MATRIX.values())))
    geoms = list(MATRIX.values()) + list(COLLECTIONS.values())
    write_flatgeobuf(_frame(geoms), str(tmp_path / "m.fgb"))
    print("FGB_DIGESTS =", [None if b is None else _sha(b) for b in read_flatgeobuf_pdf(str(tmp_path / "m.fgb"))[0]["geometry_wkb"]])
    _hand_built_fgb(str(tmp_path / "h.fgb"))
    print("FGB_HAND_DIGESTS =", [_sha(b) for b in read_flatgeobuf_pdf(str(tmp_path / "h.fgb"))[0]["geometry_wkb"]])


def test_polygon_codecs_build_no_geometry_objects(monkeypatch, tmp_path):
    """The FlatGeobuf decoder, the bbox refine and the Shapefile part
    encoder run on the flat layout: on a Polygon/MultiPolygon batch they
    never parse a WKB into a ``Geom`` or encode one back."""
    from pyogrio_spark.io.reader import _box_keep

    geoms = [MATRIX[n] for n in ("poly_hole_ccw_cw", "poly_hole_cw_ccw", "multipolygon", "poly_z",
                                 "multipolygon_z")]
    path = str(tmp_path / "polys.fgb")
    write_flatgeobuf(_frame(geoms), path)

    def per_geometry(*args, **kwargs):
        raise AssertionError("per-geometry codec path")

    monkeypatch.setattr(W, "parse_wkb", per_geometry)
    monkeypatch.setattr(W, "encode_geom", per_geometry)
    back, _ = read_flatgeobuf_pdf(path)
    assert back["geometry_wkb"].tolist() == geoms
    assert _box_keep((1.0, 1.0, 3.0, 3.0), back["geometry_wkb"].to_numpy()).tolist() == [True] * 5
    write_shapefile(back.drop(columns=["fid"]), str(tmp_path / "polys.shp"))
