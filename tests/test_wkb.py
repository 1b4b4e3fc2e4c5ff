import numpy as np
import pytest

from pyogrio_spark.geometry import wkb as W


def test_point_roundtrip():
    b = W.encode_point(12.5, -33.25)
    g = W.parse_wkb(b)
    assert g.type == "Point"
    assert g.coords[0] == 12.5 and g.coords[1] == -33.25
    assert W.geom_type_name(b) == "Point"
    assert W.bounds(b) == (12.5, -33.25, 12.5, -33.25)


def test_points_vectorized_roundtrip():
    lon = np.array([0.0, -179.99, 179.99, 1e-9])
    lat = np.array([0.0, -89.9, 89.9, -1e-9])
    enc = W.encode_points(lon, lat)
    dlon, dlat = W.decode_points(enc)
    np.testing.assert_array_equal(dlon, lon)
    np.testing.assert_array_equal(dlat, lat)


def test_polygon_roundtrip_and_bounds():
    ring = np.array([(0.0, 0.0), (4, 0), (4, 3), (0, 3), (0, 0)])
    hole = np.array([(1.0, 1.0), (2, 1), (2, 2), (1, 2), (1, 1)])
    b = W.encode_polygon([ring, hole])
    g = W.parse_wkb(b)
    assert g.type == "Polygon" and len(g.coords) == 2
    np.testing.assert_array_equal(g.coords[0], ring)
    assert W.bounds(b) == (0, 0, 4, 3)


def test_multipolygon():
    sq = np.array([(0.0, 0.0), (1, 0), (1, 1), (0, 1), (0, 0)])
    b = W.encode_multipolygon([[sq], [sq + 10]])
    g = W.parse_wkb(b)
    assert g.type == "MultiPolygon" and len(g.coords) == 2
    assert W.bounds(b) == (0, 0, 11, 11)
    assert W.geom_type_name(b) == "MultiPolygon"


def test_z_kept_m_stripped():
    # ISO codes: 1001 = Point Z, 2001 = Point M, 3001 = Point ZM
    import struct

    pz = b"\x01" + struct.pack("<I", 1001) + struct.pack("<ddd", 1, 2, 3)
    g = W.parse_wkb(pz)
    assert g.has_z and g.coords.shape[0] == 3
    pm = b"\x01" + struct.pack("<I", 2001) + struct.pack("<ddd", 1, 2, 9)
    g = W.parse_wkb(pm)
    assert not g.has_z and g.coords.shape[0] == 2  # M stripped (reference _io.pyx:1009-1010)
    pzm = b"\x01" + struct.pack("<I", 3001) + struct.pack("<dddd", 1, 2, 3, 9)
    g = W.parse_wkb(pzm)
    assert g.has_z and g.coords.shape[0] == 3
    g2 = W.parse_wkb(pz, force_2d=True)
    assert not g2.has_z and g2.coords.shape[0] == 2


def test_big_endian_parse():
    import struct

    be = b"\x00" + struct.pack(">I", 1) + struct.pack(">dd", 5.0, 6.0)
    g = W.parse_wkb(be)
    assert g.coords[0] == 5.0 and g.coords[1] == 6.0


def test_invalid_policies():
    bad = b"\x01\x01\x00"
    with pytest.raises(W.WKBError):
        W.decode_points([bad], on_invalid="raise")
    lon, lat = W.decode_points([bad, W.encode_point(1, 2)], on_invalid="ignore")
    assert np.isnan(lon[0]) and lon[1] == 1.0


def test_decode_points_mixed_with_null():
    lon, lat = W.decode_points([None, W.encode_point(3, 4)], on_invalid="ignore")
    assert np.isnan(lon[0]) and lon[1] == 3.0 and lat[1] == 4.0


def test_encode_rects_matches_encode_polygon():
    xmin = np.array([-1.5, 10.0])
    ymin = np.array([-2.5, 20.0])
    xmax = np.array([3.5, 11.0])
    ymax = np.array([4.5, 21.5])
    got = W.encode_rects(xmin, ymin, xmax, ymax)
    for i in range(2):
        ring = np.array(
            [(xmin[i], ymin[i]), (xmax[i], ymin[i]), (xmax[i], ymax[i]), (xmin[i], ymax[i]), (xmin[i], ymin[i])]
        )
        assert bytes(got[i]) == W.encode_polygon([ring])
        assert W.bounds(bytes(got[i])) == (xmin[i], ymin[i], xmax[i], ymax[i])


def test_rect_mask():
    rects = W.encode_rects(np.array([0.0]), np.array([1.0]), np.array([2.0]), np.array([3.0]))
    point = W.encode_point(1, 2)
    # 5-point closed but NOT axis-aligned (rotated quad): must be rejected
    ring = np.array([(0, 1), (2, 0), (4, 1), (2, 2), (0, 1)], dtype=float)
    quad = W.encode_polygon([ring])
    m = W.rect_mask([bytes(rects[0]), point, quad, None])
    assert m.tolist() == [True, False, False, False]


def test_flat_layout_round_trips_the_linear_types():
    """WKB -> flat layout -> WKB gives what parse + encode give, for 2-D,
    Z, M (dropped), big-endian, Multi*, simple collections and null."""
    import struct

    sq = np.array([(0.0, 0.0), (1, 0), (1, 1), (0, 1), (0, 0)])
    sqz = np.column_stack([sq, np.arange(5.0)])
    be_line = b"\x00" + struct.pack(">II", 2, 2) + np.array([[1, 2], [3, 4]], dtype=">f8").tobytes()
    line_m = b"\x01" + struct.pack("<II", 2002, 2) + np.array([[1, 2, 9], [3, 4, 9]], dtype="<f8").tobytes()
    geoms = [
        W.encode_point(1.0, 2.0), W.encode_point(1.0, 2.0, 3.0), None, be_line, line_m,
        W.encode_polygon([sq, sq * 0.5]), W.encode_polygon([sqz]), b"\x01\x03\x00\x00\x00\x00\x00\x00\x00",
        W.encode_multipoint([(0.0, 0.0, 1.0), (2.0, 2.0, 2.0)]), W.encode_multilinestring([sq[:2], sq[2:]]),
        W.encode_multipolygon([[sq], [sqz + 5.0]]), W.encode_collection([W.encode_point(5.0, 5.0), be_line]),
    ]
    f = W.flat_from_wkb(geoms)
    assert f.geom_type.tolist() == [1, 1, 0, 2, 2, 3, 3, 3, 4, 5, 6, 7]
    assert W.flat_to_wkb(f) == [None if g is None else W.encode_geom(W.parse_wkb(g)) for g in geoms]
    b = W.flat_bounds(f)
    assert b[5].tolist() == [0, 0, 1, 1] and b[10].tolist() == [0, 0, 6, 6] and np.isnan(b[[2, 7]]).all()


def test_flat_layout_rejects_truncated_wkb():
    good = W.encode_polygon([np.array([(0.0, 0.0), (1, 0), (1, 1), (0, 0)])])
    with pytest.raises(W.WKBError):
        W.flat_from_wkb([good, good[:-8]])
    with pytest.raises(W.WKBError):
        W.flat_from_wkb([b"\x01\x01\x00"])
    with pytest.raises(W.WKBError):
        W.flat_from_wkb([b"\x01" + (99).to_bytes(4, "little")])
