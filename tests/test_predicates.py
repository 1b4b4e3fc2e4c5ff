import numpy as np

from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.geometry.predicates import PreparedPolygon, points_in_polygon, seg_intersects_box
from pyogrio_spark.index.cover import _CLIP_PAD, cover_table
from pyogrio_spark.index.grid import cell_bounds, cell_of, cover_bbox


SQ = np.array([(0.0, 0.0), (10, 0), (10, 10), (0, 10), (0, 0)])
HOLE = np.array([(4.0, 4.0), (6, 4), (6, 6), (4, 6), (4, 4)])


def test_pip_square():
    b = W.encode_polygon([SQ])
    px = np.array([5.0, -1.0, 11.0, 9.99])
    py = np.array([5.0, 5.0, 5.0, 9.99])
    got = points_in_polygon(px, py, b)
    assert got.tolist() == [True, False, False, True]


def test_pip_hole():
    b = W.encode_polygon([SQ, HOLE])
    px = np.array([5.0, 3.0, 4.5])
    py = np.array([5.0, 3.0, 5.0])
    assert points_in_polygon(px, py, b).tolist() == [False, True, False]


def test_pip_multipolygon():
    b = W.encode_multipolygon([[SQ], [SQ + 100]])
    px = np.array([5.0, 105.0, 50.0])
    py = np.array([5.0, 105.0, 50.0])
    assert points_in_polygon(px, py, b).tolist() == [True, True, False]


def test_prepared_matches_plain():
    rng = np.random.default_rng(3)
    px = rng.uniform(-2, 12, 500)
    py = rng.uniform(-2, 12, 500)
    b = W.encode_polygon([SQ, HOLE])
    prep = PreparedPolygon(b)
    np.testing.assert_array_equal(prep.contains_points(px, py), points_in_polygon(px, py, b))


def test_seg_box():
    # crossing, inside, outside-separated, touching-bbox-but-separated
    got = seg_intersects_box(
        np.array([-1.0, 1.0, -5.0, -1.0]),
        np.array([5.0, 1.0, -5.0, 11.0]),
        np.array([11.0, 2.0, -3.0, 11.0]),
        np.array([5.0, 2.0, -4.0, -1.0]),
        0.0, 0.0, 10.0, 10.0,
    )
    assert got.tolist()[:3] == [True, True, False]


def test_classify_box():
    prep = PreparedPolygon(W.encode_polygon([SQ]))
    assert prep.classify_box(2, 2, 3, 3) == "full"
    assert prep.classify_box(-1, -1, 1, 1) == "partial"
    assert prep.classify_box(20, 20, 30, 30) == "none"
    assert prep.classify_box(-5, -5, 15, 15) == "partial"  # box contains polygon
    prep_h = PreparedPolygon(W.encode_polygon([SQ, HOLE]))
    assert prep_h.classify_box(4.4, 4.4, 5.6, 5.6) == "none"  # box fully inside the hole
    assert prep_h.classify_box(3.5, 3.5, 4.5, 4.5) == "partial"  # straddles the hole edge
    assert prep_h.classify_box(1.0, 1.0, 2.0, 2.0) == "full"


def test_cover_polygon_flags_agree_with_pip():
    b = W.encode_polygon([SQ])
    res = 7
    t = cover_table([0], [b], res)
    cells, full = t["cell_id"].to_numpy(), t["full_cover"].to_numpy()
    assert len(cells) > 0
    prep = PreparedPolygon(b)
    for c, f in zip(cells, full):
        x0, y0, x1, y1 = (float(v) for v in cell_bounds(np.int64(c), res))
        # sample the cell center: full cells must contain it
        cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
        if f:
            assert prep.contains_points(np.array([cx]), np.array([cy]))[0]
    # every point inside the polygon maps to a covered cell
    rng = np.random.default_rng(5)
    px = rng.uniform(0, 10, 200)
    py = rng.uniform(0, 10, 200)
    inside = prep.contains_points(px, py)
    pc = cell_of(px[inside], py[inside], res)
    cellset = set(cells.tolist())
    assert all(int(c) in cellset for c in pc)


def _cover_per_cell(fid, wkb, res):
    """Reference cover, one cell at a time: ``classify_box`` of every
    candidate cell and the edge clip of each partial cell on its own."""
    prep = PreparedPolygon(wkb)
    e = np.concatenate([np.concatenate([r[:-1], r[1:]], axis=1) for r in prep.rings])
    rows = []
    for c in cover_bbox(*prep.bbox, res).tolist():
        x0, y0, x1, y1 = (float(v) for v in cell_bounds(np.int64(c), res))
        kind = prep.classify_box(x0, y0, x1, y1)
        if kind == "none":
            continue
        edges = []
        if kind == "partial":
            px, py = (x1 - x0) * _CLIP_PAD, (y1 - y0) * _CLIP_PAD
            keep = (
                (np.minimum(e[:, 1], e[:, 3]) <= y1 + py)
                & (np.maximum(e[:, 1], e[:, 3]) >= y0 - py)
                & (np.maximum(e[:, 0], e[:, 2]) >= x0 - px)
            )
            edges = [dict(zip(("x0", "y0", "x1", "y1"), row)) for row in e[keep].tolist()]
        rows.append((c, fid, kind == "full", edges))
    return rows


def _cover_zone_sets():
    from pyogrio_spark.fixtures import make_zones

    zones = make_zones()
    hole = W.encode_polygon([SQ, HOLE])
    multi = W.encode_multipolygon([[SQ], [SQ + 20.0], [np.array([(30.0, 0), (40, 5), (30, 10), (30, 0)])]])
    # zones reaching the grid's clamped edges at +-180 and +-90
    ne = W.encode_polygon([np.array([(170.0, 80), (180, 80), (180, 90), (170, 90), (170, 80)])])
    sw = W.encode_polygon([np.array([(-180.0, -90), (-171, -90), (-175, -84), (-180, -90)])])
    # a notch edge a hair above the row line y = 8.4375 at res 7: only the
    # clip's padding keeps it in the partial cells just below the line
    y = -90 + 70 * 180 / 128 + 1e-9
    notch = W.encode_polygon([np.array([(0.5, 5.0), (7, 5), (7, y), (3, y), (3, 12), (0.5, 12), (0.5, 5)])])
    yield "make_zones res 7", list(zip(zones.fid, zones.geometry_wkb)), 7
    # res 9 on every 20th zone keeps the per-cell reference quick
    yield "make_zones res 9", list(zip(zones.fid[::20], zones.geometry_wkb[::20])), 9
    yield "hole, multipolygon, clamped, notch", [(1, hole), (2, multi), (3, ne), (4, sw), (5, notch)], 7
    yield "one zone", [(7, hole)], 9


def test_cover_table_matches_per_cell_reference():
    for name, zones, res in _cover_zone_sets():
        t = cover_table([f for f, _ in zones], [w for _, w in zones], res)
        got = list(zip(t["cell_id"].to_pylist(), t["fid"].to_pylist(), t["full_cover"].to_pylist(),
                       t["edges"].to_pylist()))
        want = [row for fid, wkb in zones for row in _cover_per_cell(fid, wkb, res)]
        assert got == want, name
        assert any(not full for _, _, full, _ in got), name


def _zoo(rng):
    """Random mixed-type WKB batch around the unit-ish square."""
    geoms = []
    for i in range(240):
        kind = i % 6
        cx, cy = rng.uniform(-3, 3, 2)
        if kind == 0:  # point
            geoms.append(W.encode_point(cx, cy))
        elif kind == 1:  # linestring
            pts = np.column_stack([cx + rng.uniform(-1, 1, 4), cy + rng.uniform(-1, 1, 4)])
            geoms.append(W.encode_linestring(pts))
        elif kind == 2:  # triangle
            ang = rng.uniform(0, 2 * np.pi, 3)
            r = rng.uniform(0.2, 1.2, 3)
            ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
            ring = np.vstack([ring, ring[:1]])
            geoms.append(W.encode_polygon([ring]))
        elif kind == 3:  # polygon with hole
            s = rng.uniform(0.5, 1.5)
            outer = np.array([(cx - s, cy - s), (cx + s, cy - s), (cx + s, cy + s), (cx - s, cy + s), (cx - s, cy - s)])
            h = s / 3
            inner = np.array([(cx - h, cy - h), (cx + h, cy - h), (cx + h, cy + h), (cx - h, cy + h), (cx - h, cy - h)])
            geoms.append(W.encode_polygon([outer, inner]))
        elif kind == 4:  # multipoint
            pts = np.column_stack([cx + rng.uniform(-1, 1, 3), cy + rng.uniform(-1, 1, 3)])
            geoms.append(W.encode_multipoint(pts))
        else:  # multipolygon of two small squares
            polys = []
            for dx in (-0.8, 0.8):
                s = 0.3
                x, y = cx + dx, cy
                polys.append([np.array([(x - s, y - s), (x + s, y - s), (x + s, y + s), (x - s, y + s), (x - s, y - s)])])
            geoms.append(W.encode_multipolygon(polys))
    geoms.append(None)
    return np.array(geoms, dtype=object)


def test_batch_intersects_matches_per_row():
    from pyogrio_spark.geometry.predicates import batch_intersects

    rng = np.random.default_rng(7)
    # concave pentagon-ish prep polygon with a hole
    outer = np.array([(-2, -2), (2, -2), (2.5, 0.5), (0, 2.2), (-2.4, 1.0), (-2, -2)], dtype=float)
    hole = np.array([(-0.5, -0.5), (0.5, -0.5), (0.5, 0.5), (-0.5, 0.5), (-0.5, -0.5)], dtype=float)
    prep = PreparedPolygon(W.encode_polygon([outer, hole]))
    geoms = _zoo(rng)
    got = batch_intersects(prep, geoms)
    want = np.array([g is not None and prep.intersects_geom(bytes(g)) for g in geoms])
    assert (got == want).all(), f"{np.flatnonzero(got != want)[:10]}"
    assert want.any() and not want.all()  # the zoo actually exercises both sides


def test_batch_intersects_box_point_semantics_batch_independent():
    from pyogrio_spark.geometry.predicates import batch_intersects_box

    # point exactly ON the max edge of the box: closed-interval semantics
    # must keep it whether the batch is all-points or mixed
    on_edge = W.encode_point(1.0, 0.5)
    tri = W.encode_polygon([np.array([(5.0, 5.0), (6.0, 5.0), (5.5, 6.0), (5.0, 5.0)])])
    mixed = np.array([on_edge, tri], dtype=object)
    got = batch_intersects_box(0.0, 0.0, 1.0, 1.0, mixed)
    assert got[0], "boundary point must be kept in mixed batches (closed interval)"
    assert not got[1]
    # polygon swallowing the box entirely (no vertex in box, no edge cross)
    big = W.encode_polygon([np.array([(-9, -9), (9, -9), (9, 9), (-9, 9), (-9, -9)], dtype=float)])
    assert batch_intersects_box(0.0, 0.0, 1.0, 1.0, np.array([big], dtype=object))[0]


def test_batch_intersects_prep_inside_candidate():
    from pyogrio_spark.geometry.predicates import batch_intersects

    prep = PreparedPolygon(W.encode_polygon([np.array([(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)], dtype=float)]))
    big = W.encode_polygon([np.array([(-5, -5), (5, -5), (5, 5), (-5, 5), (-5, -5)], dtype=float)])
    ring_far = W.encode_polygon([  # candidate with hole containing prep entirely inside the hole
        np.array([(-5, -5), (5, -5), (5, 5), (-5, 5), (-5, -5)], dtype=float),
        np.array([(-2, -2), (2, -2), (2, 2), (-2, 2), (-2, -2)], dtype=float),
    ])
    got = batch_intersects(prep, np.array([big, ring_far], dtype=object))
    assert got[0], "candidate swallowing prep must intersect"
    assert not got[1], "prep inside candidate's hole must NOT intersect"


def test_include_boundary_pip_semantics():
    """Round-3: GEOS-intersects boundary option — on-edge/on-vertex
    points test True with include_boundary=True, False without; hole
    boundaries count as boundary (part of the geometry), hole interiors
    stay outside either way."""
    import numpy as np

    from pyogrio_spark.geometry.predicates import points_in_polygon

    poly = W.encode_polygon([
        np.array([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)], dtype=float),
        np.array([(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)], dtype=float),  # hole
    ])
    px = np.array([5.0, 0.0, 10.0, 5.0, 4.0, 5.0, 11.0])
    py = np.array([1.0, 0.0, 5.0, 10.0, 5.0, 5.0, 5.0])
    #               int  vert  edge  edge  hole-edge hole-int  outside
    strict = points_in_polygon(px, py, poly)
    incl = points_in_polygon(px, py, poly, include_boundary=True)
    # half-open convention: LOW edges/vertices are inside, high edges out;
    # a point on the hole's low-x edge is inside the (half-open) hole
    assert strict.tolist() == [True, True, False, False, False, False, False]
    assert incl.tolist() == [True, True, True, True, True, False, False]
    # the option only ever ADDS boundary points, never removes interior
    assert (incl | ~strict).all()


def test_include_boundary_prepared_diamond():
    import numpy as np

    ring = np.array([(-5, 0), (0, -5), (5, 0), (0, 5), (-5, 0)], dtype=float)
    prep = PreparedPolygon(W.encode_polygon([ring]))
    px = np.array([2.0, 3.0, 0.0, -5.0])
    py = np.array([2.0, 2.0, -5.0, 0.0])
    #              int   on-45deg-edge vertex vertex(low-x: half-open keeps it)
    assert prep.contains_points(px, py).tolist() == [True, False, False, True]
    assert prep.contains_points(px, py, include_boundary=True).tolist() == [True, True, True, True]
