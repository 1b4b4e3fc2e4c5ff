"""Vectorized geometry predicates (numpy; no GEOS).

The reference delegates exact spatial predicates to GEOS via GDAL
(`intersects` semantics of bbox/mask filters,
/root/reference/pyogrio/_io.pyx:862-908, exactness note
/root/reference/pyogrio/core.py:207-212). We re-implement the kernels
the engine needs — point-in-polygon (even-odd ray cast), segment-vs-box
intersection, box containment classification — as numpy array ops, so a
grouped pandas-UDF refine stage tests thousands of points per call with
no per-row Python.

Boundary convention: ray-cast uses half-open edges ([ymin, ymax) in y,
strict crossing in x), consistent between engine and in-repo oracle by
construction (both call this module). This DIFFERS from GEOS
``intersects``, which includes boundary points: a point exactly ON a
polygon edge tests False here, True under GEOS. Fixture/oracle
geometry keeps every point >= 5e-6 off any boundary so the two
conventions are interior-equivalent on all checked data; the bbox
filter path (``batch_intersects_box``) and edge-vs-edge crossing
(``segs_intersect_segs``, touch counts) ARE boundary-inclusive like
GEOS. Callers needing GEOS-exact boundary semantics on the PIP path
pass ``include_boundary=True`` (points_in_ring / points_in_polygon /
contains_points): an exact on-segment test (zero cross product inside
the segment bbox) is OR-ed with the ray-cast parity, which matches GEOS
``intersects`` for points lying exactly on edges or vertices.
"""

from __future__ import annotations

import numpy as np

from pyogrio_spark.geometry.wkb import Geom, flat_from_wkb, parse_wkb


def points_on_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Exact on-boundary test: point collinear with an edge (zero cross
    product) AND inside the edge's bbox. Float-exact for points that lie
    exactly on edges/vertices — the cases GEOS ``intersects`` includes
    and the half-open ray cast excludes."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    collinear = (x1 - x0) * (py - y0) - (y1 - y0) * (px - x0) == 0.0
    inbox = (
        (px >= np.minimum(x0, x1)) & (px <= np.maximum(x0, x1))
        & (py >= np.minimum(y0, y1)) & (py <= np.maximum(y0, y1))
    )
    return (collinear & inbox).any(axis=1)


def points_in_ring(
    px: np.ndarray, py: np.ndarray, ring: np.ndarray, include_boundary: bool = False
) -> np.ndarray:
    """Even-odd ray cast of many points against one ring. O(|pts|*|edges|)
    in numpy; rings here are small (fixture zones), points are the batch.
    ``include_boundary=True`` additionally accepts points exactly ON the
    ring (GEOS ``intersects`` semantics)."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    pxc = np.asarray(px, dtype=np.float64)[:, None]
    pyc = np.asarray(py, dtype=np.float64)[:, None]
    cond = (y0 > pyc) != (y1 > pyc)
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = x0 + (pyc - y0) * (x1 - x0) / (y1 - y0)
    cross = cond & (pxc < xi)
    inside = cross.sum(axis=1) % 2 == 1
    if include_boundary:
        inside |= points_on_ring(px, py, ring)
    return inside


def _iter_polygons(g: Geom):
    if g.type == "Polygon":
        yield g.coords
    elif g.type in ("MultiPolygon", "GeometryCollection"):
        for p in g.coords:
            yield from _iter_polygons(p)


def points_in_polygon(px, py, wkb: bytes, include_boundary: bool = False) -> np.ndarray:
    """Vectorized PIP for Polygon/MultiPolygon WKB (even-odd incl. holes).
    ``include_boundary=True`` also accepts points exactly on any ring
    (exterior or hole boundary — both are part of the geometry under
    GEOS ``intersects``)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    inside = np.zeros(px.shape[0], dtype=bool)
    g = parse_wkb(wkb, force_2d=True)
    for rings in _iter_polygons(g):
        crossings = np.zeros(px.shape[0], dtype=np.int64)
        for ring in rings:
            crossings += points_in_ring(px, py, ring).astype(np.int64)
            if include_boundary:
                inside |= points_on_ring(px, py, ring)
        inside |= crossings % 2 == 1
    return inside


def seg_intersects_box(x0, y0, x1, y1, bxmin, bymin, bxmax, bymax) -> np.ndarray:
    """Vectorized: does each segment (x0,y0)-(x1,y1) intersect the box?

    Separating-axis test: segment bbox overlap + box corners not all on
    one side of the segment line.
    """
    x0, y0, x1, y1 = (np.asarray(a, dtype=np.float64) for a in (x0, y0, x1, y1))
    overlap = (
        (np.minimum(x0, x1) <= bxmax)
        & (np.maximum(x0, x1) >= bxmin)
        & (np.minimum(y0, y1) <= bymax)
        & (np.maximum(y0, y1) >= bymin)
    )
    dx, dy = x1 - x0, y1 - y0
    # signed area of each box corner relative to the segment line
    s1 = dx * (bymin - y0) - dy * (bxmin - x0)
    s2 = dx * (bymin - y0) - dy * (bxmax - x0)
    s3 = dx * (bymax - y0) - dy * (bxmin - x0)
    s4 = dx * (bymax - y0) - dy * (bxmax - x0)
    all_pos = (s1 > 0) & (s2 > 0) & (s3 > 0) & (s4 > 0)
    all_neg = (s1 < 0) & (s2 < 0) & (s3 < 0) & (s4 < 0)
    return overlap & ~(all_pos | all_neg)


def segs_intersect_segs(ax0, ay0, ax1, ay1, bx0, by0, bx1, by1) -> bool:
    """Any segment of A intersects any segment of B (vectorized pairwise,
    proper + touching). A: (n,) arrays, B: (m,) arrays."""
    ax0, ay0, ax1, ay1 = (np.asarray(v, dtype=np.float64)[:, None] for v in (ax0, ay0, ax1, ay1))
    bx0, by0, bx1, by1 = (np.asarray(v, dtype=np.float64)[None, :] for v in (bx0, by0, bx1, by1))
    d1 = (ax1 - ax0) * (by0 - ay0) - (ay1 - ay0) * (bx0 - ax0)
    d2 = (ax1 - ax0) * (by1 - ay0) - (ay1 - ay0) * (bx1 - ax0)
    d3 = (bx1 - bx0) * (ay0 - by0) - (by1 - by0) * (ax0 - bx0)
    d4 = (bx1 - bx0) * (ay1 - by0) - (by1 - by0) * (ax1 - bx0)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
    collinear_touch = (d1 == 0) | (d2 == 0) | (d3 == 0) | (d4 == 0)
    bb = (
        (np.minimum(ax0, ax1) <= np.maximum(bx0, bx1))
        & (np.maximum(ax0, ax1) >= np.minimum(bx0, bx1))
        & (np.minimum(ay0, ay1) <= np.maximum(by0, by1))
        & (np.maximum(ay0, ay1) >= np.minimum(by0, by1))
    )
    return bool((proper | (collinear_touch & bb)).any())


def _flatten_batch(geoms):
    """The batch's flat layout (``wkb.flat_from_wkb``) as predicate
    arrays: (vert_xy, vert_row, edge_arr, edge_row, poly_edge_arr,
    poly_edge_row, is_valid) where ``edge_arr``/``poly_edge_arr`` are
    (m, 4) float64 [x0, y0, x1, y1] of consecutive vertices of one ring.
    ``poly_edge_*`` is the subset of edges that belong to polygon rings
    (used for point-in-candidate parity tests); null rows are invalid.
    """
    f = flat_from_wkb(geoms)
    xy, vring, vert_row = f.xy, f.ring_of_vertex(), f.geom_of_vertex()
    same = vring[:-1] == vring[1:]
    edges = np.concatenate([xy[:-1], xy[1:]], axis=1)
    poly = (f.part_type[f.part_of_ring()] % 1000 == 3)[vring[:-1]] & same
    return (xy, vert_row, edges[same], vert_row[:-1][same], edges[poly], vert_row[:-1][poly],
            f.geom_type > 0)


def point_in_flat_rings(tx, ty, e, erow, nrows) -> np.ndarray:
    """Even-odd parity of a test point (one, or one per edge) vs many
    candidates' ring edges (flattened with per-edge row ids) -> bool per
    row. One vectorized pass over all edges of the batch."""
    if len(e) == 0:
        return np.zeros(nrows, dtype=bool)
    x0, y0, x1, y1 = e[:, 0], e[:, 1], e[:, 2], e[:, 3]
    cond = (y0 > ty) != (y1 > ty)
    with np.errstate(divide="ignore", invalid="ignore"):
        xi = x0 + (ty - y0) * (x1 - x0) / (y1 - y0)
    cross = cond & (tx < xi)
    counts = np.bincount(erow[cross], minlength=nrows)
    return counts % 2 == 1


_EDGE_CHUNK_CELLS = 4_000_000  # cap on the (cand_edges x prep_edges) work matrix


def _edges_cross_edges(ce, cerow, pe, nrows) -> np.ndarray:
    """Does any candidate edge intersect any prepared-polygon edge?
    -> bool per row. Chunked (cand x prep) matrix so memory stays
    bounded regardless of batch size."""
    out = np.zeros(nrows, dtype=bool)
    if len(ce) == 0 or len(pe) == 0:
        return out
    bx0, by0, bx1, by1 = (pe[:, j][None, :] for j in range(4))
    step = max(1, _EDGE_CHUNK_CELLS // len(pe))
    for s in range(0, len(ce), step):
        c = ce[s : s + step]
        ax0, ay0, ax1, ay1 = (c[:, j][:, None] for j in range(4))
        d1 = (ax1 - ax0) * (by0 - ay0) - (ay1 - ay0) * (bx0 - ax0)
        d2 = (ax1 - ax0) * (by1 - ay0) - (ay1 - ay0) * (bx1 - ax0)
        d3 = (bx1 - bx0) * (ay0 - by0) - (by1 - by0) * (ax0 - bx0)
        d4 = (bx1 - bx0) * (ay1 - by0) - (by1 - by0) * (ax1 - bx0)
        proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
        touch = (d1 == 0) | (d2 == 0) | (d3 == 0) | (d4 == 0)
        bb = (
            (np.minimum(ax0, ax1) <= np.maximum(bx0, bx1))
            & (np.maximum(ax0, ax1) >= np.minimum(bx0, bx1))
            & (np.minimum(ay0, ay1) <= np.maximum(by0, by1))
            & (np.maximum(ay0, ay1) >= np.minimum(by0, by1))
        )
        hit = (proper | (touch & bb)).any(axis=1)
        rows = cerow[s : s + step][hit]
        if len(rows):
            out[np.unique(rows)] = True
    return out


def batch_intersects(prep: "PreparedPolygon", geoms) -> np.ndarray:
    """Vectorized ``intersects`` of ONE prepared polygon against a batch
    of arbitrary WKB geometries -> bool per row.

    Row-level Python is confined to the WKB parse; all predicate math
    (vertex-in-polygon, containment parity, edge-vs-edge) runs as
    whole-batch numpy ops. Same semantics as
    ``PreparedPolygon.intersects_geom`` row by row:

    A. any candidate vertex inside the prepared polygon (even-odd); or
    B. the prepared polygon sits inside the candidate: one test vertex
       per prepared ring vs the candidate's ring parity — when no
       boundaries cross, every vertex of a ring is in the same face of
       the candidate, so one test point per ring is exact (crossing
       cases are caught by C); or
    C. any candidate edge intersects any prepared-ring edge
       (proper or touching).
    """
    n = len(geoms)
    vert_xy, vert_row, edge_arr, edge_row, poly_edge_arr, poly_edge_row, valid = _flatten_batch(geoms)
    out = np.zeros(n, dtype=bool)
    # A: candidate vertices inside prep (covers Point rows exactly like
    # contains_points does — batch composition can no longer change
    # point semantics)
    if len(vert_xy):
        hits = prep.contains_points(vert_xy[:, 0], vert_xy[:, 1])
        if hits.any():
            out[np.unique(vert_row[hits])] = True
    # B: prep-inside-candidate parity, one test point per prep ring
    if len(poly_edge_arr):
        for ring in prep.rings:
            tx, ty = float(ring[0, 0]), float(ring[0, 1])
            out |= point_in_flat_rings(tx, ty, poly_edge_arr, poly_edge_row, n)
    # C: boundary crossings (only for rows still undecided)
    todo = valid & ~out
    if todo.any() and len(edge_arr):
        keep = todo[edge_row]
        pe = np.concatenate(
            [np.concatenate([r[:-1, :2], r[1:, :2]], axis=1) for r in prep.rings], axis=0
        )
        out |= _edges_cross_edges(edge_arr[keep], edge_row[keep], pe, n)
    return out & valid


def batch_intersects_box(xmin, ymin, xmax, ymax, geoms) -> np.ndarray:
    """Vectorized CLOSED-interval ``intersects`` of one axis-aligned box
    against a batch of WKB geometries -> bool per row.

    Boundary-inclusive like GEOS (the reference's bbox filter keeps
    features touching the box edge, /root/reference/pyogrio/core.py:207-212):
    vertex on the box edge counts, edge touching the box counts. Point
    rows get the same closed-interval test regardless of what else is
    in the batch.
    """
    n = len(geoms)
    vert_xy, vert_row, edge_arr, edge_row, poly_edge_arr, poly_edge_row, valid = _flatten_batch(geoms)
    out = np.zeros(n, dtype=bool)
    if len(vert_xy):
        px, py = vert_xy[:, 0], vert_xy[:, 1]
        hits = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
        if hits.any():
            out[np.unique(vert_row[hits])] = True
    # box corner inside a polygonal candidate (candidate swallows the box)
    if len(poly_edge_arr):
        out |= point_in_flat_rings(float(xmin), float(ymin), poly_edge_arr, poly_edge_row, n)
    # candidate edge crosses the box boundary (closed: touching counts)
    todo = valid & ~out
    if todo.any() and len(edge_arr):
        keep = todo[edge_row]
        e, er = edge_arr[keep], edge_row[keep]
        hits = seg_intersects_box(e[:, 0], e[:, 1], e[:, 2], e[:, 3], xmin, ymin, xmax, ymax)
        if hits.any():
            out[np.unique(er[hits])] = True
    return out & valid


class PreparedPolygon:
    """Pre-parsed polygon for repeated point tests and box classification
    (the Spark-side analogue of a prepared GEOS geometry behind
    shapely.STRtree refine)."""

    __slots__ = ("rings", "bbox", "wkb")

    def __init__(self, wkb: bytes):
        self.wkb = wkb
        g = parse_wkb(wkb, force_2d=True)
        self.rings: list[np.ndarray] = []
        for rings in _iter_polygons(g):
            self.rings.extend(rings)
        if not self.rings:
            raise ValueError(f"not a polygonal geometry: {g.type}")
        allpts = np.vstack(self.rings)
        self.bbox = (
            float(allpts[:, 0].min()),
            float(allpts[:, 1].min()),
            float(allpts[:, 0].max()),
            float(allpts[:, 1].max()),
        )

    def contains_points(self, px, py, include_boundary: bool = False) -> np.ndarray:
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        xmin, ymin, xmax, ymax = self.bbox
        pre = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
        out = np.zeros(px.shape[0], dtype=bool)
        if pre.any():
            idx = np.nonzero(pre)[0]
            crossings = np.zeros(idx.shape[0], dtype=np.int64)
            on = np.zeros(idx.shape[0], dtype=bool)
            for ring in self.rings:
                crossings += points_in_ring(px[idx], py[idx], ring).astype(np.int64)
                if include_boundary:
                    on |= points_on_ring(px[idx], py[idx], ring)
            out[idx] = (crossings % 2 == 1) | on
        return out

    def classify_box(self, bxmin, bymin, bxmax, bymax) -> str:
        """'full' (box entirely inside), 'partial' (intersects boundary),
        or 'none'. 'full' boxes skip the exact PIP refine at join time —
        the interior-cell shortcut that makes a 100-TB PIP join cheap."""
        xmin, ymin, xmax, ymax = self.bbox
        if bxmin > xmax or bxmax < xmin or bymin > ymax or bymax < ymin:
            return "none"
        edge_hit = False
        for ring in self.rings:
            hits = seg_intersects_box(
                ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1], bxmin, bymin, bxmax, bymax
            )
            if hits.any():
                edge_hit = True
                break
        corners_in = self.contains_points(
            np.array([bxmin, bxmax, bxmin, bxmax]), np.array([bymin, bymin, bymax, bymax])
        )
        if not edge_hit and corners_in.all():
            return "full"
        if edge_hit or corners_in.any():
            return "partial"
        # box may fully contain the polygon
        if bxmin <= xmin and bxmax >= xmax and bymin <= ymin and bymax >= ymax:
            return "partial"
        return "none"

    def intersects_geom(self, wkb: bytes) -> bool:
        """Exact ``intersects`` against an arbitrary geometry — the refine
        step behind pyogrio's mask filter semantics
        (/root/reference/pyogrio/_io.pyx:887-908: OGR_L_SetSpatialFilter
        keeps features whose geometry *intersects* the mask)."""
        g = parse_wkb(wkb, force_2d=True)
        return self._intersects(g)

    def _ring_edges(self):
        for ring in self.rings:
            yield ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]

    def _intersects(self, g: Geom) -> bool:
        if g.type == "Point":
            return bool(self.contains_points(g.coords[:1], g.coords[1:2])[0])
        if g.type in ("MultiPoint", "MultiLineString", "MultiPolygon", "GeometryCollection"):
            return any(self._intersects(p) for p in g.coords)
        if g.type == "LineString":
            pts = g.coords
            if self.contains_points(pts[:, 0], pts[:, 1]).any():
                return True
            return any(
                segs_intersect_segs(pts[:-1, 0], pts[:-1, 1], pts[1:, 0], pts[1:, 1], ex0, ey0, ex1, ey1)
                for ex0, ey0, ex1, ey1 in self._ring_edges()
            )
        if g.type == "Polygon":
            ext = g.coords[0]
            if self.contains_points(ext[:, 0], ext[:, 1]).any():
                return True
            for ring in self.rings:
                # any of our vertices inside the other polygon
                crossings = np.zeros(ring.shape[0] - 1, dtype=np.int64)
                for other_ring in g.coords:
                    crossings += points_in_ring(ring[:-1, 0], ring[:-1, 1], other_ring).astype(np.int64)
                if (crossings % 2 == 1).any():
                    return True
            for other_ring in g.coords:
                for ex0, ey0, ex1, ey1 in self._ring_edges():
                    if segs_intersect_segs(
                        other_ring[:-1, 0], other_ring[:-1, 1], other_ring[1:, 0], other_ring[1:, 1],
                        ex0, ey0, ex1, ey1,
                    ):
                        return True
            return False
        return False
