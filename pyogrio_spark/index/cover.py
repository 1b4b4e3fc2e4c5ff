"""Polygon -> covering cell set (polyfill) with full/partial flags and
per-cell clipped edges, plus the JVM-side refine predicate over them.

The analogue of H3 polyfill, but each cell carries ``full_cover``:
points in a fully-covered cell need no exact PIP refine at join time.
At scale this turns most of a PIP join into a pure integer equi-join
(interior cells dominate for large polygons).

Each boundary cell also carries the polygon edges that an even-odd ray
cast to +x from any point in the cell can cross or lie on (Raptor-style:
the cover entry stores the geometry it needs). The exact refine is then
``contains_expr``, one Spark SQL higher-order-function predicate over
those edges — the same arithmetic as ``PreparedPolygon.contains_points``
in the same order, so it is bit-identical to the numpy kernel and runs
with no Python stage.

Classification is vectorized across the whole candidate cell grid:
one segment-vs-box test over (edges x cells) and one batched PIP over
all cell corners — no per-cell Python loop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from pyogrio_spark.geometry.predicates import PreparedPolygon
from pyogrio_spark.index.grid import cell_bounds, cover_bbox

EDGES_TYPE = "array<struct<x0:double,y0:double,x1:double,y1:double>>"
# the cover columns contains_expr reads
REFINE_COLUMNS = ["full_cover", "zxmin", "zymin", "zxmax", "zymax", "edges"]

# Clip bounds are padded by this fraction of the cell size, so a point
# whose cell_id rounds onto a neighbouring cell's edge still sees every
# edge it could cross.
_CLIP_PAD = 1e-6


def _edges_hit_boxes(rings: list[np.ndarray], bx0, by0, bx1, by1) -> np.ndarray:
    """bool[n_cells]: any ring edge intersects each box (separating-axis
    test vectorized over edges x cells)."""
    hit = np.zeros(bx0.shape[0], dtype=bool)
    for ring in rings:
        x0, y0 = ring[:-1, 0][:, None], ring[:-1, 1][:, None]
        x1, y1 = ring[1:, 0][:, None], ring[1:, 1][:, None]
        BX0, BY0, BX1, BY1 = bx0[None, :], by0[None, :], bx1[None, :], by1[None, :]
        overlap = (
            (np.minimum(x0, x1) <= BX1)
            & (np.maximum(x0, x1) >= BX0)
            & (np.minimum(y0, y1) <= BY1)
            & (np.maximum(y0, y1) >= BY0)
        )
        dx, dy = x1 - x0, y1 - y0
        s1 = dx * (BY0 - y0) - dy * (BX0 - x0)
        s2 = dx * (BY0 - y0) - dy * (BX1 - x0)
        s3 = dx * (BY1 - y0) - dy * (BX0 - x0)
        s4 = dx * (BY1 - y0) - dy * (BX1 - x0)
        all_pos = (s1 > 0) & (s2 > 0) & (s3 > 0) & (s4 > 0)
        all_neg = (s1 < 0) & (s2 < 0) & (s3 < 0) & (s4 < 0)
        hit |= (overlap & ~(all_pos | all_neg)).any(axis=0)
    return hit


def _clip_edges(rings: list[np.ndarray], bx0, by0, bx1, by1) -> list[np.ndarray]:
    """Per box, the (k, 4) [x0, y0, x1, y1] edges whose y-range overlaps
    the box's padded y-band and whose max x reaches its padded xmin.

    A +x ray from (px, py) crosses an edge only if py lies in the edge's
    y-range and px < the crossing x <= the edge's max x; a point on an
    edge lies in the edge's bbox. So for points in the box these are the
    only edges that can change the ray-cast parity or the on-edge test.
    """
    e = np.concatenate([np.concatenate([r[:-1, :2], r[1:, :2]], axis=1) for r in rings])
    pad_x, pad_y = (bx1 - bx0) * _CLIP_PAD, (by1 - by0) * _CLIP_PAD
    keep = (
        (np.minimum(e[:, 1], e[:, 3])[:, None] <= (by1 + pad_y)[None, :])
        & (np.maximum(e[:, 1], e[:, 3])[:, None] >= (by0 - pad_y)[None, :])
        & (np.maximum(e[:, 0], e[:, 2])[:, None] >= (bx0 - pad_x)[None, :])
    )
    return [e[keep[:, j]] for j in range(keep.shape[1])]


def _cover(prep: PreparedPolygon, res: int) -> tuple[np.ndarray, np.ndarray]:
    cand = cover_bbox(*prep.bbox, res)
    if cand.size == 0:
        return cand, np.zeros(0, dtype=bool)
    bx0, by0, bx1, by1 = cell_bounds(cand, res)

    edge_hit = _edges_hit_boxes(prep.rings, bx0, by0, bx1, by1)

    # all 4 corners of each box, one batched PIP call
    cx = np.concatenate([bx0, bx1, bx0, bx1])
    cy = np.concatenate([by0, by0, by1, by1])
    inside = prep.contains_points(cx, cy).reshape(4, cand.size)
    corners_in_all = inside.all(axis=0)
    corners_in_any = inside.any(axis=0)

    full = corners_in_all & ~edge_hit
    # partial: boundary passes through, or a corner is inside, or the box
    # swallows the polygon entirely (then every candidate box overlaps bbox)
    xmin, ymin, xmax, ymax = prep.bbox
    contains_poly = (bx0 <= xmin) & (bx1 >= xmax) & (by0 <= ymin) & (by1 >= ymax)
    partial = (edge_hit | corners_in_any | contains_poly) & ~full
    keep = full | partial
    return cand[keep], full[keep]


def cover_polygon(wkb: bytes, res: int) -> tuple[np.ndarray, np.ndarray]:
    """-> (cells int64[n], full_cover bool[n]) for cells intersecting the
    polygon. Cells whose box misses the polygon entirely are dropped."""
    return _cover(PreparedPolygon(wkb), res)


def cover_polygon_edges(wkb: bytes, res: int) -> tuple[np.ndarray, np.ndarray, list[list[tuple]]]:
    """``cover_polygon`` plus each cell's clipped edges as a list of
    (x0, y0, x1, y1) tuples, the ``EDGES_TYPE`` column value; empty for
    full-cover cells, which need no refine."""
    prep = PreparedPolygon(wkb)
    cells, full = _cover(prep, res)
    clipped = iter(_clip_edges(prep.rings, *cell_bounds(cells[~full], res)))
    return cells, full, [[] if f else list(map(tuple, next(clipped).tolist())) for f in full.tolist()]


def contains_expr(x: str, y: str, include_boundary: bool = False) -> Column:
    """Exact point-in-zone test of point columns ``x``/``y`` against a
    joined cover row (``REFINE_COLUMNS``). Full-cover rows pass with no
    geometry test; boundary rows take the
    ``PreparedPolygon.contains_points`` formula as a Spark SQL
    higher-order function over the cell's clipped ``edges``: inclusive
    zone-bbox prefilter, then even-odd parity of the +x ray's crossings
    (half-open edges), OR'd with the exact on-edge test when
    ``include_boundary``.

    Built as one SQL expression string, not from Column operators: those
    cost a few Python -> JVM round trips each (about 550 for this
    predicate) on every call, and each Column left behind is released
    later by one more round trip from py4j's finalizer, in the middle of
    whatever the driver runs next."""
    px, py = f"`{x}`", f"`{y}`"
    # the division only runs for edges spanning py, so never by zero
    # (ANSI mode raises on a zero divisor, even for doubles)
    inside = (
        f"size(filter(edges, _e -> CASE WHEN (_e.y0 > {py}) != (_e.y1 > {py}) "
        f"THEN {px} < _e.x0 + ({py} - _e.y0) * (_e.x1 - _e.x0) / (_e.y1 - _e.y0) "
        "ELSE false END)) % 2 = 1"
    )
    if include_boundary:
        inside += (
            f" OR exists(edges, _e -> (_e.x1 - _e.x0) * ({py} - _e.y0) - (_e.y1 - _e.y0) * ({px} - _e.x0) = 0D"
            f" AND {px} >= least(_e.x0, _e.x1) AND {px} <= greatest(_e.x0, _e.x1)"
            f" AND {py} >= least(_e.y0, _e.y1) AND {py} <= greatest(_e.y0, _e.y1))"
        )
    bbox = f"{px} >= zxmin AND {px} <= zxmax AND {py} >= zymin AND {py} <= zymax"
    return F.expr(f"full_cover OR ({bbox} AND ({inside}))")
