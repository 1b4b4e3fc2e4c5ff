"""Zone set -> covering cell set (polyfill) with full/partial flags and
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

``cover_table`` classifies a whole zone set at once (Raptor's batched
"intersection file"): every test is an array op over (cell, edge of its
zone) pairs, and the result is an Arrow table, so the cover reaches
Spark with no Python loop per zone or cell and no Python row objects.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

from pyogrio_spark.geometry.predicates import PreparedPolygon, point_in_flat_rings, seg_intersects_box
from pyogrio_spark.index.grid import cell_bounds, cover_bboxes

EDGES_TYPE = "array<struct<x0:double,y0:double,x1:double,y1:double>>"
# the cover columns contains_expr reads
REFINE_COLUMNS = ["full_cover", "zxmin", "zymin", "zxmax", "zymax", "edges"]

# Clip bounds are padded by this fraction of the cell size, so a point
# whose cell_id rounds onto a neighbouring cell's edge still sees every
# edge it could cross.
_CLIP_PAD = 1e-6
_MAX_PAIRS = 1 << 18


def _is_rect(prep: PreparedPolygon) -> bool:
    """A single-ring 5-point polygon whose vertices are its bbox corners:
    its exact refine is an interval predicate on the zone bbox."""
    if len(prep.rings) != 1 or prep.rings[0].shape[0] != 5:
        return False
    xmin, ymin, xmax, ymax = prep.bbox
    corners = {(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax)}
    return set(map(tuple, prep.rings[0][:4].tolist())) == corners


def _classify(box, zbox, edges, per_cell, first_edge):
    """One ``cover_table`` pass over candidate cells (bounds ``box`` and
    zone bbox ``zbox``, both (4, n)) and the ``per_cell`` edges of each
    cell's zone from row ``first_edge`` of ``edges`` -> (full, partial,
    clipped-edge count per cell, the clipped edges in cell order)."""
    bx0, by0, bx1, by1 = box
    zx0, zy0, zx1, zy1 = zbox
    n = bx0.size
    pad_x, pad_y = (bx1 - bx0) * _CLIP_PAD, (by1 - by0) * _CLIP_PAD
    # (cell, edge of its zone) pairs, cell-major, each cell's edges in
    # order; an edge off the cell's padded y-band cannot touch the cell,
    # cross a corner's ray or be clipped to it, so its pair is dropped
    pc = np.repeat(np.arange(n), per_cell)
    pe = np.arange(pc.size) - np.repeat(np.cumsum(per_cell) - per_cell - first_edge, per_cell)
    ey0, ey1 = edges[pe, 1], edges[pe, 3]
    band = (np.minimum(ey0, ey1) <= (by1 + pad_y)[pc]) & (np.maximum(ey0, ey1) >= (by0 - pad_y)[pc])
    pc, e = pc[band], edges[pe[band]]
    ex0, ey0, ex1, ey1 = e.T
    hit = seg_intersects_box(ex0, ey0, ex1, ey1, bx0[pc], by0[pc], bx1[pc], by1[pc])
    edge_hit = np.bincount(pc[hit], minlength=n) > 0
    # the box test is closed, so a cell no edge touches lies wholly on
    # one side of the boundary: one corner's ray cast decides it, and a
    # cell that swallows its zone's bbox is touched by the zone's edges
    q = ~edge_hit[pc]
    inside = (bx0 >= zx0) & (bx0 <= zx1) & (by0 >= zy0) & (by0 <= zy1) & point_in_flat_rings(
        bx0[pc[q]], by0[pc[q]], e[q], pc[q], n
    )
    full, partial = inside & ~edge_hit, edge_hit
    clip = partial[pc] & (np.maximum(ex0, ex1) >= (bx0 - pad_x)[pc])
    return full, partial, np.bincount(pc[clip], minlength=n), e[clip]


def cover_table(keys, wkbs, res: int, zone_key: str = "fid", geom_col: str = "geometry_wkb") -> pa.Table:
    """Cover a zone set: one row per (zone, covering cell) with columns
    (cell_id, zone_key, full_cover, geom_col, is_rect, zxmin, zymin,
    zxmax, zymax, edges), zones in input order, each zone's cells x-major.
    ``keys``/``wkbs`` are the zone key and polygon columns (Arrow arrays
    or anything ``pa.array`` takes); a null polygon raises ValueError.

    A cell is partial when an edge touches it (``seg_intersects_box``,
    closed); otherwise it is full when a corner is inside the zone
    (``PreparedPolygon.contains_points``) and dropped when not. A
    partial cell keeps the edges whose y-range meets its y-band and whose
    max x reaches its xmin (both padded by ``_CLIP_PAD``): no other edge
    can cross a +x ray from the cell or hold a point of it."""
    keys, wkbs = pa.array(keys), pa.array(wkbs, pa.binary())
    preps, zone_edges = [], []
    for key, wkb in zip(keys.to_pylist(), wkbs.to_pylist()):
        if wkb is None:
            raise ValueError(f"zone {zone_key}={key!r} has a null {geom_col}")
        preps.append(PreparedPolygon(wkb))
        zone_edges.append(np.concatenate([np.concatenate([r[:-1], r[1:]], axis=1) for r in preps[-1].rings]))
    # one (x0, y0, x1, y1) edge table, grouped by zone in ring order
    edges = np.concatenate(zone_edges) if zone_edges else np.empty((0, 4))
    n_edges = np.array([len(z) for z in zone_edges], dtype=np.int64)
    first_edge = np.cumsum(n_edges) - n_edges

    zbox = np.array([p.bbox for p in preps], dtype=np.float64).reshape(-1, 4)
    zone, cells = cover_bboxes(*zbox.T, res)
    box, zb, per_cell = np.stack(cell_bounds(cells, res)), zbox[zone].T, n_edges[zone]
    # passes over runs of whole zones, each of about _MAX_PAIRS (cell,
    # edge) pairs or one bigger zone, bound the memory
    zone_pass = np.cumsum(np.bincount(zone, minlength=len(preps)) * n_edges) // _MAX_PAIRS
    cuts = [0, *(np.flatnonzero(np.diff(zone_pass[zone])) + 1), cells.size]
    passes = [
        _classify(box[:, a:b], zb[:, a:b], edges, per_cell[a:b], first_edge[zone[a:b]])
        for a, b in zip(cuts[:-1], cuts[1:])
    ]
    full, partial, n_clip, clipped = (np.concatenate(part) for part in zip(*passes))
    keep = np.flatnonzero(full | partial)
    offsets = np.concatenate([[0], np.cumsum(n_clip[keep])])
    kept_edges = pa.StructArray.from_arrays(list(clipped.T), names=["x0", "y0", "x1", "y1"])
    kz = zone[keep]
    return pa.table({
        "cell_id": cells[keep],
        zone_key: keys.take(kz),
        "full_cover": full[keep],
        geom_col: wkbs.take(kz),
        "is_rect": np.array([_is_rect(p) for p in preps], dtype=bool)[kz],
        "zxmin": zb[0, keep],
        "zymin": zb[1, keep],
        "zxmax": zb[2, keep],
        "zymax": zb[3, keep],
        "edges": pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), kept_edges),
    })


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
