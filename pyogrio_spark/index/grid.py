"""Hierarchical grid cell index (H3/S2 stand-in, self-contained).

pyogrio exposes per-feature envelopes explicitly "to assist with
spatial indexing and partitioning" (/root/reference/pyogrio/core.py:184-187)
and relies on driver R-trees for spatial filters
(/root/reference/pyogrio/_io.pyx:862-908, OLCFastSpatialFilter).
On Spark the equivalent is a *persisted integer cell column*: spatial
predicates become plain integer equality/range predicates that Catalyst
can push into the Parquet scan and that joins can hash-partition on.

The grid is an equal-angle quadtree over lon/lat:

    res r:  2^r columns over lon [-180, 180), 2^r rows over lat [-90, 90)
    x = floor((lon + 180) / 360 * 2^r)   clamped to [0, 2^r - 1]
    y = floor((lat + 90) / 180 * 2^r)    clamped likewise
    cell_id = r * 2^58 + x * 2^r + y     (single int64; r <= 28)

Everything is plain integer arithmetic, so cell assignment of a billion
points runs JVM-side inside whole-stage codegen (see ``cell_expr_sql``),
with no Python in the hot path; the same formula is reproducible in any
ANSI-SQL oracle. numpy versions below serve UDF-free oracle/refine code.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 28
_RES_SHIFT = 58  # cell_id top bits carry the resolution

LON0, LAT0 = -180.0, -90.0
SPAN_LON, SPAN_LAT = 360.0, 180.0


def _n(res: int) -> int:
    return 1 << res


def cell_of(lon, lat, res: int):
    """Vectorized (lon, lat) -> cell_id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}], got {res}")
    n = _n(res)
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = np.clip(np.floor((lon - LON0) / SPAN_LON * n), 0, n - 1).astype(np.int64)
    y = np.clip(np.floor((lat - LAT0) / SPAN_LAT * n), 0, n - 1).astype(np.int64)
    return xy_to_cell(x, y, res)


def xy_to_cell(x, y, res: int):
    return (np.int64(res) << _RES_SHIFT) + (np.asarray(x, dtype=np.int64) << res) + np.asarray(y, dtype=np.int64)


def cell_res(cell):
    return (np.asarray(cell, dtype=np.int64) >> _RES_SHIFT).astype(np.int64)


def cell_to_xy(cell, res: int | None = None):
    cell = np.asarray(cell, dtype=np.int64)
    if res is None:
        r = cell_res(cell)
        res = int(r if np.ndim(r) == 0 else r.flat[0])
    base = cell - (np.int64(res) << _RES_SHIFT)
    return base >> res, base & np.int64(_n(res) - 1)


def cell_width_deg(res: int) -> tuple[float, float]:
    """(lon_width, lat_height) of one cell in degrees."""
    n = _n(res)
    return SPAN_LON / n, SPAN_LAT / n


def cell_bounds(cell, res: int | None = None):
    """cell_id -> (xmin, ymin, xmax, ymax) arrays."""
    cell = np.asarray(cell, dtype=np.int64)
    if res is None:
        res = int(cell_res(cell).flat[0]) if cell.ndim else int(cell_res(cell))
    x, y = cell_to_xy(cell, res)
    w, h = cell_width_deg(res)
    xmin = LON0 + x * w
    ymin = LAT0 + y * h
    return xmin, ymin, xmin + w, ymin + h


def parent(cell, res: int | None = None):
    cell = np.asarray(cell, dtype=np.int64)
    if res is None:
        res = int(cell_res(cell).flat[0]) if cell.ndim else int(cell_res(cell))
    x, y = cell_to_xy(cell, res)
    return xy_to_cell(x >> 1, y >> 1, res - 1)


def children(cell, res: int | None = None):
    """cell -> (4,) or (n, 4) child cells at res+1."""
    cell = np.asarray(cell, dtype=np.int64)
    if res is None:
        res = int(cell_res(cell).flat[0]) if cell.ndim else int(cell_res(cell))
    x, y = cell_to_xy(cell, res)
    x2, y2 = np.asarray(x) * 2, np.asarray(y) * 2
    quads = [(0, 0), (0, 1), (1, 0), (1, 1)]
    out = np.stack([xy_to_cell(x2 + dx, y2 + dy, res + 1) for dx, dy in quads], axis=-1)
    return out


def disk(cell: int, k: int, res: int | None = None) -> np.ndarray:
    """All cells within Chebyshev distance <= k (the k-disk).

    Longitude wraps around the antimeridian; latitude clamps at the
    poles. Used by kNN ring expansion (ring k = disk(k) - disk(k-1)).
    """
    if res is None:
        res = int(cell_res(np.int64(cell)))
    n = _n(res)
    x, y = cell_to_xy(np.int64(cell), res)
    x, y = int(x), int(y)
    dxs = np.arange(-k, k + 1, dtype=np.int64)
    dys = np.arange(-k, k + 1, dtype=np.int64)
    xs = (x + dxs) % n  # lon wrap
    ys = y + dys
    ys = ys[(ys >= 0) & (ys < n)]  # lat clamp
    gx, gy = np.meshgrid(xs, ys, indexing="ij")
    return np.unique(xy_to_cell(gx.ravel(), gy.ravel(), res))


def cover_bboxes(xmin, ymin, xmax, ymax, res: int) -> tuple[np.ndarray, np.ndarray]:
    """``cover_bbox`` of many boxes in one vectorized pass -> (box index,
    cell_id) int64 arrays: boxes in input order, each box's cells x-major."""
    x0, y0 = cell_to_xy(cell_of(xmin, ymin, res), res)
    x1, y1 = cell_to_xy(cell_of(xmax, ymax, res), res)
    ny = np.maximum(y1 - y0 + 1, 0)
    count = np.maximum(x1 - x0 + 1, 0) * ny
    box = np.repeat(np.arange(count.size), count)
    k = np.arange(box.size) - np.repeat(np.cumsum(count) - count, count)
    return box, xy_to_cell(x0[box] + k // ny[box], y0[box] + k % ny[box], res)


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float, res: int) -> np.ndarray:
    """All cells whose box intersects the given bbox (inclusive edges)."""
    return cover_bboxes([xmin], [ymin], [xmax], [ymax], res)[1]


def parent_expr_sql(cell_sql: str, res: int) -> str:
    """SQL fragment computing the res-1 parent of a res-``res`` cell id
    — pure integer arithmetic (codegen + oracle-reproducible), the
    expression form of :func:`parent`."""
    if res < 1:
        raise ValueError("res must be >= 1 to take a parent")
    n = _n(res)
    base = f"({cell_sql} - cast({res} as bigint) * {1 << _RES_SHIFT})"
    x = f"({base} div {n})"
    y = f"({base} % {n})"
    return (
        f"(cast({res - 1} as bigint) * {1 << _RES_SHIFT}"
        f" + ({x} div 2) * {n >> 1} + ({y} div 2))"
    )


def cell_xy_expr_sql(lon_sql: str, lat_sql: str, res: int) -> tuple[str, str]:
    """SQL fragments computing the grid column x and row y (``cell_of``'s
    floor-and-clamp) from lon/lat expressions."""
    n = _n(res)
    x = f"least(greatest(cast(floor(({lon_sql} - ({LON0})) / {SPAN_LON} * {n}) as bigint), 0), {n - 1})"
    y = f"least(greatest(cast(floor(({lat_sql} - ({LAT0})) / {SPAN_LAT} * {n}) as bigint), 0), {n - 1})"
    return x, y


def xy_cell_expr_sql(x_sql: str, y_sql: str, res: int) -> str:
    """SQL fragment computing cell_id from grid column/row expressions
    (the expression form of :func:`xy_to_cell`)."""
    return f"(cast({res} as bigint) * {1 << _RES_SHIFT} + {x_sql} * {_n(res)} + {y_sql})"


def cell_expr_sql(lon_sql: str, lat_sql: str, res: int) -> str:
    """SQL fragment computing cell_id from lon/lat expressions.

    Pure arithmetic -> runs in whole-stage codegen on Spark and is
    byte-for-byte reproducible in DuckDB/ANSI oracles.
    """
    return xy_cell_expr_sql(*cell_xy_expr_sql(lon_sql, lat_sql, res), res)
