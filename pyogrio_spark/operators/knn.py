"""kNN and bounded-distance joins as one planned cell-window join.

pyogrio exposes per-feature envelopes to assist spatial indexing and
leaves neighbour search to single-node shapely ``STRtree.query_nearest``.
The cluster plan replaces the tree walk with grid geometry: each probe
explodes to a window of grid cells around its own cell, the window
equi-joins the docs on ``cell_id``, and an exact distance predicate cuts
the candidates. Everything but the final rank is integer arithmetic in
the JVM; no Python stage and no cross join.

``within_distance_join`` knows its radius up front, so every probe gets
the same window. ``knn_join`` plans one window per probe cell on the
driver from a per-cell doc count histogram (one aggregate over the docs,
as in SpatialHadoop's count-pruned global index and "Every Row Counts",
CIDR 2019): the smallest clamped ring of cells around the probe cell
that holds ``min(k, n_docs)`` docs bounds the k-th neighbour distance by
``D``, and ``D`` sets how many rows and columns the window spans so that
it holds every doc within ``D``. One join, one ``dist <= D`` cut and one
``row_number`` rank then give the exact k nearest.

Window rows clamp at the poles. Window columns wrap modularly across the
antimeridian: required for the haversine metric, a harmless superset for
planar degrees, which do not wrap. The column half-width is capped at
n//2 so that no column appears twice in one window.

Coordinates are assumed inside the grid's lon [-180, 180] and
lat [-90, 90] range; the distance bounds hold for points in their cell.
"""

from __future__ import annotations

import math
import time

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyogrio_spark.index.grid import LAT0, cell_res, cell_to_xy, cell_width_deg, cell_xy_expr_sql, xy_cell_expr_sql

DEFAULT_RES = 7

EARTH_RADIUS_KM = 6371.0088

# the exploded probe window is broadcast to the docs scan up to this many
# rows (the planner knows the exact count); above it Spark plans the join
BROADCAST_WINDOW_ROWS = 4_000_000

# one record per knn_join call with the keys of the former per-round
# trace (one round, no carry); wall_s is the driver's planning time
LAST_RUN_TRACE: list[dict] = []


def knn_join(
    probes: DataFrame,
    docs: DataFrame,
    k: int,
    res: int = DEFAULT_RES,
    probe_key: str = "probe_id",
    doc_key: str = "doc_id",
    probe_lon: str = "lon",
    probe_lat: str = "lat",
    doc_lon: str = "xmin",
    doc_lat: str = "ymin",
    metric: str = "planar",
) -> DataFrame:
    """-> (probe_key, doc_key, dist, rank) with exactly k rows per probe
    (all docs, ranked 1..n_docs, iff the docs table has < k rows).
    Deterministic tie-break on (dist, doc_key).

    ``metric``: 'planar' (Euclidean degrees, matches the in-repo oracle)
    or 'haversine' (great-circle km). ``docs.cell_id`` must be built at
    ``res``; a mismatch raises ValueError.

    Collects two small aggregates (docs per cell, probes per cell) to
    plan each probe cell's window and distance cut on the driver (see
    ``plan_windows``); the returned frame is then one window join and
    one rank."""
    if metric not in ("planar", "haversine"):
        raise ValueError(f"metric must be planar|haversine, got {metric!r}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    t0 = time.perf_counter()
    n = 1 << res
    pts = _probe_cells(probes, probe_key, probe_lon, probe_lat, res)
    # a doc without coordinates never passes the distance cut; counted in
    # the histogram, it would make D too small
    docs_pts = _doc_points(docs, doc_key, doc_lon, doc_lat).dropna(subset=["_dlon", "_dlat", "_dcell"])
    hist = docs_pts.groupBy("_dcell").count().toPandas()
    cells = pts.groupBy("_px", "_py").count().toPandas()
    no_xy = cells["_px"].isna() | cells["_py"].isna()
    if no_xy.any():
        n_bad = int(cells["count"][no_xy].sum())
        raise ValueError(f"knn_join: {n_bad} probe(s) have a null {probe_lon!r} or {probe_lat!r}")
    px, py, n_probes = (np.asarray(cells[c], dtype=np.int64) for c in ("_px", "_py", "count"))
    kx, ky, dist_cut = plan_windows(hist["_dcell"], hist["count"], px, py, k, res, metric)

    plan = probes.sparkSession.createDataFrame(
        pd.DataFrame({"_px": px, "_py": py, "_kx": kx, "_ky": ky, "_D": dist_cut}),
        schema="_px long, _py long, _kx long, _ky long, _D double",
    )
    win = _window_cells(pts.join(F.broadcast(plan), ["_px", "_py"]), "_kx", "_ky", n, res)
    win = win.select(probe_key, "_plon", "_plat", "_cell", "_D")
    n_cols = kx + np.minimum(kx, n - 1 - kx) + 1
    n_rows = np.minimum(py + ky, n - 1) - np.maximum(py - ky, 0) + 1
    # Catalyst cannot estimate the exploded side, and left alone it picks a
    # sort-merge join that exchanges and sorts the whole corpus
    if int((n_probes * n_cols * n_rows).sum()) <= BROADCAST_WINDOW_ROWS:
        win = F.broadcast(win)
    cand = (
        win.join(docs_pts, win["_cell"] == docs_pts["_dcell"])
        .withColumn("dist", _distance(metric))
        .filter(F.col("dist") <= F.col("_D"))
    )
    w = Window.partitionBy(probe_key).orderBy(F.col("dist").asc(), F.col(doc_key).asc())
    out = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(probe_key, doc_key, "dist", "rank")
    )
    LAST_RUN_TRACE.clear()
    LAST_RUN_TRACE.append({
        "round": 0,
        "r": int(np.maximum(kx, ky).max(initial=0)),
        "ring_only": False,
        "carried_rows": 0,
        "pending_after": 0,
        "wall_s": round(time.perf_counter() - t0, 3),
    })
    return out


def plan_windows(doc_cells, doc_counts, probe_x, probe_y, k: int, res: int, metric: str = "planar"):
    """Plan the kNN window of each probe cell (probe_x[i], probe_y[i]).

    ``doc_cells``/``doc_counts`` is the docs-per-cell histogram at ``res``.
    Returns int64 arrays (kx, ky) and a float64 array D: for any probe
    point in the cell, its min(k, n_docs)-th nearest doc is at most D
    away (degrees for planar, km for haversine), and every doc within D
    lies in the window of columns px-kx..px+kx (modulo n, kx <= n//2) and
    rows py-ky..py+ky (ky <= n-1, clamped to the grid by the caller)."""
    doc_cells = np.asarray(doc_cells, dtype=np.int64)
    mismatch = cell_res(doc_cells) != res
    if mismatch.any():
        doc_res = int(cell_res(doc_cells[mismatch][0]))
        raise ValueError(
            f"docs.cell_id was built at res={doc_res} but knn_join was called with res={res}; "
            "re-index the docs table or pass the matching res"
        )
    n = 1 << res
    cell_w, cell_h = cell_width_deg(res)
    # summed-area table: sat[i, j] = docs in cells x < i, y < j
    sat = np.zeros((n + 1, n + 1), dtype=np.int64)
    x, y = cell_to_xy(doc_cells, res)
    np.add.at(sat, (x + 1, y + 1), np.asarray(doc_counts, dtype=np.int64))
    sat = sat.cumsum(0).cumsum(1)
    need = min(k, int(sat[-1, -1]))
    px = np.asarray(probe_x, dtype=np.int64)
    py = np.asarray(probe_y, dtype=np.int64)

    def ring_count(r):
        x0, x1 = np.maximum(px - r, 0), np.minimum(px + r, n - 1) + 1
        y0, y1 = np.maximum(py - r, 0), np.minimum(py + r, n - 1) + 1
        return sat[x1, y1] - sat[x0, y1] - sat[x1, y0] + sat[x0, y0]

    # smallest clamped ring r0 holding `need` docs (ring n-1 holds all),
    # binary-searched for every probe cell at once
    lo, hi = np.zeros_like(px), np.full_like(px, n - 1)
    while (lo < hi).any():
        mid = (lo + hi) // 2
        ok = ring_count(mid) >= need
        lo, hi = np.where(ok, lo, mid + 1), np.where(ok, mid, hi)
    # a probe and a doc of ring r0 lie less than r0+1 cells apart per axis;
    # pad D by a relative 1e-9 so float rounding can only loosen the cut
    reach = lo + 1
    if metric == "planar":
        dist_cut = reach * math.hypot(cell_w, cell_h) * (1 + 1e-9)
        kx = np.floor(dist_cut / cell_w) + 1
        ky = np.floor(dist_cut / cell_h) + 1
    else:
        # haversine without the cos factors is an upper bound
        dphi = np.radians(np.minimum(reach * cell_h, 180.0))
        dlmb = np.radians(np.minimum(reach * cell_w, 180.0))
        hav = np.sin(dphi / 2) ** 2 + np.sin(dlmb / 2) ** 2
        dist_cut = 2 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.minimum(hav, 1.0))) * (1 + 1e-9)
        ang = dist_cut / EARTH_RADIUS_KM
        ky = np.floor(np.degrees(ang) / cell_h) + 1
        # cross-track bound: a point at latitude phi is at least
        # R*asin(cos(phi)*sin(lam)) from any point lam >= 0 degrees of
        # wrapped longitude away (lam <= 90; constant beyond). Take phi at
        # the cell's most poleward edge; where no lam reaches D, search
        # every column.
        pole = np.maximum(np.abs(LAT0 + py * cell_h), np.abs(LAT0 + (py + 1) * cell_h))
        s = np.sin(np.minimum(ang, np.pi / 2)) / np.cos(np.radians(pole))
        lam = np.degrees(np.arcsin(np.minimum(s, 1.0)))
        kx = np.where(s < 1.0, np.floor(lam / cell_w) + 1, n)
    kx = np.minimum(kx, n // 2).astype(np.int64)
    ky = np.minimum(ky, n - 1).astype(np.int64)
    return kx, ky, np.asarray(dist_cut, dtype=np.float64)


def within_distance_join(
    probes: DataFrame,
    docs: DataFrame,
    radius: float,
    res: int = DEFAULT_RES,
    probe_key: str = "probe_id",
    doc_key: str = "doc_id",
    probe_lon: str = "lon",
    probe_lat: str = "lat",
    doc_lon: str = "xmin",
    doc_lat: str = "ymin",
) -> DataFrame:
    """Bounded-distance spatial join (geopandas ``sjoin`` with the
    dwithin predicate): every (probe, doc) pair with planar distance
    strictly under ``radius`` degrees, plus the distance.

    Each probe explodes to the fixed window of cells that can contain a
    point within ``radius`` (floor(radius/cell)+1 per axis, a superset),
    the window broadcast-joins docs on cell_id, and a codegen distance
    predicate cuts exact pairs. O(|probes| * window + matches); the docs
    side never shuffles."""
    n = 1 << res
    cell_w, cell_h = cell_width_deg(res)
    kx = min(int(radius // cell_w) + 1, n // 2)
    ky = min(int(radius // cell_h) + 1, n - 1)
    pts = _probe_cells(probes, probe_key, probe_lon, probe_lat, res)
    win = _window_cells(pts, str(kx), str(ky), n, res).select(probe_key, "_plon", "_plat", "_cell")
    d = _doc_points(docs, doc_key, doc_lon, doc_lat)
    return (
        d.join(F.broadcast(win), d["_dcell"] == win["_cell"])
        .withColumn("dist", _distance("planar"))
        .filter(F.col("dist") < F.lit(float(radius)))
        .select(probe_key, doc_key, "dist")
    )


def _probe_cells(probes: DataFrame, probe_key: str, probe_lon: str, probe_lat: str, res: int) -> DataFrame:
    """(probe_key, _plon, _plat, _px, _py): the probe's grid column and row,
    null for a null coordinate (the clamp's least/greatest skip nulls)."""
    px, py = cell_xy_expr_sql(f"`{probe_lon}`", f"`{probe_lat}`", res)
    return probes.selectExpr(
        f"`{probe_key}`", f"`{probe_lon}` AS _plon", f"`{probe_lat}` AS _plat",
        f"if(`{probe_lon}` IS NULL, NULL, {px}) AS _px", f"if(`{probe_lat}` IS NULL, NULL, {py}) AS _py",
    )


def _doc_points(docs: DataFrame, doc_key: str, doc_lon: str, doc_lat: str) -> DataFrame:
    return docs.selectExpr(f"`{doc_key}`", f"`{doc_lon}` AS _dlon", f"`{doc_lat}` AS _dlat", "cell_id AS _dcell")


def _window_cells(pts: DataFrame, kx: str, ky: str, n: int, res: int) -> DataFrame:
    """One row per cell of each row's window, as ``_cell`` (a cell_id):
    rows _py-ky.._py+ky clamped to the grid, columns _px-kx.._px+kx
    modulo n. ``kx``/``ky`` are SQL expressions; kx <= n//2 and the upper
    end stops at n-1-kx, so no column repeats when the window wraps all
    the way round."""
    cell = xy_cell_expr_sql(f"pmod(_px + _dx, {n})", "_wy", res)
    return (
        pts.selectExpr("*", f"explode(sequence(-{kx}, least({kx}, {n - 1} - {kx}))) AS _dx")
        .selectExpr("*", f"explode(sequence(greatest(_py - {ky}, 0), least(_py + {ky}, {n - 1}))) AS _wy")
        .selectExpr("*", f"{cell} AS _cell")
    )


def _distance(metric: str) -> Column:
    """Probe (_plon, _plat) to doc (_dlon, _dlat) distance: planar degrees
    or haversine km. One SQL string: each Column operator would cost py4j
    round trips on the driver."""
    # dx*dx, not pow(dx, 2): plain multiplication is bit-reproducible
    # across engines (oracle parity) and cheaper in codegen
    dx, dy = "(_plon - _dlon)", "(_plat - _dlat)"
    if metric == "haversine":
        hphi, hlmb = f"sin(radians{dy} / 2)", f"sin(radians{dx} / 2)"
        hav = f"{hphi} * {hphi} + cos(radians(_plat)) * cos(radians(_dlat)) * {hlmb} * {hlmb}"
        return F.expr(f"{2.0 * EARTH_RADIUS_KM!r}D * asin(sqrt(least({hav}, 1.0D)))")
    # rank by sqrt(d2), not d2: sqrt is correctly rounded and can map two
    # unequal d2 values to the same double; ties must break on doc_key
    # identically to any oracle ranking by true distance
    return F.expr(f"sqrt({dx} * {dx} + {dy} * {dy})")
