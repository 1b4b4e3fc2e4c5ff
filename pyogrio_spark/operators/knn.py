"""kNN join via iterative cell-window expansion.

The reference exposes envelopes "to assist with spatial indexing and
partitioning" (/root/reference/pyogrio/core.py:184-187) and leaves
neighbor search to single-node shapely STRtree.query_nearest. The
cluster plan replaces the tree walk with grid geometry:

round r: each unsatisfied probe expands to the (2r+1)^2 cell window
around its cell -> equi-join with docs on cell_id -> per-probe
``row_number()`` over distance -> a probe is DONE when it has k
candidates and the k-th distance fits inside the *guaranteed* radius
(r * cell_height: no unexplored cell can hold anything closer), or the
window already spans the whole grid. Unsatisfied probes re-enter with
r doubled. Everything except the distance ranking is integer
arithmetic; no UDF anywhere.

Candidate generation, join, and ranking all happen JVM-side; the
driver loop only checks the per-round "all satisfied?" flag — the
per-round work is O(probes * window) with no full cross join, which is
what makes this viable when docs = 10^12 (a naive cross join is 10^12
× |probes|).

Distance: planar Euclidean in degrees (matches the single-node oracle;
swap in haversine for production geodesy — the loop is metric-agnostic
as long as the guarantee radius uses a lower bound of the metric).
Longitude wrap: the planar metric enumerates clamped windows (no wrap,
consistent with unwrapped Euclidean degrees); the haversine metric
enumerates window columns MODULARLY across the antimeridian, so a
probe at lon 179.9 explores cells at lon -179.9 in round one and the
longitude guarantee bound (valid only while some column is unexplored,
i.e. 2r+1 < n) genuinely lower-bounds the wrapped angular separation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyogrio_spark.index.grid import SPAN_LAT, SPAN_LON, LAT0, LON0, _RES_SHIFT

DEFAULT_RES = 7

EARTH_RADIUS_KM = 6371.0088
_DEG_KM = EARTH_RADIUS_KM * 3.141592653589793 / 180.0

# per-round trace of the most recent knn_join call (round index, window
# radius, ring-only?, carried rows, pending probes after the round, wall
# seconds) — the work-trace evidence for the candidate-carry plan; reset
# at every call, cheap to populate (numbers the loop computes anyway)
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
    max_rounds: int = 16,
    initial_ring: int | None = None,
    broadcast_cap_rows: int = 4_000_000,
    metric: str = "planar",
) -> DataFrame:
    """-> (probe_key, doc_key, dist, rank) with exactly k rows per probe
    (fewer iff the docs table has < k rows). Deterministic tie-break on
    (dist, doc_key).

    ``metric``: 'planar' (Euclidean degrees, matches the in-repo oracle)
    or 'haversine' (great-circle km). The expansion loop is metric-
    agnostic: only the distance expression and the per-probe guarantee
    (a LOWER bound of the metric to any unexplored cell) change. For
    haversine the guarantee is min(latitude bound, longitude bound at
    the worst latitude of the window) — near the poles the longitude
    bound collapses and polar probes simply re-probe to the full grid,
    trading rounds for exactness.

    Side effect: for the duration of the call this sets
    ``spark.sql.adaptive.coalescePartitions.enabled`` to false on the
    whole session (restored on return). Queries run concurrently on the
    same session plan with coalescing off meanwhile, and a query that
    sets the key itself during the call has it overwritten on return."""
    if metric not in ("planar", "haversine"):
        raise ValueError(f"metric must be planar|haversine, got {metric!r}")
    n = 1 << res
    cell_h = SPAN_LAT / n
    base = 1 << _RES_SHIFT

    # decompose probe cell into grid x/y once (pure arithmetic)
    px = F.least(
        F.greatest(F.floor((F.col(probe_lon) - F.lit(LON0)) / F.lit(SPAN_LON) * n).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )
    py = F.least(
        F.greatest(F.floor((F.col(probe_lat) - F.lit(LAT0)) / F.lit(SPAN_LAT) * n).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )
    pending = probes.select(
        probe_key, F.col(probe_lon).alias("_plon"), F.col(probe_lat).alias("_plat"),
        px.alias("_px"), py.alias("_py"),
    )
    docs_pts = docs.select(
        doc_key, F.col(doc_lon).alias("_dlon"), F.col(doc_lat).alias("_dlat"), F.col("cell_id").alias("_dcell")
    )

    # cell_id carries its resolution in the top bits, so a docs table
    # indexed at a different res than ``res`` would match ZERO window
    # cells and silently return empty/short results. Validate up front;
    # when the density heuristic below runs anyway, piggyback on its
    # count job (one aggregate returns both), else a limit-1 probe.
    def _check_res(sample_cell) -> None:
        if sample_cell is None:
            return
        doc_res = int(sample_cell) >> _RES_SHIFT
        if doc_res != res:
            raise ValueError(
                f"docs.cell_id was built at res={doc_res} but knn_join was called with res={res}; "
                "re-index the docs table or pass the matching res"
            )

    # start radius from corpus density: the expected k-th-neighbor distance
    # for a Poisson field of intensity lambda is ~sqrt(k/(pi*lambda)); the
    # window must cover 1.5x that for the guarantee check to pass on the
    # first round for most probes (one cheap count, saves whole rounds)
    if initial_ring is None:
        import math

        agg = docs_pts.agg(F.count("*").alias("n"), F.first("_dcell", ignorenulls=True).alias("c")).first()
        n_docs = agg["n"]
        _check_res(agg["c"])
        lam = max(n_docs / (SPAN_LON * SPAN_LAT), 1e-12)  # docs per deg^2
        exp_rk = math.sqrt(k / (math.pi * lam))
        r = max(1, min(n // 2, int(math.ceil(1.5 * exp_rk / cell_h))))
        # map-side distance cut: a probe is only declared satisfied when
        # its k-th distance is strictly under the round threshold, so
        # candidates at or beyond it can never appear in a satisfied
        # result — filter them BEFORE the ranking shuffle. 3x the
        # expected k-th-neighbor radius keeps the miss probability
        # negligible (expected ~9k points inside); a dense-region miss
        # just re-probes at 4x the area like any unsatisfied probe.
        # At 200M docs this cuts the rank shuffle from 115M rows to ~100k.
        beta = 3.0 * exp_rk
    else:
        first_cell = docs_pts.select("_dcell").first()
        _check_res(first_cell[0] if first_cell is not None else None)
        r = max(1, int(initial_ring))
        beta = float("inf")  # explicit ring: threshold = cell guarantee
    if metric == "haversine" and beta != float("inf"):
        # degrees -> km conservatively via the latitude scale (longitude
        # km-per-degree is never larger), so the cut only loosens — a
        # loose beta costs shuffle volume, never correctness
        beta = beta * _DEG_KM

    pending = pending.cache()
    # AQE partition coalescing collapses the per-round rank exchange to a
    # handful of partitions (its size estimate, not core count, drives
    # it), flat-lining 8->32-core scaling at 100M docs. The ranking
    # window wants one partition per core; restore the conf after.
    spark = probes.sparkSession
    _coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    _coalesce_prev = spark.conf.get(_coalesce_key, "true")
    spark.conf.set(_coalesce_key, "false")
    try:
        return _knn_rounds(
            pending, docs_pts, k, r, beta, n, cell_h, base, res, max_rounds,
            probe_key, doc_key, broadcast_cap_rows, metric,
        )
    finally:
        spark.conf.set(_coalesce_key, _coalesce_prev)


def _guar_expr(metric, r, beta, n, cell_h, cell_w):
    """Per-probe satisfaction threshold at window radius ``r`` with
    density cut ``beta``: a LOWER bound of the metric to ANY point in an
    unexplored cell."""
    if metric != "haversine":
        return F.lit(min(r * cell_h, beta))
    # lat: R * radians(r*cell_h) — an unexplored cell with |dy| > r
    # differs in latitude alone by at least r rows.
    lat_bound = _DEG_KM * (r * cell_h)
    if 2 * r + 1 >= n:
        # every column explored (modular enumeration): unexplored cells
        # differ in lat only
        return F.least(F.lit(lat_bound), F.lit(beta))
    # lon: an unexplored cell inside the row band differs in WRAPPED lon
    # by lam >= r*cell_w (columns are enumerated modularly, so a cell
    # across the antimeridian is explored, not unexplored). The distance
    # from the probe at latitude phi to the ENTIRE meridian lam away is
    # the cross-track closed form R*asin(cos(phi)*sin(lam)) for
    # lam <= 90 deg (beyond 90 the meridian distance is the constant
    # 90-|phi|, exactly the capped formula's value) — it depends on the
    # PROBE latitude only, not the window's worst latitude, so it stays
    # useful near the poles. The previous worst-window-latitude bound
    # collapsed to 0 once the window touched a pole, silently forcing
    # every polar probe through full-grid rounds.
    import math

    lam = math.radians(min(r * cell_w, 90.0))
    lon_bound = EARTH_RADIUS_KM * F.asin(F.cos(F.radians(F.col("_plat"))) * math.sin(lam))
    return F.least(F.lit(lat_bound), lon_bound, F.lit(beta))


def _knn_rounds(
    pending, docs_pts, k, r, beta, n, cell_h, base, res, max_rounds,
    probe_key, doc_key, broadcast_cap_rows, metric="planar",
):
    cell_w = SPAN_LON / n
    # haversine wraps at the antimeridian (sin^2(dlon/2) is periodic), so
    # window columns are enumerated modularly; planar degrees do not wrap.
    wrap_x = metric == "haversine"
    n_pending = pending.count()
    round_results: list[DataFrame] = []
    # candidate carry (round-2 deferral, now implemented): each re-probe
    # round scans only the NEW ring of cells; the previous round persists
    # its unsatisfied probes' PRE-cut candidates (all distances — later
    # rounds' thresholds grow, so no cut here is sound). ring ∪ carried
    # == the full window's candidate set exactly, so results are
    # unchanged while re-entered windows are never rescanned.
    carried = None  # (probe_key, _plon, _plat, doc_key, _dist) for pending probes
    prev_r = None
    LAST_RUN_TRACE.clear()
    import time as _time

    for round_i in range(max_rounds):
        _t0 = _time.perf_counter()
        # the window is CLAMPED in y (and in x for planar), so from an
        # edge probe [px-r, px+r] spans [0, n-1] only when r >= n-1;
        # (2r+1) >= n would declare coverage with up to half the grid
        # unexplored from a corner probe and skip the guarantee check
        window_covers_grid = r >= n - 1
        # window cells: (2r+1)^2 square around the probe cell — columns
        # modular when the metric wraps, clamped otherwise; rows clamped
        cx = (
            F.pmod(F.col("_px") + F.col("_dx"), F.lit(n))
            if wrap_x
            else F.greatest(F.least(F.col("_px") + F.col("_dx"), F.lit(n - 1)), F.lit(0))
        )
        cells = (
            pending.withColumn("_dx", F.explode(F.sequence(F.lit(-r), F.lit(r))))
            .withColumn("_dy", F.explode(F.sequence(F.lit(-r), F.lit(r))))
            .withColumn("_cx", cx)
            .withColumn("_cy", F.greatest(F.least(F.col("_py") + F.col("_dy"), F.lit(n - 1)), F.lit(0)))
        )
        use_carry = carried is not None and not window_covers_grid
        if use_carry:
            # ring-only enumeration: drop cells inside the previous CLAMPED
            # (or wrapped) window — their candidates arrive via ``carried``.
            # The final full-grid round ignores the carry and enumerates
            # everything fresh (exactness net), so it must NOT union it.
            if wrap_x:
                dxw = F.pmod(F.col("_cx") - F.col("_px"), F.lit(n))
                explored_x = (
                    F.least(dxw, F.lit(n) - dxw) <= prev_r
                    if 2 * prev_r + 1 < n
                    else F.lit(True)
                )
            else:
                explored_x = (F.col("_cx") >= F.greatest(F.col("_px") - prev_r, F.lit(0))) & (
                    F.col("_cx") <= F.least(F.col("_px") + prev_r, F.lit(n - 1))
                )
            explored_y = (F.col("_cy") >= F.greatest(F.col("_py") - prev_r, F.lit(0))) & (
                F.col("_cy") <= F.least(F.col("_py") + prev_r, F.lit(n - 1))
            )
            cells = cells.filter(~(explored_x & explored_y))
        cand_cells = (
            cells.withColumn("_cell", (F.lit(res).cast("long") * F.lit(base)) + F.col("_cx") * n + F.col("_cy"))
            .select(probe_key, "_plon", "_plat", "_cell")
            .dropDuplicates([probe_key, "_cell"])
        )
        # Catalyst cannot estimate the exploded probe side (filter + explode
        # over a cached relation), so left alone it picks a SortMergeJoin
        # that exchanges AND sorts the full corpus — measured 0.26 scaling
        # efficiency at 100M docs. Probe sets are usually dimension-sized:
        # broadcast them and stream the corpus cache untouched.
        if n_pending * (2 * r + 1) ** 2 <= broadcast_cap_rows:
            cand_cells = F.broadcast(cand_cells)
        joined = cand_cells.join(docs_pts, cand_cells["_cell"] == docs_pts["_dcell"], "inner")
        # dx*dx, not pow(dx, 2): plain multiplication is bit-reproducible
        # across engines (oracle parity) and cheaper in codegen
        dx = F.col("_plon") - F.col("_dlon")
        dy = F.col("_plat") - F.col("_dlat")
        # rank by sqrt(d2), not d2: sqrt is correctly rounded and can map
        # two unequal d2 values to the same double — ties must break on
        # doc_key identically to any oracle ranking by true distance
        if metric == "haversine":
            hphi = F.sin(F.radians(dy) / 2)
            hlmb = F.sin(F.radians(dx) / 2)
            hav = hphi * hphi + F.cos(F.radians(F.col("_plat"))) * F.cos(F.radians(F.col("_dlat"))) * hlmb * hlmb
            dist = 2.0 * EARTH_RADIUS_KM * F.asin(F.sqrt(F.least(hav, F.lit(1.0))))
        else:
            dist = F.sqrt(dx * dx + dy * dy)
        new_cand = joined.withColumn("_dist", dist).select(probe_key, "_plon", "_plat", doc_key, "_dist")
        # ring cells and the previous window are disjoint and a doc lives
        # in exactly one cell, so this union cannot duplicate a (probe,
        # doc) pair — no dedup shuffle needed
        cand_pre = new_cand.unionByName(carried) if use_carry else new_cand

        w = Window.partitionBy(probe_key).orderBy(F.col("_dist").asc(), F.col(doc_key).asc())
        # a probe is satisfied when its k-th neighbor is provably inside
        # the explored window, or the window already covers the grid.
        # The explored window guarantees r*cell_h; the density cut beta
        # may tighten it further (satisfaction then demands dk < beta,
        # which the pre-shuffle filter below enforces symmetrically).
        cand = cand_pre.withColumn("_guar", _guar_expr(metric, r, beta, n, cell_h, cell_w))
        if not window_covers_grid:
            # map-side cut: rows at/over the satisfaction threshold can
            # never be in a satisfied probe's top-k — drop them before
            # the ranking shuffle (this, not the ranking, is what makes
            # the round scale: shuffle volume ~ ring area, not corpus)
            cand = cand.filter(F.col("_dist") < F.col("_guar"))
        # cache: BOTH the satisfied-keys check and the round's result rows
        # derive from topk; without the barrier the candidate join + window
        # (the round's expensive work) executes twice per round
        topk = (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(probe_key, doc_key, F.col("_dist").alias("dist"), "rank", "_guar")
        ).cache()
        stats = topk.groupBy(probe_key).agg(
            F.count("*").alias("_cnt"), F.max("dist").alias("_dk"), F.min("_guar").alias("_g")
        )
        if window_covers_grid:
            satisfied_keys = stats.select(probe_key)
        else:
            # strict <: a tie at exactly the guarantee radius could be
            # displaced by an unexplored point at the same distance
            satisfied_keys = stats.filter(
                (F.col("_cnt") == k) & (F.col("_dk") < F.col("_g"))
            ).select(probe_key)

        # materialize the round: without cache every later round would lazily
        # re-execute the whole prior lineage (quadratic recompute)
        sat = (
            topk.drop("_guar").join(F.broadcast(satisfied_keys), on=probe_key, how="inner").cache()
        )
        sat.count()  # reads cached topk; pins this round's rows
        round_results.append(sat)
        # localCheckpoint, NOT cache: round t's plan references both
        # round t-1's pending AND its carried, each of which references
        # round t-2's — cache materializes data but keeps the full
        # logical plan, so Catalyst re-analysis doubles per round
        # (measured: 4.7/3.8/5.2/24/216 s per round at sf0.1 on ~29k
        # rows — pure driver-side planning). Checkpointing truncates
        # the plan; same eager materialization semantics.
        new_pending = pending.join(
            F.broadcast(satisfied_keys), on=probe_key, how="left_anti"
        ).localCheckpoint()
        n_left = n_pending = new_pending.count()

        # carry for the next round (before unpersisting this round's
        # inputs): every PRE-cut candidate of a still-pending probe —
        # unfiltered, because round t+2's threshold exceeds round t+1's,
        # so any distance cut here would silently starve probes that
        # stay pending for 2+ rounds (a round-t row with dist in
        # [guar(t+1), guar(t+2)) must still exist at round t+2). The set
        # is exactly what the old plan re-scanned from disk every round;
        # storing it is memory-for-CPU with the same row bound. Skipped
        # when the next round is the full-grid exactness net (it
        # re-enumerates everything and unions nothing).
        r_next = n if round_i == max_rounds - 2 else r * 2
        beta_next = beta * 4.0
        new_carried = None
        if n_left > 0 and not window_covers_grid and r_next < n - 1:
            # localCheckpoint (same lineage-truncation reason as pending)
            new_carried = cand_pre.join(
                F.broadcast(new_pending.select(probe_key)), on=probe_key, how="inner"
            ).localCheckpoint()
            n_carried = new_carried.count()
        else:
            n_carried = 0
        carried = new_carried  # checkpointed blocks are GC-reclaimed by the ContextCleaner
        topk.unpersist()
        pending.unpersist()
        pending = new_pending
        prev_r = r
        LAST_RUN_TRACE.append(
            {
                "round": round_i,
                "r": r,
                "ring_only": use_carry,
                "carried_rows": n_carried,
                "pending_after": n_left,
                "wall_s": round(_time.perf_counter() - _t0, 3),
            }
        )
        if window_covers_grid or n_left == 0:
            break
        r = r_next
        beta = beta_next  # re-probe with 4x the radius cut (16x the area)
    results = round_results[0]
    for extra in round_results[1:]:
        results = results.unionByName(extra)
    return results


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

    One-shot cell-window plan (no expansion loop — the radius is known
    up front): each probe explodes to the fixed Chebyshev window of
    cells that can contain a point within ``radius``
    (floor(r/cell)+1 per axis — a strict superset), the window
    broadcast-joins docs on cell_id, and a codegen distance predicate
    cuts exact pairs. O(|probes| * window + matches); the docs side
    never shuffles, the same property as the kNN join. Longitude wraps
    modularly, latitude clamps."""
    n = 1 << res
    cell_w = SPAN_LON / n
    cell_h = SPAN_LAT / n
    base = 1 << _RES_SHIFT
    kx = int(radius // cell_w) + 1
    ky = int(radius // cell_h) + 1

    win = (
        probes.select(probe_key, F.col(probe_lon).alias("_plon"), F.col(probe_lat).alias("_plat"))
        .withColumn("_px", F.least(
            F.greatest(F.floor((F.col("_plon") - F.lit(LON0)) / F.lit(SPAN_LON) * n).cast("long"), F.lit(0)),
            F.lit(n - 1),
        ))
        .withColumn("_py", F.least(
            F.greatest(F.floor((F.col("_plat") - F.lit(LAT0)) / F.lit(SPAN_LAT) * n).cast("long"), F.lit(0)),
            F.lit(n - 1),
        ))
        .withColumn("_dx", F.explode(F.sequence(F.lit(-kx), F.lit(kx))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-ky), F.lit(ky))))
        .withColumn("_wy", F.col("_py") + F.col("_dy"))
        .filter((F.col("_wy") >= 0) & (F.col("_wy") < n))  # lat clamps
        .withColumn("_wx", F.pmod(F.col("_px") + F.col("_dx"), F.lit(n)))  # lon wraps
        .withColumn("cell_id", F.lit(res) * F.lit(base) + F.col("_wx") * n + F.col("_wy"))
        .select(probe_key, "_plon", "_plat", "cell_id")
    )
    d = docs.select(doc_key, F.col(doc_lon).alias("_dlon"), F.col(doc_lat).alias("_dlat"), "cell_id")
    dxe = F.col("_dlon") - F.col("_plon")
    dye = F.col("_dlat") - F.col("_plat")
    dist = F.sqrt(dxe * dxe + dye * dye)
    return (
        d.join(F.broadcast(win), on="cell_id")
        .withColumn("dist", dist)
        .filter(F.col("dist") < F.lit(float(radius)))
        .select(probe_key, doc_key, "dist")
    )
