"""Point-in-polygon spatial join.

pyogrio users get this from geopandas.sjoin / shapely STRtree on one
node (the reference's own canonical spatial join is an ST_Intersects
SQL passthrough, /root/reference/docs/source/introduction.md:291-307;
its mask filter has the same intersects semantics,
/root/reference/pyogrio/_io.pyx:887-908). Cluster plan:

1. **Cover**: each polygon -> covering cells at res R with a
   ``full_cover`` flag (interior cells).
2. **Coarse join**: docs ⋈ cover on ``cell_id`` — a pure integer
   equi-join. A dimension-sized cover side is ``broadcast()`` so the
   docs side never shuffles; a huge polygon side falls back to a
   shuffle hash join where AQE skew-join plus an optional per-cell
   salt plan (``plan_salt_factors``) split hot coastline/metro cells.
3. **Refine**: rows in ``full_cover`` cells pass with no geometry test
   (at planetary scale interior cells dominate — most of the join does
   zero geometry work). Boundary-cell rows get the exact even-odd ray
   cast as one Spark SQL predicate over the edges the cover clipped to
   that cell (``index.cover.contains_expr``). The whole join is one
   broadcast-join-plus-filter plan with no Python stage.

Output: one row per (doc, zone) pair; doc payload (span sequences)
passes through untouched.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyogrio_spark.index.cover import EDGES_TYPE, REFINE_COLUMNS, contains_expr, cover_table

DEFAULT_RES = 7


def _cover_schema(zone_key: str, ztype: str, geom_col: str) -> str:
    return (
        f"cell_id bigint, {zone_key} {ztype}, full_cover boolean, {geom_col} binary, "
        f"is_rect boolean, zxmin double, zymin double, zxmax double, zymax double, edges {EDGES_TYPE}"
    )


def zones_cell_cover(
    spark: SparkSession,
    zones: pd.DataFrame,
    res: int = DEFAULT_RES,
    zone_key: str = "fid",
    geom_col: str = "geometry_wkb",
) -> DataFrame:
    """Explode polygons into one row per covering cell: (cell_id,
    zone_key, full_cover, geometry_wkb, is_rect, zone bbox, edges), where
    ``edges`` holds a boundary cell's clipped zone edges (empty for
    full-cover cells).

    Driver-side for dimension-sized zone tables (admin boundaries,
    1e2-1e5 polygons — the common case): ``index.cover.cover_table``
    covers the whole set in one vectorized pass and its Arrow table goes
    to Spark as is. Use ``zones_cell_cover_distributed`` when the polygon
    side is itself big.
    """
    table = cover_table(zones[zone_key], zones[geom_col], res, zone_key, geom_col)
    ztype = "bigint" if pd.api.types.is_integer_dtype(zones[zone_key]) else "string"
    return spark.createDataFrame(table, schema=_cover_schema(zone_key, ztype, geom_col))


def zones_cell_cover_distributed(
    zones_df: DataFrame,
    res: int = DEFAULT_RES,
    zone_key: str = "fid",
    geom_col: str = "geometry_wkb",
) -> DataFrame:
    """Same cover computed on executors, one ``cover_table`` per Arrow
    batch via mapInArrow — the scale path."""
    ztype = zones_df.schema[zone_key].dataType.simpleString()

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield from cover_table(b.column(zone_key), b.column(geom_col), res, zone_key, geom_col).to_batches()

    return zones_df.select(zone_key, geom_col).mapInArrow(gen, schema=_cover_schema(zone_key, ztype, geom_col))


def plan_salt_factors(
    docs: DataFrame, threshold_rows: int, max_salt: int = 64, cell_col: str = "cell_id"
) -> pd.DataFrame:
    """Deterministic per-cell salt plan from a count sketch (SURVEY.md §7
    hard part 4): one cheap groupBy(cell).count(); cells above the
    per-reducer row budget get salt_k = ceil(count/threshold). The plan is
    a pure function of the input snapshot, so a resumed job reproduces the
    identical physical partitioning."""
    for name, value in (("threshold_rows", threshold_rows), ("max_salt", max_salt)):
        if value < 1:
            raise ValueError(f"{name} must be >= 1, got {value!r}")
    counts = (
        docs.groupBy(cell_col).count().filter(F.col("count") > threshold_rows).toPandas()
    )
    if counts.empty:
        return pd.DataFrame(columns=["cell_id", "salt_k"])
    counts["salt_k"] = np.minimum(np.ceil(counts["count"] / threshold_rows), max_salt).astype(int)
    return counts[[cell_col, "salt_k"]].rename(columns={cell_col: "cell_id"})


def cell_join(
    left: DataFrame,
    cover: DataFrame,
    hash_col: str,
    broadcast_cover: bool = True,
    salt_plan: pd.DataFrame | None = None,
) -> DataFrame:
    """``left`` ⋈ ``cover`` on ``cell_id``: the coarse join of both
    spatial joins. The cover is broadcast by default; with
    ``broadcast_cover=False`` both sides shuffle, and a ``salt_plan``
    (``plan_salt_factors``) fans each planned cell's cover rows out
    ``salt_k`` times and spreads that cell's left rows over them by
    ``xxhash64(hash_col)``, so a hot cell lands on ``salt_k`` reducers
    and cold cells pay nothing."""
    if broadcast_cover:
        if salt_plan is not None:
            raise ValueError("salt_plan salts the shuffle join: pass broadcast_cover=False with it")
        return left.join(F.broadcast(cover), on="cell_id", how="inner")
    if salt_plan is None or salt_plan.empty:
        return left.join(cover, on="cell_id", how="inner")
    plan = F.broadcast(
        left.sparkSession.createDataFrame(salt_plan[["cell_id", "salt_k"]], schema="cell_id bigint, salt_k int")
    )
    cover = (
        cover.join(plan, on="cell_id", how="left")
        .withColumn("_salt", F.expr("explode(sequence(0, coalesce(salt_k, 1) - 1))"))
        .drop("salt_k")
    )
    left = (
        left.join(plan, on="cell_id", how="left")
        .withColumn("_salt", F.expr(f"cast(pmod(xxhash64(`{hash_col}`), coalesce(salt_k, 1)) as int)"))
        .drop("salt_k")
    )
    return left.join(cover, on=["cell_id", "_salt"], how="inner").drop("_salt")


def point_in_polygon_join(
    docs: DataFrame,
    cover: DataFrame,
    zone_key: str = "fid",
    geom_col: str = "geometry_wkb",
    broadcast_cover: bool = True,
    salt_plan: pd.DataFrame | None = None,
    keep_doc_cols: list[str] | None = None,
    include_boundary: bool = False,
) -> DataFrame:
    """Join point docs to polygons (PIP / intersects semantics).

    ``docs`` needs ``cell_id`` (same res as ``cover``) and point
    coordinates as envelope columns ``xmin``/``ymin`` (for points
    xmin==lon, ymin==lat — the persisted `read_bounds` columns).
    ``broadcast_cover=False`` shuffles both sides; ``salt_plan`` (from
    ``plan_salt_factors``) then splits its hot cells over several
    reducers (``cell_join``). A plan with the broadcast join raises
    ``ValueError``.

    Plan: docs ⋈ cover on ``cell_id``, filtered on ``full_cover OR
    contains``, where ``contains`` is the exact ray cast over the
    boundary cell's clipped edges (``index.cover.contains_expr``) — no
    Python stage. ``include_boundary=True`` switches it to GEOS
    ``intersects`` boundary semantics: a point exactly ON a zone edge
    joins. Default keeps the engine's half-open ray-cast convention
    (documented divergence); an axis-aligned rectangle zone is then the
    half-open box [xmin, xmax) x [ymin, ymax), and the closed box with
    ``include_boundary``.
    """
    if keep_doc_cols is None:
        keep_doc_cols = [c for c in docs.columns if c != geom_col]
    for req in ("cell_id", "xmin", "ymin"):
        if req not in docs.columns:
            raise ValueError(f"docs must carry '{req}' (persist bounds + cell first)")

    # the refine reads the clipped edges and bbox, never the zone geometry
    cover = cover.select("cell_id", zone_key, *REFINE_COLUMNS)
    docs_sel = docs.select(*dict.fromkeys(keep_doc_cols + ["xmin", "ymin", "cell_id"]))
    joined = cell_join(docs_sel, cover, keep_doc_cols[0], broadcast_cover, salt_plan)
    return joined.filter(contains_expr("xmin", "ymin", include_boundary)).select(*keep_doc_cols, zone_key)
