"""Generic geometry-geometry intersects join (spatial theta-join).

The reference's canonical spatial join is an ST_Intersects SQL
passthrough (/root/reference/docs/source/introduction.md:291-307). For
arbitrary (non-point) left geometries the plan generalizes the PIP join:

1. left rows explode into covering cells of their *envelope* (pure
   arithmetic on the persisted bounds columns — no geometry parse);
2. integer equi-join with the polygon cover (broadcast for dimension-
   sized right sides);
3. coarse envelope-overlap predicate (JVM) prunes most candidates;
4. exact ``PreparedPolygon.intersects_geom`` refine on survivors,
   grouped per polygon inside each Arrow batch;
5. dedupe (a pair may meet in several cells).

Full-cover shortcut still applies: a left geometry whose envelope lies
in a full-cover cell intersects the polygon without any geometry test.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyogrio_spark.geometry.predicates import PreparedPolygon, batch_intersects
from pyogrio_spark.index.grid import cell_xy_expr_sql, xy_cell_expr_sql
from pyogrio_spark.operators.spatial_join import cell_join

DEFAULT_RES = 7


def _envelope_cell_ranges(res: int) -> tuple[str, str, str, str]:
    """SQL for the grid column/row range (x0, x1, y0, y1) of each row's
    envelope (xmin..ymax columns)."""
    x0, y0 = cell_xy_expr_sql("xmin", "ymin", res)
    x1, y1 = cell_xy_expr_sql("xmax", "ymax", res)
    return x0, x1, y0, y1


def explode_envelope_cells(df: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """One row per grid cell covering each row's envelope (xmin..ymax
    columns), with the cell's ``cell_x`` column, ``cell_y`` row and
    ``cell_id`` — sequence+explode arithmetic, no UDF."""
    x0, x1, y0, y1 = _envelope_cell_ranges(res)
    return (
        df.withColumn("cell_x", F.expr(f"explode(sequence({x0}, {x1}))"))
        .withColumn("cell_y", F.expr(f"explode(sequence({y0}, {y1}))"))
        .withColumn("cell_id", F.expr(xy_cell_expr_sql("cell_x", "cell_y", res)))
    )


def intersects_join(
    left: DataFrame,
    cover: DataFrame,
    res: int = DEFAULT_RES,
    zone_key: str = "fid",
    left_key: str = "doc_id",
    geom_col: str = "geometry_wkb",
    keep_left_cols: list[str] | None = None,
    broadcast_cover: bool = True,
    salt_plan: pd.DataFrame | None = None,
) -> DataFrame:
    """left (any geometry; needs envelope cols + geometry_wkb) ⋈ polygons
    (``cover`` from zones_cell_cover) on ST_Intersects semantics.
    -> keep_left_cols + zone_key, one row per intersecting pair.

    ``broadcast_cover=False`` switches to a shuffle hash join for huge
    polygon sides (cover no longer fits an executor); ``salt_plan`` then
    salts its hot cells — the same skew treatment as
    ``point_in_polygon_join`` (``spatial_join.cell_join``)."""
    keep = keep_left_cols or [left_key]
    # left_key rides through the refine so the pair dedup has it even
    # when keep_left_cols omits it
    carry = list(dict.fromkeys([*keep, left_key]))
    zgeom = "_zone_geom"
    cover = cover.withColumnRenamed(geom_col, zgeom)
    ztype = cover.schema[zone_key].dataType.simpleString()

    lcells = explode_envelope_cells(
        left.select(*dict.fromkeys([*carry, "xmin", "ymin", "xmax", "ymax", geom_col])), res
    ).drop("cell_x", "cell_y")
    joined = cell_join(lcells, cover, left_key, broadcast_cover, salt_plan)

    # coarse: envelope overlap with the zone bbox the cover carries
    joined = joined.filter("xmin <= zxmax AND xmax >= zxmin AND ymin <= zymax AND ymax >= zymin")

    out_cols = [*carry, zone_key]
    # Two JVM shortcuts pass a pair with no geometry test:
    # - a full-cover cell, sound only when the ENTIRE envelope sits in
    #   this one cell (an envelope that straddles cells could hold a
    #   geometry that never enters the full cell at all);
    # - a RECTANGLE zone containing the whole envelope, sound for any
    #   nonempty geometry. At planetary scale small geometries inside
    #   large rect zones dominate: on 5M triangles x 200 rect zones this
    #   cut the Python refine from ~all true pairs to boundary-crossing
    #   pairs only (BENCH/BASELINE.md round-2 notes).
    x0, x1, y0, y1 = _envelope_cell_ranges(res)
    jvm_true = F.expr(
        f"(full_cover AND {x0} = {x1} AND {y0} = {y1})"
        " OR (is_rect AND xmin >= zxmin AND xmax <= zxmax AND ymin >= zymin AND ymax <= zymax)"
    )
    full = joined.filter(jvm_true).select(*out_cols)
    rest = joined.filter(~jvm_true).select(*out_cols, geom_col, zgeom, "is_rect")

    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in left.schema.fields if f.name in carry]
        + [f"`{zone_key}` {ztype}"]
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyogrio_spark.geometry.wkb import rect_mask

        prep_cache: dict[bytes, PreparedPolygon] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            geoms = pdf[geom_col].to_numpy()
            # rect left x rect zone: the JVM coarse filter already proved
            # envelope overlap, and for axis-aligned rects the envelope IS
            # the geometry — intersects without any geometry test
            # (vectorized header/coord pattern check)
            hit = rect_mask(list(geoms)) & pdf["is_rect"].to_numpy(dtype=bool)
            todo_pos = np.flatnonzero(~hit)
            sub = pdf.iloc[todo_pos]
            sub_geoms = geoms[todo_pos]
            for zwkb, idx in sub.groupby(zgeom, sort=False).indices.items():
                prep = prep_cache.get(zwkb)
                if prep is None:
                    prep = prep_cache[zwkb] = PreparedPolygon(bytes(zwkb))
                # one vectorized kernel per zone group: vertices/edges of
                # ALL candidates flattened into batch arrays, predicates
                # as whole-batch numpy ops (no per-row Python)
                hit[todo_pos[idx]] = batch_intersects(prep, sub_geoms[idx])
            yield pdf.loc[hit, out_cols]

    refined = rest.mapInPandas(refine, schema=schema)
    return full.unionByName(refined).dropDuplicates([left_key, zone_key]).select(*keep, zone_key)
