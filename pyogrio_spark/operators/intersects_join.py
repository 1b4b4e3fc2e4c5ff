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
from pyogrio_spark.index.grid import LAT0, LON0, SPAN_LAT, SPAN_LON, _RES_SHIFT

DEFAULT_RES = 7


def _cell_component(coord_sql_min: str, coord_sql_max: str, origin: float, span: float, n: int):
    lo = F.least(
        F.greatest(F.floor((F.expr(coord_sql_min) - F.lit(origin)) / F.lit(span) * n).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )
    hi = F.least(
        F.greatest(F.floor((F.expr(coord_sql_max) - F.lit(origin)) / F.lit(span) * n).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )
    return lo, hi


def explode_envelope_cells(df: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """Adds ``cell_id`` rows covering each row's envelope (xmin..ymax
    columns) — sequence+explode arithmetic, no UDF."""
    n = 1 << res
    base = 1 << _RES_SHIFT
    x0, x1 = _cell_component("xmin", "xmax", LON0, SPAN_LON, n)
    y0, y1 = _cell_component("ymin", "ymax", LAT0, SPAN_LAT, n)
    return (
        df.withColumn("_cx", F.explode(F.sequence(x0, x1)))
        .withColumn("_cy", F.explode(F.sequence(y0, y1)))
        .withColumn("cell_id", F.lit(res).cast("long") * F.lit(base) + F.col("_cx") * n + F.col("_cy"))
        .drop("_cx", "_cy")
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
    salt: int = 0,
) -> DataFrame:
    """left (any geometry; needs envelope cols + geometry_wkb) ⋈ polygons
    (``cover`` from zones_cell_cover) on ST_Intersects semantics.
    -> keep_left_cols + zone_key, one row per intersecting pair.

    ``broadcast_cover=False`` switches to a shuffle hash join for huge
    polygon sides (cover no longer fits an executor); ``salt`` > 1 then
    fans each cover cell out x salt and spreads left rows by key hash so
    a hot cell lands on ``salt`` reducers — same skew treatment as
    ``point_in_polygon_join``."""
    keep = keep_left_cols or [left_key]
    # left_key rides through the refine so the pair dedup has it even
    # when keep_left_cols omits it
    carry = list(dict.fromkeys([*keep, left_key]))
    zgeom = "_zone_geom"
    cover = cover.withColumnRenamed(geom_col, zgeom)
    ztype = cover.schema[zone_key].dataType.simpleString()

    lcells = explode_envelope_cells(left.select(*dict.fromkeys([*carry, "xmin", "ymin", "xmax", "ymax", geom_col])), res)
    if broadcast_cover:
        joined = lcells.join(F.broadcast(cover), on="cell_id", how="inner")
    elif salt > 1:
        cover = cover.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        lcells = lcells.withColumn("_salt", F.pmod(F.xxhash64(F.col(keep[0])), F.lit(salt)).cast("int"))
        joined = lcells.join(cover, on=["cell_id", "_salt"], how="inner").drop("_salt")
    else:
        joined = lcells.join(cover, on="cell_id", how="inner")

    # coarse: envelope overlap (cover carries the zone bbox for rect zones;
    # for all zones the cell pre-join already bounds the search)
    if {"zxmin", "zymin", "zxmax", "zymax"}.issubset(set(cover.columns)):
        joined = joined.filter(
            (F.col("xmin") <= F.col("zxmax"))
            & (F.col("xmax") >= F.col("zxmin"))
            & (F.col("ymin") <= F.col("zymax"))
            & (F.col("ymax") >= F.col("zymin"))
        )

    coarse_checked = {"zxmin", "zymin", "zxmax", "zymax"}.issubset(set(cover.columns))
    has_is_rect = "is_rect" in cover.columns

    out_cols = [*carry, zone_key]
    # full-cover shortcut is only sound when the ENTIRE envelope sits in
    # this one full cell (then every point of the geometry is inside the
    # polygon). An envelope that straddles cells could hold a geometry
    # that never enters the full cell at all.
    n = 1 << res
    x0e, x1e = _cell_component("xmin", "xmax", LON0, SPAN_LON, n)
    y0e, y1e = _cell_component("ymin", "ymax", LAT0, SPAN_LAT, n)
    env_in_one_cell = (x0e == x1e) & (y0e == y1e)
    jvm_true = F.col("full_cover") & env_in_one_cell
    if has_is_rect and coarse_checked:
        # second JVM shortcut, sound for ANY left geometry: a nonempty
        # geometry whose whole envelope sits inside a RECTANGLE zone
        # intersects it — no geometry test. At planetary scale small
        # geometries inside large rect zones dominate: measured on 5M
        # triangles x 200 rect zones, this cut the Python refine from
        # ~all true pairs to boundary-crossing pairs only (32.2s -> see
        # BENCH/BASELINE.md round-2 notes).
        jvm_true = jvm_true | (
            F.col("is_rect")
            & (F.col("xmin") >= F.col("zxmin"))
            & (F.col("xmax") <= F.col("zxmax"))
            & (F.col("ymin") >= F.col("zymin"))
            & (F.col("ymax") <= F.col("zymax"))
        )
    full = joined.filter(jvm_true).select(*out_cols)
    rest_cols = [*out_cols, geom_col, zgeom] + (["is_rect"] if has_is_rect and coarse_checked else [])
    rest = joined.filter(~jvm_true).select(*rest_cols)

    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in left.schema.fields if f.name in carry]
        + [f"`{zone_key}` {ztype}"]
    )

    rect_fast = has_is_rect and coarse_checked

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyogrio_spark.geometry.wkb import rect_mask

        prep_cache: dict[bytes, PreparedPolygon] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            hit = np.zeros(len(pdf), dtype=bool)
            geoms = pdf[geom_col].to_numpy()
            todo = np.ones(len(pdf), dtype=bool)
            if rect_fast:
                # rect left x rect zone: the JVM coarse filter already
                # proved envelope overlap, and for axis-aligned rects the
                # envelope IS the geometry — intersects without any
                # geometry test (vectorized header/coord pattern check)
                fast = rect_mask(list(geoms)) & pdf["is_rect"].to_numpy(dtype=bool)
                hit[fast] = True
                todo = ~fast
            todo_pos = np.flatnonzero(todo)
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
