"""Raster ↔ vector zonal statistics (Raptor-style, PAPERS.md:6).

Raster side: a tile grid (tile_x, tile_y, value) with tile centers at
known coordinates. Vector side: zone polygons covered into grid cells
with full/partial flags. Tiles whose center lands in a full-cover cell
contribute with *no* geometry test; boundary-cell tiles get the exact
center-in-polygon test (the standard zonal rule: a pixel belongs to the
zone containing its center) as a Spark SQL predicate over the cell's
clipped zone edges (``index.cover.contains_expr``), so neither operator
has a Python stage. Aggregation is the built-in partial+final hash agg.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyogrio_spark.index.cover import REFINE_COLUMNS, contains_expr
from pyogrio_spark.index.grid import LAT0, LON0, cell_expr_sql, cell_width_deg

DEFAULT_RES = 7


def tiles_with_centers(tiles: DataFrame, tile_deg: float, res: int = DEFAULT_RES) -> DataFrame:
    """Attach center coords + cell_id to a (tile_x, tile_y, value) grid —
    all arithmetic, codegen-friendly."""
    cx = (F.col("tile_x").cast("double") + 0.5) * tile_deg
    cy = (F.col("tile_y").cast("double") + 0.5) * tile_deg
    return (
        tiles.withColumn("cx", cx)
        .withColumn("cy", cy)
        .withColumn("cell_id", F.expr(cell_expr_sql("cx", "cy", res)))
    )


def _zone_members(tiles: DataFrame, cover: DataFrame, zone_key: str, cols: list[str]) -> DataFrame:
    """(tile, zone) pairs whose tile center lies in the zone: broadcast
    equi-join on cell_id, then the cover's refine predicate on (cx, cy)."""
    cover = cover.select("cell_id", zone_key, *REFINE_COLUMNS)
    joined = tiles.join(F.broadcast(cover), on="cell_id", how="inner")
    return joined.filter(contains_expr("cx", "cy")).select(*cols)


def zonal_stats(
    tiles: DataFrame,
    cover: DataFrame,
    zone_key: str = "fid",
    value_col: str = "value",
    aggs: tuple = ("count", "sum", "mean", "min", "max"),
) -> DataFrame:
    """-> one row per zone with the requested statistics over tiles whose
    center falls inside the zone polygon. ``tiles`` from
    ``tiles_with_centers``; ``cover`` from ``zones_cell_cover``. One
    broadcast join, one JVM-side filter (full-cover cells pass, boundary
    cells take the exact edge predicate), one hash aggregate."""
    members = _zone_members(tiles, cover, zone_key, [zone_key, value_col])
    agg_map = {
        "count": F.count(value_col).alias("tile_count"),
        "sum": F.sum(value_col).alias("value_sum"),
        "mean": F.avg(value_col).alias("value_mean"),
        "min": F.min(value_col).alias("value_min"),
        "max": F.max(value_col).alias("value_max"),
    }
    return members.groupBy(zone_key).agg(*[agg_map[a] for a in aggs])


def rasterize_zones(
    tiles: DataFrame,
    cover: DataFrame,
    zone_key: str = "fid",
    tie: str = "min",
) -> DataFrame:
    """Vector -> raster: burn zone ids into the tile grid — each tile
    (pixel) gets the id of the zone containing its center, the inverse
    of ``zonal_stats`` (same standard center rule; tiles outside every
    zone are absent, i.e. nodata). Overlapping zones resolve by
    ``tie``: 'min'/'max' zone id — deterministic, engine-independent.

    Same plan shape as zonal_stats: the broadcast join and the
    full-cover / edge-predicate filter run JVM-side, then one
    groupBy(tile). -> (tile_x, tile_y, zone_key).
    """
    members = _zone_members(tiles, cover, zone_key, ["tile_x", "tile_y", zone_key])
    agg = F.min(zone_key) if tie == "min" else F.max(zone_key)
    return members.groupBy("tile_x", "tile_y").agg(agg.alias(zone_key))


def areal_interpolate(
    zones: DataFrame,
    value_col: str,
    res: int,
    zone_key: str = "zone_id",
    geom_col: str = "geometry_wkb",
) -> DataFrame:
    """Area-weighted areal interpolation (the tobler/dasymetric
    building block): redistribute each zone's ``value_col`` onto the
    grid tiles at ``res`` proportionally to the INTERSECTION AREA of
    zone and tile -> (tile_id, value). Σ_tile value == Σ_zone value for
    zones fully inside the grid (weights per zone sum to 1).

    Plan shape: candidate (zone, tile) pairs enumerate in PURE CODEGEN
    (explode over the envelope's cell index ranges — no driver lists,
    scales to fact-sized zone tables), then one Arrow-batched kernel
    clips each zone to its tile rectangle (Sutherland-Hodgman,
    geometry/measure.py) and computes the area weight; a final
    groupBy(tile) sums partial values — one shuffle."""
    from pyogrio_spark.functions.geo import bounds_columns
    from pyogrio_spark.geometry import measure as M
    from pyogrio_spark.geometry import wkb as W
    from pyogrio_spark.operators.intersects_join import explode_envelope_cells

    w_deg, h_deg = cell_width_deg(res)
    b = bounds_columns(zones.select(zone_key, geom_col, value_col), geom_col)
    cand = explode_envelope_cells(b, res).select(geom_col, value_col, "cell_id", "cell_x", "cell_y")

    out_schema = "`tile_id` bigint, `part_val` double"

    def weigh(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        area_cache: dict[bytes, float] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            geoms_raw = list(pdf[geom_col])
            values = pdf[value_col].to_numpy()
            cxs = pdf["cell_x"].to_numpy()
            cys = pdf["cell_y"].to_numpy()
            tids = pdf["cell_id"].to_numpy()
            tiles, vals = [], []
            for i in range(len(pdf)):
                wkb = bytes(geoms_raw[i])
                g = W.parse_wkb(wkb)
                za = area_cache.get(wkb)
                if za is None:
                    za = area_cache[wkb] = M.area(g)
                if za <= 0.0:
                    continue
                tx0 = LON0 + float(cxs[i]) * w_deg
                ty0 = LAT0 + float(cys[i]) * h_deg
                clipped = M.clip_by_rect(g, tx0, ty0, tx0 + w_deg, ty0 + h_deg)
                if clipped is None:
                    continue
                ca = M.area(W.parse_wkb(clipped))
                if ca <= 0.0:
                    continue
                tiles.append(int(tids[i]))
                vals.append(float(values[i]) * ca / za)
            yield pd.DataFrame({"tile_id": tiles, "part_val": vals})

    parts = cand.mapInPandas(weigh, schema=out_schema)
    return parts.groupBy("tile_id").agg(F.sum("part_val").alias("value"))
