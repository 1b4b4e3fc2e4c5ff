"""Range (bbox-interval) join.

The reference's bbox filter is a single-box special case
(/root/reference/pyogrio/_io.pyx:862-884, OGR_L_SetSpatialFilterRect);
the join form pairs every left row with every query box whose envelope
intersects it. Plan: explode each query box into covering cells
(pure arithmetic), broadcast-join on cell_id, then refine with the
plain conjunctive interval predicate — all JVM-side, no UDF at all,
since envelope-vs-envelope intersects needs no geometry parsing.

Cells de-duplicate the multi-cell boxes with a final dropDuplicates on
the pair key (a box spanning c cells would otherwise emit c copies).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyogrio_spark.index.grid import cover_bboxes

DEFAULT_RES = 7


def boxes_cell_cover(
    spark: SparkSession,
    boxes: pd.DataFrame,
    res: int = DEFAULT_RES,
    box_key: str = "box_id",
) -> DataFrame:
    box, cells = cover_bboxes(boxes.xmin, boxes.ymin, boxes.xmax, boxes.ymax, res)
    key_is_int = pd.api.types.is_integer_dtype(boxes[box_key])
    keys = boxes[box_key].to_numpy()[box]
    pdf = pd.DataFrame({"cell_id": cells, box_key: keys if key_is_int else keys.astype(str)})
    for c in ("xmin", "ymin", "xmax", "ymax"):
        pdf["b" + c] = boxes[c].to_numpy(dtype=np.float64)[box]
    ktype = "bigint" if key_is_int else "string"
    return spark.createDataFrame(
        pdf, schema=f"cell_id bigint, {box_key} {ktype}, bxmin double, bymin double, bxmax double, bymax double"
    )


def bbox_range_join(
    left: DataFrame,
    box_cover: DataFrame,
    box_key: str = "box_id",
    left_key: str = "doc_id",
    keep_left_cols: list[str] | None = None,
) -> DataFrame:
    """left (with cell_id + envelope cols) ⋈ query boxes, intersects
    semantics on envelopes. Pure equi-join + comparisons."""
    keep = keep_left_cols or [left_key]
    joined = left.join(F.broadcast(box_cover), on="cell_id", how="inner").filter(
        (F.col("xmin") <= F.col("bxmax"))
        & (F.col("xmax") >= F.col("bxmin"))
        & (F.col("ymin") <= F.col("bymax"))
        & (F.col("ymax") >= F.col("bymin"))
    )
    return joined.select(*keep, box_key).dropDuplicates([left_key, box_key])
