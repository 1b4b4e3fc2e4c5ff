"""Edge cases of the closed-box bbox refine, through ``read_flatgeobuf``
(both placements) and ``read_table``: a refine that lets envelopes decide
must keep exactly the rows the exact kernel ``batch_intersects_box``
keeps. Box (0, 0, 10, 10)."""

import numpy as np
import pandas as pd
import pytest

from pyogrio_spark.geometry import wkb as W
from pyogrio_spark.geometry.predicates import batch_intersects_box
from pyogrio_spark.io.flatgeobuf import read_flatgeobuf, write_flatgeobuf
from pyogrio_spark.io.reader import _box_keep, read_table

BOX = (0.0, 0.0, 10.0, 10.0)


def _rect(x0, y0, x1, y1):
    return np.array([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)], dtype=float)


# L whose envelope (5, -5, 20, 20) covers the box's (10, 10) corner while
# both arms stay outside the box
L_SHAPE = np.array([(11, -5), (20, -5), (20, 20), (5, 20), (5, 11), (11, 11), (11, -5)], dtype=float)

# name -> (WKB, kept by the closed intersects)
CASES = {
    "inside": (W.encode_polygon([_rect(2, 2, 3, 3)]), True),
    "disjoint": (W.encode_polygon([_rect(30, 30, 31, 31)]), False),
    "touches_edge_only": (W.encode_polygon([_rect(10, 2, 12, 4)]), True),
    "touches_corner_only": (W.encode_polygon([_rect(10, 10, 11, 11)]), True),
    "l_shape_misses": (W.encode_polygon([L_SHAPE]), False),
    "swallows_box": (W.encode_polygon([_rect(-5, -5, 15, 15)]), True),
    "hole_around_box": (W.encode_polygon([_rect(-5, -5, 15, 15), _rect(-1, -1, 11, 11)]), False),
    "line_crosses": (W.encode_linestring([(-5.0, 5.0), (15.0, 5.0)]), True),
    "line_straddles_misses": (W.encode_linestring([(-5.0, 12.0), (12.0, 12.0), (12.0, -3.0)]), False),
    "multipolygon_one_part_in": (W.encode_multipolygon([[_rect(30, 30, 31, 31)], [_rect(9, 9, 12, 12)]]), True),
    "point_on_edge": (W.encode_point(10.0, 5.0), True),
    "point_outside": (W.encode_point(10.000001, 5.0), False),
    "point_z_inside": (W.encode_point(1.0, 1.0, 50.0), True),
    "null": (None, False),
}
# a FlatGeobuf writer cannot write these; the Spark table scan gets them
EMPTIES = {
    "empty_polygon": (b"\x01\x03\x00\x00\x00\x00\x00\x00\x00", False),
    "empty_linestring": (W.encode_linestring(np.empty((0, 2))), False),
}


def _names(cases, kept=True):
    return sorted(n for n, (_, k) in cases.items() if k == kept)


def test_exact_kernel_flags():
    cases = {**CASES, **EMPTIES}
    geoms = [g for g, _ in cases.values()]
    want = np.array([k for _, k in cases.values()])
    assert (batch_intersects_box(*BOX, geoms) == want).all()
    assert (_box_keep(BOX, np.array(geoms, dtype=object)) == want).all()


@pytest.mark.parametrize("distributed", [False, True])
def test_read_flatgeobuf_bbox_keeps_exact_rows(spark, tmp_path, distributed):
    pdf = pd.DataFrame({"name": list(CASES), "geometry_wkb": [g for g, _ in CASES.values()]})
    path = str(tmp_path / "edges.fgb")
    write_flatgeobuf(pdf, path)
    got = read_flatgeobuf(spark, path, distributed=distributed, bbox=BOX).select("name").collect()
    assert sorted(r["name"] for r in got) == _names(CASES)


def test_read_table_bbox_keeps_exact_rows(spark):
    cases = {**CASES, **EMPTIES}
    df = spark.createDataFrame(
        pd.DataFrame({"name": list(cases), "geometry_wkb": [g for g, _ in cases.values()]}),
        schema="name string, geometry_wkb binary",
    )
    got = read_table(spark, df, bbox=BOX).select("name").collect()
    assert sorted(r["name"] for r in got) == _names(cases)
