import numpy as np

from pyogrio_spark.fixtures import make_datetimes, make_geom_zoo, make_list_fields, make_nulls_matrix
from pyogrio_spark.functions.datetimes import parse_iso_datetime_utc, truncate_to_ms
from pyogrio_spark.geometry import wkb as W


SQ = np.array([(0.0, 0.0), (1, 0), (1, 1), (0, 1), (0, 0)])


def _types(*wkbs):
    return W.layer_type(map(W.geom_type_name, wkbs))


def test_layer_type_promotes_polygon_mix():
    """A Polygon/MultiPolygon mix is a MultiPolygon layer; nulls do not
    count (reference geopandas.py:700-740)."""
    assert _types(W.encode_polygon([SQ]), W.encode_multipolygon([[SQ], [SQ + 5]]), None) == "MultiPolygon"
    assert _types(W.encode_multipolygon([[SQ]]), W.encode_polygon([SQ])) == "MultiPolygon"


def test_infer_single_and_unknown():
    assert _types(W.encode_point(1, 2), W.encode_point(3, 4)) == "Point"
    assert _types(W.encode_point(1, 2), W.encode_polygon([SQ])) == "Unknown"
    assert _types() == _types(None) == "Unknown"
    # Z compares as the base type and is added to a known type only
    sqz = np.column_stack([SQ, np.ones(len(SQ))])
    assert _types(W.encode_polygon([sqz]), W.encode_multipolygon([[SQ]])) == "MultiPolygon Z"
    assert _types(W.encode_point(1, 2, 3), W.encode_point(1, 2)) == "Point Z"
    assert _types(W.encode_point(1, 2, 3), W.encode_linestring(SQ)) == "Unknown"
    assert _types(W.encode_linestring(SQ), W.encode_multilinestring([SQ])) == "Unknown"


def test_geom_zoo_types_roundtrip(spark):
    zoo = make_geom_zoo()
    for _, row in zoo.iterrows():
        if row.geometry_wkb is None:
            continue
        assert W.geom_type_name(row.geometry_wkb) == row.expected_type, row.case


def test_datetime_parse_utc_and_ms(spark):
    dt = make_datetimes()
    df = spark.createDataFrame(dt[["dt_tz_iso", "dt_long_ago"]])
    out = df.select(parse_iso_datetime_utc("dt_tz_iso").alias("utc")).collect()
    # -05:00 offset normalizes to UTC (reference mixed_offsets_as_utc default)
    assert str(out[0]["utc"]) == "2020-01-01 14:00:00.123000"
    sub_ms = spark.createDataFrame([("2020-01-01 00:00:00.123456",)], "s string").select(
        truncate_to_ms("s").alias("t")
    )
    assert str(sub_ms.head()["t"]).endswith("00.123000")


def test_nulls_and_list_fixtures_load(spark):
    nulls = make_nulls_matrix()
    df = spark.createDataFrame(
        nulls,
        schema=(
            "col_bool boolean, col_int8 short, col_int16 short, col_int32 int, col_int64 long, "
            "col_uint8 short, col_uint16 int, col_uint32 long, col_uint64 long, "
            "col_float32 float, col_float64 double, geometry_wkb binary"
        ),
    )
    back = df.toPandas()
    assert back.iloc[3].isna().drop("geometry_wkb").all()  # the all-null row
    assert back.col_int64[2] == 2**63 - 1
    lists = spark.createDataFrame(
        make_list_fields(),
        schema=(
            "int int, list_int array<int>, list_double array<double>, list_string array<string>, "
            "list_int_with_null array<int>, list_string_with_null array<string>, geometry_wkb binary"
        ),
    )
    lp = lists.toPandas()
    assert lp.list_int[3] == [] or len(lp.list_int[3]) == 0
    assert lp.list_int[4] is None
    assert list(lp.list_string[1]) == ["", "d"]
    assert lp.list_int_with_null[0][1] is None or np.isnan(lp.list_int_with_null[0][1])
