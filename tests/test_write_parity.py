"""One encoder per file format, two placements: ``write_<fmt>(pdf)`` runs
the part encoder once in process, ``write_<fmt>_distributed(df)`` once
per partition, and both go through the same stitch. So a one-partition
distributed write is byte-identical to the pandas writer, and a
multi-partition write reads back with the same schema and rows. The
inputs are built from ``fixtures.make_zones()`` with one column per
dtype."""

import datetime
import json
import warnings

import numpy as np
import pandas as pd
import pytest

from pyogrio_spark.fixtures import make_zones
from pyogrio_spark.io.flatgeobuf import read_flatgeobuf_pdf, write_flatgeobuf, write_flatgeobuf_distributed
from pyogrio_spark.io.geojson import geojson_info, read_geojson_pdf, write_geojson, write_geojson_distributed
from pyogrio_spark.io.shapefile import (
    _read_dbf_header,
    read_shapefile_pdf,
    write_shapefile,
    write_shapefile_distributed,
)


def _read_geojson(path: str):
    return read_geojson_pdf(path), geojson_info(path)


# format -> (pandas writer, distributed sink, pandas reader, file extensions, main first)
FORMATS = {
    "shp": (write_shapefile, write_shapefile_distributed, read_shapefile_pdf, (".shp", ".shx", ".dbf", ".prj", ".cpg")),
    "fgb": (write_flatgeobuf, write_flatgeobuf_distributed, read_flatgeobuf_pdf, (".fgb",)),
    "fgb_indexed": (
        lambda pdf, p, **kw: write_flatgeobuf(pdf, p, index_node_size=16, **kw),
        lambda df, p, **kw: write_flatgeobuf_distributed(df, p, index_node_size=16, **kw),
        read_flatgeobuf_pdf,
        (".fgb",),
    ),
    "geojson": (write_geojson, write_geojson_distributed, _read_geojson, (".geojson",)),
    "geojsonl": (write_geojson, write_geojson_distributed, _read_geojson, (".geojsonl",)),
}

# column -> (Spark type, values for row i of n); shapefiles have no binary field
DTYPES = {
    "n64": ("bigint", lambda n: np.arange(n, dtype=np.int64) * 1_000_003),
    "n32": ("int", lambda n: np.arange(n, dtype=np.int32) - 50),
    "n16": ("smallint", lambda n: (np.arange(n) % 300).astype(np.int16)),
    "nn64": ("bigint", lambda n: pd.array([None if i % 5 == 2 else i for i in range(n)], dtype="Int64")),
    "nn32": ("int", lambda n: pd.array([None if i % 4 == 1 else -i for i in range(n)], dtype="Int32")),
    "f32": ("float", lambda n: (np.arange(n) / 3.0).astype(np.float32)),
    "f64": ("double", lambda n: np.arange(n) / 7.0),
    "flag": ("boolean", lambda n: np.arange(n) % 3 == 0),
    "label": ("string", lambda n: [None if i % 6 == 0 else f"zone-{i}-é" for i in range(n)]),
    "day": ("date", lambda n: [datetime.date(2020, 1, 1) + datetime.timedelta(days=i) for i in range(n)]),
    "blob": ("binary", lambda n: [None if i % 9 == 4 else bytes([i % 256]) * (i % 5) for i in range(n)]),
}


def _frame(cols, fmt: str) -> tuple[pd.DataFrame, str]:
    """make_zones() rows with ``cols`` added -> (frame, Spark DDL)."""
    z = make_zones()
    pdf = z[["name", "geometry_wkb"]].copy()
    cols = [c for c in cols if not (c == "blob" and fmt == "shp")]
    for c in cols:
        pdf.insert(len(pdf.columns) - 1, c, DTYPES[c][1](len(pdf)))
    ddl = ", ".join(["name string", *(f"{c} {DTYPES[c][0]}" for c in cols), "geometry_wkb binary"])
    return pdf, ddl


def _files(path: str, exts) -> dict:
    base = path.rsplit(".", 1)[0]
    return {ext: open(base + ext, "rb").read() for ext in exts}


def _out(tmp_path, fmt: str, sub: str) -> str:
    """One output path per writer, same file name (a FlatGeobuf header
    carries the layer name, the file stem by default)."""
    (tmp_path / sub).mkdir()
    return str(tmp_path / sub / f"zones{FORMATS[fmt][3][0]}")


@pytest.mark.parametrize("col", list(DTYPES))
@pytest.mark.parametrize("fmt", list(FORMATS))
def test_one_partition_write_is_byte_identical(spark, tmp_path, fmt, col):
    if col == "blob" and fmt == "shp":
        pytest.skip("a DBF has no binary field")
    write, write_distributed, read, exts = FORMATS[fmt]
    pdf, ddl = _frame([col], fmt)
    ref, one = _out(tmp_path, fmt, "ref"), _out(tmp_path, fmt, "one")
    write(pdf, ref, crs=4326)
    write_distributed(spark.createDataFrame(pdf, schema=ddl).coalesce(1), one, crs=4326)
    assert _files(one, exts) == _files(ref, exts)
    back, _ = read(ref)
    assert len(back) == len(pdf) and col in back.columns


@pytest.mark.parametrize("fmt", list(FORMATS))
def test_multi_partition_write_reads_back_the_same(spark, tmp_path, fmt):
    write, write_distributed, read, _ = FORMATS[fmt]
    pdf, ddl = _frame(list(DTYPES), fmt)
    ref, multi = _out(tmp_path, fmt, "ref"), _out(tmp_path, fmt, "multi")
    write(pdf, ref)
    write_distributed(spark.createDataFrame(pdf, schema=ddl).repartition(5, "n64"), multi)
    want, want_info = read(ref)
    got, got_info = read(multi)
    assert list(got.columns) == list(want.columns)
    assert list(got.dtypes) == list(want.dtypes)
    assert got_info["fields"] == want_info["fields"]

    def rows(df):
        df = df.drop(columns=["fid"]).sort_values("n64").reset_index(drop=True)
        return [tuple(None if v is None or v != v else v for v in r) for r in df.itertuples(index=False)]

    assert rows(got) == rows(want)


def test_integer_columns_of_any_width_are_dbf_numbers(tmp_path):
    pdf, _ = _frame(["n64", "n32", "n16", "nn64", "nn32", "f32", "flag", "day"], "shp")
    path = str(tmp_path / "types.shp")
    write_shapefile(pdf, path)
    fields = {name: (ft, flen, fdec) for name, ft, flen, fdec in _read_dbf_header(str(tmp_path / "types.dbf"))[3]}
    for c in ("n64", "n32", "n16", "nn64", "nn32"):
        assert fields[c] == ("N", 18, 0), c
    assert fields["f32"] == ("N", 24, 8) and fields["flag"] == ("L", 1, 0) and fields["day"] == ("D", 8, 0)
    back, _ = read_shapefile_pdf(path)
    assert back["day"].tolist() == [d.isoformat() for d in pdf["day"]]
    assert back["nn32"].isna().tolist() == pdf["nn32"].isna().tolist()


def test_fgb_column_types_follow_the_dtype(tmp_path):
    from pyogrio_spark.io.flatgeobuf import (
        COL_BINARY, COL_BOOL, COL_DATETIME, COL_DOUBLE, COL_FLOAT, COL_INT, COL_LONG, COL_SHORT, COL_STRING,
        flatgeobuf_info,
    )

    pdf, _ = _frame(list(DTYPES), "fgb")
    path = str(tmp_path / "types.fgb")
    write_flatgeobuf(pdf, path)
    assert dict(flatgeobuf_info(path)["column_spec"]) == {
        "name": COL_STRING, "n64": COL_LONG, "n32": COL_INT, "n16": COL_SHORT, "nn64": COL_LONG,
        "nn32": COL_INT, "f32": COL_FLOAT, "f64": COL_DOUBLE, "flag": COL_BOOL, "label": COL_STRING,
        "day": COL_DATETIME, "blob": COL_BINARY,
    }
    back, _ = read_flatgeobuf_pdf(path)
    assert back["day"].tolist() == [f"{d.isoformat()}T00:00:00" for d in pdf["day"]]


def _write_warned(pdf, path) -> list[str]:
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        write_shapefile(pdf, path)
    return [str(w.message) for w in caught if "laundered" in str(w.message)]


def test_long_dbf_name_is_cut_to_ten_bytes(tmp_path):
    pdf = make_zones()[["pop_est", "geometry_wkb"]].rename(columns={"pop_est": "population_estimate"})
    path = str(tmp_path / "long.shp")
    assert _write_warned(pdf, path) == ["Normalized/laundered field name: 'population_estimate' to 'population'"]
    back, info = read_shapefile_pdf(path)
    assert info["fields"] == ["population"]
    np.testing.assert_allclose(back["population"], pdf["population_estimate"])


def test_append_matches_laundered_names(tmp_path):
    pdf = make_zones()[["pop_est", "geometry_wkb"]].rename(columns={"pop_est": "population_estimate"})
    path = str(tmp_path / "append.shp")
    with pytest.warns(RuntimeWarning, match="laundered"):
        write_shapefile(pdf, path)
        write_shapefile(pdf, path, append=True)
    back, _ = read_shapefile_pdf(path)
    np.testing.assert_allclose(back["population"], np.tile(pdf["population_estimate"], 2))


def test_colliding_dbf_names_stay_unique(spark, tmp_path):
    z = make_zones()
    pdf = pd.DataFrame({
        "population_2020": np.arange(len(z), dtype=np.int64),
        "population_2021": np.arange(len(z), dtype=np.int64) * 2,
        "Population": np.arange(len(z), dtype=np.int64) * 3,
        "geometry_wkb": z["geometry_wkb"],
    })
    path = str(tmp_path / "dup.shp")
    assert _write_warned(pdf, path) == [
        "Normalized/laundered field name: 'population_2020' to 'population'",
        "Normalized/laundered field name: 'population_2021' to 'populati_1'",
        "Normalized/laundered field name: 'Population' to 'Populati_2'",
    ]
    back, info = read_shapefile_pdf(path)
    assert info["fields"] == ["population", "populati_1", "Populati_2"]
    assert back["population"].tolist() == pdf["population_2020"].tolist()
    assert back["populati_1"].tolist() == pdf["population_2021"].tolist()
    assert back["Populati_2"].tolist() == pdf["Population"].tolist()
    # the distributed sink launders through the same typing function
    one = str(tmp_path / "one.shp")
    df = spark.createDataFrame(pdf, schema="population_2020 bigint, population_2021 bigint, "
                                           "Population bigint, geometry_wkb binary")
    with pytest.warns(RuntimeWarning, match="laundered"):
        write_shapefile_distributed(df.coalesce(1), one)
    exts = (".shp", ".shx", ".dbf")
    assert _files(one, exts) == _files(path, exts)


def test_non_ascii_dbf_names_are_utf8_cut_at_a_character(tmp_path):
    z = make_zones()
    pdf = pd.DataFrame({"größe": np.arange(len(z)), "ünïcödé_nämé": z["name"], "geometry_wkb": z["geometry_wkb"]})
    path = str(tmp_path / "utf8.shp")
    # ü, ï, ö are 2 bytes each: 'ünïcöd' is 9 bytes, and 'é' would make 11
    assert _write_warned(pdf, path) == ["Normalized/laundered field name: 'ünïcödé_nämé' to 'ünïcöd'"]
    back, info = read_shapefile_pdf(path)
    assert info["fields"] == ["größe", "ünïcöd"]
    assert back["ünïcöd"].tolist() == z["name"].tolist()


def test_pandas_writers_need_no_spark(monkeypatch, tmp_path):
    import pyogrio_spark.compat as C

    def boom(spark=None):  # pragma: no cover - would fail the test
        raise AssertionError("the pandas writers must not need Spark")

    monkeypatch.setattr(C, "_spark", boom)
    pdf, _ = _frame(["n32", "label"], "shp")
    for ext, read in ((".shp", read_shapefile_pdf), (".fgb", read_flatgeobuf_pdf)):
        path = str(tmp_path / f"nospark{ext}")
        C.write_dataframe(pdf, path, geometry_column="geometry_wkb")
        back, _ = read(path)
        assert back["n32"].tolist() == pdf["n32"].tolist()


def test_distributed_shapefile_sink_is_one_job_one_python_node(spark, tmp_path, monkeypatch):
    """The convert sink's plan: one job, one stage, one MapInPandas, no
    Exchange."""
    pdf, ddl = _frame(["n64", "label"], "shp")
    # three partitions without an exchange in the sink's input plan
    df = spark.createDataFrame(pdf, schema=ddl).repartition(3).localCheckpoint()
    plans = []
    map_in_pandas = type(df).mapInPandas

    def spy(self, *args, **kwargs):
        out = map_in_pandas(self, *args, **kwargs)
        plans.append(out)
        return out

    monkeypatch.setattr(type(df), "mapInPandas", spy)
    sc, group = spark.sparkContext, "shapefile-sink-plan"
    sc.setJobGroup(group, group)
    try:
        write_shapefile_distributed(df, str(tmp_path / "plan.shp"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1
    assert len(plans) == 1
    plan = plans[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and "Exchange" not in plan
    assert read_shapefile_pdf(str(tmp_path / "plan.shp"))[1]["features"] == len(pdf)


@pytest.mark.parametrize("ext", [".shp", ".fgb"])
def test_convert_geojsonseq_writes_the_attributes(spark, tmp_path, ext):
    from pyogrio_spark.io.dispatch import convert_dataset

    src = tmp_path / "three.geojsonl"
    src.write_text("".join(
        json.dumps({"type": "Feature", "properties": {"name": f"p{i}", "v": i},
                    "geometry": {"type": "Point", "coordinates": [float(i), 1.0]}}) + "\n"
        for i in range(3)
    ))
    dst = str(tmp_path / f"out{ext}")
    info = convert_dataset(spark, str(src), dst)
    assert info["fields"] == ["name", "v"] and info["features"] == 3
    back, _ = (read_shapefile_pdf if ext == ".shp" else read_flatgeobuf_pdf)(dst)
    assert sorted(back["name"]) == ["p0", "p1", "p2"] and sorted(back["v"]) == [0, 1, 2]
