"""Pre-flight of the driver's correctness gate: run every oracle-backed
query on Spark and its SQL on DuckDB at sf0.01, compare row count +
column names + values (rows sorted, columns aligned by name)."""

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyogrio_spark.queries import ORACLES, QUERIES

SF = "/root/testdata/sf0.01"
TABLES = ["orders", "documents"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        if "datetime" in str(pdf[c].dtype):
            pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, ddb, name):
    got = _normalize(QUERIES[name](spark, SF).toPandas())
    want = _normalize(ddb.sql(ORACLES[name]).df())
    assert list(got.columns) == list(want.columns), f"{name}: column mismatch {got.columns} vs {want.columns}"
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    for c in got.columns:
        # The driver hashes canonicalized values, so an int64 Spark column
        # vs a float64 oracle column (e.g. un-cast DuckDB HUGEINT sums)
        # hash-mismatches even when every value is equal. Reproduce that
        # strictness here: dtype KIND must agree before values are compared.
        assert got[c].dtype.kind == want[c].dtype.kind, (
            f"{name}.{c}: dtype-kind mismatch {got[c].dtype} vs {want[c].dtype}"
            " (would hash-fail in the driver even with equal values)"
        )
        if np.issubdtype(got[c].dtype, np.floating) or np.issubdtype(want[c].dtype, np.floating):
            a = got[c].to_numpy(dtype=np.float64)
            b = want[c].to_numpy(dtype=np.float64)
            both_nan = np.isnan(a) & np.isnan(b)
            close = np.isclose(a, b, rtol=1e-9, atol=1e-12) | both_nan
            assert close.all(), f"{name}.{c}: {np.count_nonzero(~close)} value mismatches; first: {a[~close][:3]} vs {b[~close][:3]}"
        else:
            eq = got[c].to_numpy() == want[c].to_numpy()
            assert eq.all(), f"{name}.{c}: {np.count_nonzero(~eq)} mismatches; first got={got[c][~eq].iloc[:3].tolist()} want={want[c][~eq].iloc[:3].tolist()}"


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


def test_bench_headline_names_exist():
    # a stale HEADLINE name would otherwise surface only as a KeyError
    # in a bench run
    import bench

    assert set(bench.HEADLINE) <= set(QUERIES)


def test_no_orphaned_query_or_oracle():
    # a q_* function or ORACLE_* string left behind when its registry
    # entry goes would otherwise pile up unnoticed
    import ast

    import pyogrio_spark.queries as q

    tree = ast.parse(open(q.__file__).read())
    q_funcs = {n.name for n in tree.body if isinstance(n, ast.FunctionDef) and n.name.startswith("q_")}
    oracle_names = {
        t.id
        for n in tree.body
        if isinstance(n, ast.Assign)
        for t in n.targets
        if isinstance(t, ast.Name) and t.id.startswith("ORACLE_")
    }
    registry = next(
        n.value for n in tree.body if isinstance(n, ast.Assign) and getattr(n.targets[0], "id", None) == "ORACLES"
    )
    used = {x.id for x in ast.walk(registry) if isinstance(x, ast.Name)}
    assert q_funcs - {f.__name__ for f in QUERIES.values()} == set()
    assert oracle_names - used == set()
