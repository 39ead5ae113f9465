"""Driver-mimicking correctness gate: run every queries() entry on Spark and
its oracle_sql() on DuckDB at sf0.01; compare row count, column names, and
exact values (order-insensitive).

This is a strict superset of the driver's value-hash check — if this passes,
CORRECTNESS_r{N}.json should be all-green.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _duck(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    out = con.execute(sql).fetchdf()
    con.close()
    return out


def _kind(s: pd.Series) -> str:
    """Numeric *kind* of a column as the driver's value-hash sees it.

    DuckDB HUGEINT (the type of sum(BIGINT)) fetches into pandas as
    float64, so an un-cast integer sum in the oracle shows up here as
    kind 'f' against Spark's 'i' — exactly the mismatch that fails the
    driver's hash. Kind must therefore match BEFORE any coercion; only
    widths within a kind are normalized for the value comparison.
    """
    if pd.api.types.is_datetime64_any_dtype(s):
        return "M"
    if pd.api.types.is_float_dtype(s):
        return "f"
    if pd.api.types.is_integer_dtype(s):
        return "i"
    if pd.api.types.is_bool_dtype(s):
        return "b"
    return "O"


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _compare(name: str, spark_df, duck_df: pd.DataFrame):
    raw_got = spark_df.toPandas()
    raw_exp = duck_df
    # Dtype-KIND check first, pre-coercion: the round-1 version coerced all
    # ints to int64 before comparing, which hid 7 driver hash failures
    # (oracle HUGEINT sums fetching as float64). See VERDICT.md r1 #1.
    for c in sorted(set(raw_got.columns) & set(raw_exp.columns)):
        kg, ke = _kind(raw_got[c]), _kind(raw_exp[c])
        assert kg == ke, (
            f"{name}.{c}: dtype kind mismatch spark={raw_got[c].dtype} "
            f"duckdb={raw_exp[c].dtype} — the driver's value hash will differ; "
            f"CAST the oracle expression (HUGEINT sums need CAST(... AS BIGINT))"
        )
    got = _normalize(raw_got)
    exp = _normalize(raw_exp)
    assert list(got.columns) == list(exp.columns), (
        f"{name}: columns {list(got.columns)} != {list(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: rows {len(got)} != {len(exp)}"
    for c in got.columns:
        if pd.api.types.is_float_dtype(exp[c]):
            a, b = got[c].to_numpy(), exp[c].to_numpy()
            same = (a == b) | (pd.isna(a) & pd.isna(b))
            assert same.all(), f"{name}.{c}: float mismatch at {(~same).argmax()}: {a[(~same)][:3]} vs {b[(~same)][:3]}"
        else:
            pd.testing.assert_series_equal(got[c], exp[c], check_names=False, obj=f"{name}.{c}")


def _all_query_names():
    from geografir_spark.queries import QUERIES

    return [n for n, q in QUERIES.items() if q.oracle is not None]


@pytest.mark.parametrize("name", _all_query_names())
def test_query_matches_oracle(spark, name):
    """Also checks that the query leaves the session as it found it: no
    cached frame in the ``CacheManager`` and no new catalog table, so a
    caller's later plan never silently reads a query's leftovers."""
    from geografir_spark.queries import QUERIES, resolve_oracle

    q = QUERIES[name]
    spark.catalog.clearCache()
    tables = spark.catalog.listTables()
    _compare(name, q.fn(spark, SF_DIR), _duck(resolve_oracle(q)))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left a cached frame on the session"
    )
    assert spark.catalog.listTables() == tables


def test_entry_smoke(spark):
    import importlib
    import sys

    sys.path.insert(0, "/root/repo")
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) > 0
    # hot path must be Python-free
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
