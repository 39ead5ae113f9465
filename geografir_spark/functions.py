"""SQL-facing function registry: the engine's operators as Spark SQL
scalar functions (``CREATE TEMPORARY FUNCTION ... RETURN <expr>``,
Spark 4 SQL UDFs), so a SQL-only user can write

    SELECT cell_encode(lon, lat, 9) AS cell, doc_fingerprint(text) ...

without touching the DataFrame API. Every body is pure SQL folded from the
SAME fragment generators the DataFrame operators use (geo.cells,
operators.text, sources.locations), so both surfaces share one semantics
definition. SQL-UDF bodies are inlined by the analyzer; repeated subterms
from the fold (the Morton spread references each prior step twice) are
deduplicated at runtime by codegen subexpression elimination.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from geografir_spark.geo.cells import (
    LAT_MIN,
    LAT_SPAN,
    LON_MIN,
    LON_SPAN,
    RES_BITS,
    RES_MASK,
    interleave_steps,
)


def _fold(steps: "list[dict[str, str]]", out: str) -> str:
    """Fold a step chain into one expression by textual substitution
    (longest names first so __xs1 never corrupts __xs10)."""
    env: dict[str, str] = {}
    for st in steps:
        for name, expr in st.items():
            for k in sorted(env, key=len, reverse=True):
                expr = expr.replace(k, f"({env[k]})")
            env[name] = expr
    return env[out]


def _axis_index_param(coord: str, *, lat: bool) -> str:
    """axis_index_sql with the resolution as the SQL parameter ``res``
    instead of a baked-in literal (same literal structure otherwise)."""
    origin, span = (LAT_MIN, LAT_SPAN) if lat else (LON_MIN, LON_SPAN)
    n = "CAST(shiftleft(CAST(1 AS BIGINT), res) AS DOUBLE)"
    return (
        f"least(greatest(CAST(floor((({coord}) - ({origin})) / {span} * {n})"
        f" AS BIGINT), 0), shiftleft(CAST(1 AS BIGINT), res) - 1)"
    )


def _cell_encode_body() -> str:
    steps = interleave_steps(
        _axis_index_param("lon", lat=False),
        _axis_index_param("lat", lat=True),
        "res",
    )
    return _fold(steps, "cell")


def register_sql_functions(spark: SparkSession) -> "list[str]":
    """Register the engine's SQL functions in the session; returns names."""
    from geografir_spark.operators import text as textops
    from geografir_spark.sources import locations as loc

    defs = {
        "cell_encode": (
            "(lon DOUBLE, lat DOUBLE, res INT) RETURNS BIGINT",
            _cell_encode_body(),
        ),
        "cell_res": ("(cell BIGINT) RETURNS INT", f"CAST(cell & {RES_MASK} AS INT)"),
        "cell_parent": (
            "(cell BIGINT, target INT) RETURNS BIGINT",
            f"((((cell >> {RES_BITS}) >> (2 * ((cell & {RES_MASK}) - target)))"
            f" << {RES_BITS}) | target)",
        ),
        "hash60": (
            "(s STRING) RETURNS BIGINT",
            textops.hash60_expr("s", "spark"),
        ),
        "doc_fingerprint": (
            "(text STRING) RETURNS STRING",
            textops.fingerprint_expr("text", "spark"),
        ),
        "punct_ratio": (
            "(text STRING) RETURNS DOUBLE",
            textops.punct_ratio_expr("text", "spark"),
        ),
        "stopword_ratio": (
            "(text STRING) RETURNS DOUBLE",
            textops.stopword_ratio_expr("text", "spark"),
        ),
        "n_tokens": (
            "(text STRING) RETURNS INT",
            f"CAST({textops.n_tokens_expr('text', 'spark')} AS INT)",
        ),
        "s3_uri": (
            "(bucket STRING, path STRING) RETURNS STRING",
            loc.s3_uri_expr("bucket", "path"),
        ),
        "is_directory": (
            "(path STRING) RETURNS BOOLEAN",
            loc.is_directory_expr("path"),
        ),
        "path_extend": (
            "(path STRING, part STRING) RETURNS STRING",
            loc.extend_expr("path", "part"),
        ),
    }
    for name, (sig, body) in defs.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{sig} RETURN {body}")
    return list(defs)
