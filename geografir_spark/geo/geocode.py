"""Deterministic page-text geocoding — the engine's entry into cell space.

Semantics (per BASELINE.json ``input_hint`` / ``north_star``: pages are
"geocoded from extracted text"):

1. **regex path** — the first ``lat, lon`` decimal pair in the text
   (pattern ``(-?\\d{1,2}\\.\\d+)\\s*,\\s*(-?\\d{1,3}\\.\\d+)``) is taken as
   (lat, lon) when it passes the validity check |lat| ≤ 90 ∧ |lon| ≤ 180.
2. **fallback path** — rows with no valid coordinate pair get a
   deterministic pseudo-coordinate derived from an integer ``seed`` column
   (the document/url key) via pure modular arithmetic, so the DuckDB oracle
   reproduces it exactly. The multipliers are classic LCG constants; the
   moduli are primes below 1e6 so products stay far inside int64.

The whole op is native SQL (regexp_extract + arithmetic) — no UDF. The text
column itself is only read, never rewritten: the per-row invariant
"byte-identical extracted text per url" holds trivially.

Dialect note: Spark SQL string literals eat one level of backslashes, DuckDB
does not — the regex literal is the single dialect-dependent fragment in the
engine.
"""

from __future__ import annotations

_LAT_LON_PATTERN = r"(-?\d{1,2}\.\d+)\s*,\s*(-?\d{1,3}\.\d+)"

# fallback pseudo-coordinate constants (do not change: pinned by tests and
# by recorded oracle hashes)
_P_LON, _A_LON = 999983, 40503
_P_LAT, _A_LAT = 999979, 69069


def _pattern_literal(dialect: str) -> str:
    if dialect == "spark":
        return _LAT_LON_PATTERN.replace("\\", "\\\\")
    return _LAT_LON_PATTERN


def fallback_lon_sql(seed_expr: str) -> str:
    return (
        f"(CAST((((({seed_expr}) % {_P_LON}) * {_A_LON}) % 360000) AS DOUBLE)"
        f" / 1000.0 - 180.0)"
    )


def fallback_lat_sql(seed_expr: str) -> str:
    return (
        f"(CAST((((({seed_expr}) % {_P_LAT}) * {_A_LAT}) % 180000) AS DOUBLE)"
        f" / 1000.0 - 90.0)"
    )


def geocode_steps(
    text_expr: str,
    seed_expr: str,
    dialect: str,
    lon_out: str = "lon",
    lat_out: str = "lat",
) -> list[dict[str, str]]:
    """Step list adding (lon, lat) columns; dialect ∈ {'spark', 'duckdb'}."""
    pat = _pattern_literal(dialect)
    steps: list[dict[str, str]] = [
        {
            "__glat": (
                f"CAST(nullif(regexp_extract({text_expr}, '{pat}', 1), '') AS DOUBLE)"
            ),
            "__glon": (
                f"CAST(nullif(regexp_extract({text_expr}, '{pat}', 2), '') AS DOUBLE)"
            ),
        },
        {
            "__ok": (
                "(__glat IS NOT NULL AND __glon IS NOT NULL"
                " AND abs(__glat) <= 90.0 AND abs(__glon) <= 180.0)"
            ),
        },
        {
            lon_out: (
                f"CASE WHEN __ok THEN __glon ELSE {fallback_lon_sql(seed_expr)} END"
            ),
            lat_out: (
                f"CASE WHEN __ok THEN __glat ELSE {fallback_lat_sql(seed_expr)} END"
            ),
        },
    ]
    return steps


def with_geocode(df, text_col: str, seed_col: str, lon_out: str = "lon", lat_out: str = "lat"):
    """Spark side: add (lon, lat) via the shared steps (native SQL, no UDF).

    Optimizer note: joins on a downstream ``cell`` column infer
    ``isnotnull(cell)`` predicates (constraint propagation) that get pushed
    below these projections; the substitution re-inlines this
    regexp-bearing projection ~2^k times (each Morton spread step references
    its input twice) — measured 10-50× slower on the PIP join. The session
    factory therefore disables ``spark.sql.constraintPropagation.enabled``
    (see session.py); a nondeterministic barrier was rejected because it
    knocks the projection out of whole-stage codegen (~100× slower).

    A filter on a derived cell/part column is pushed below these
    projections too: a long ``isin`` IN-list over the inlined regexp +
    Morton expression outgrows whole-stage codegen's 64 KB method limit and
    the stage runs interpreted. Select key sets with a broadcast semi/anti
    join instead (``plans.lineage.pending_rows``).
    """
    from geografir_spark.geo import cells

    return cells.apply_steps(
        df, geocode_steps(text_col, seed_col, "spark", lon_out, lat_out)
    )
