"""Query registry: every engine operator exposed as a (spark_fn, oracle_sql)
pair for the driver's correctness gate.

Each entry's Spark callable takes ``(spark, sf_dir)`` and returns a
DataFrame; the oracle entry is ANSI SQL DuckDB runs against the same parquet
tables (pre-registered views). Column names are aliased identically on both
sides — the driver sorts columns by name before hashing values.

Determinism contract: every floating-point value that reaches an output (or
an ORDER BY) is produced by the *same literal arithmetic expression* on both
engines (IEEE-754 doubles, identical op order), so value hashes match
exactly. Join/group keys are integer cell ids — never raw doubles.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geografir_spark.geo import cells, geocode
from geografir_spark.sources.pages import (
    load_pages,
    load_table,
    pages_select_sql,
    table_sql,
)

RES = 9          # default tiling resolution (512×512 world grid — mirrors the
                 # reference's 512-px block constant, profiles.py:81)
ROLLUP_RES = 4   # coarse resolution for hierarchy rollups


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    # DuckDB SQL, a zero/one-arg callable returning it (oracles that must
    # train/derive constants from the sf0.01 data first — e.g. IVF
    # centroids), or None → rows-only check
    oracle: "Optional[str | Callable[..., str]]"


QUERIES: dict[str, QueryDef] = {}


def resolve_oracle(q: QueryDef) -> Optional[str]:
    """The oracle SQL string for a query (invoking lazy generators)."""
    return q.oracle() if callable(q.oracle) else q.oracle


def register(name: str, oracle: "Optional[str | Callable[..., str]]"):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # ship the package to executor Python workers (no-op when
            # already shipped or when running under spark-submit --py-files)
            from geografir_spark.shipping import ensure_shipped

            ensure_shipped(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = QueryDef(wrapped, oracle)
        return fn

    return deco


def _geocoded_pages(spark: SparkSession, sf_dir: str, res: int = RES) -> DataFrame:
    """pages → (lon, lat) → cell. Shared head of most geo queries."""
    p = load_pages(spark, sf_dir)
    p = geocode.with_geocode(p, "text", "page_id")
    return cells.with_cell(p, "lon", "lat", res)


def _geocoded_base_sql(dialect: str, res: int = RES) -> str:
    """Dialect-parameterized SQL producing the geocoded+celled pages
    relation (geocode_steps carries the dialect split; encode_steps is
    pure shared bit math)."""
    base = pages_select_sql("documents")
    q = cells.nested_sql(base, geocode.geocode_steps("text", "page_id", dialect))
    return cells.nested_sql(q, cells.encode_steps("lon", "lat", res))


def _geocoded_pages_oracle_base(res: int = RES) -> str:
    """DuckDB SQL producing the identical geocoded+celled pages relation."""
    return _geocoded_base_sql("duckdb", res)


# ---------------------------------------------------------------------------
# Flagship: spatial tiling of the pages table
# ---------------------------------------------------------------------------

@register(
    "pages_per_cell",
    f"""
    SELECT cell, count(*) AS n_pages, count(DISTINCT url) AS n_urls,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM ({_geocoded_pages_oracle_base()})
    GROUP BY cell
    """,
)
def q_pages_per_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile the pages table: geocode → cell_encode(res 9) → per-cell stats.

    The engine half of the north rule's "spatial-join + H3 tiling
    throughput" metric. Whole pipeline is native Catalyst (regexp + bit
    math + hash agg with partial aggregation map-side).
    """
    p = _geocoded_pages(spark, sf_dir)
    return p.groupBy("cell").agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("url").alias("n_urls"),
        F.sum("n_chars").alias("total_chars"),
    )


_GEOHASH_P = 4


def _geohash_topk_sql(dialect: str) -> str:
    base = _geocoded_base_sql(dialect)
    gh = cells.nested_sql(base, cells.geohash_steps("lon", "lat", _GEOHASH_P))
    return (
        f"SELECT geohash, count(*) AS n_pages FROM ({gh}) GROUP BY geohash"
        " ORDER BY n_pages DESC, geohash LIMIT 20"
    )


@register("geohash_topk", _geohash_topk_sql("duckdb"))
def q_geohash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 geohash-4 buckets of the geocoded pages — the interchange
    tiling key (geo/cells.py geohash_steps: shared-dialect bit math +
    base-32 char assembly, validated against the canonical u4pruy/ezs42
    values); same map-side partial-agg + TakeOrdered shape as the Morton
    flagship."""
    return _sql_query(spark, sf_dir, _geohash_topk_sql("spark"))


@register(
    "cell_rollup",
    f"""
    SELECT {cells.parent_sql('cell', ROLLUP_RES)} AS parent_cell,
           count(*) AS n_pages
    FROM ({_geocoded_pages_oracle_base()})
    GROUP BY parent_cell
    """,
)
def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup: fine cells → res-4 ancestors via pure bit math."""
    p = _geocoded_pages(spark, sf_dir)
    p = cells.with_parent(p, "cell", ROLLUP_RES)
    return p.groupBy("parent_cell").agg(F.count("*").alias("n_pages"))


@register(
    "hot_cells_topk",
    f"""
    SELECT cell, count(*) AS n_pages
    FROM ({_geocoded_pages_oracle_base()})
    GROUP BY cell
    ORDER BY n_pages DESC, cell ASC
    LIMIT 20
    """,
)
def q_hot_cells_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k hot cells (skew histogram head). TakeOrderedAndProject —
    no full sort. Ties broken by cell id for determinism."""
    p = _geocoded_pages(spark, sf_dir)
    return (
        p.groupBy("cell")
        .agg(F.count("*").alias("n_pages"))
        .orderBy(F.desc("n_pages"), F.asc("cell"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Envelope aggregation (lifted BoundingBox.from_geometry, reference
# geometry/src/geometry/bounding_box.py:138-169: bbox == per-axis min/max)
# ---------------------------------------------------------------------------

_CUST_LON = geocode.fallback_lon_sql("c_custkey")
_CUST_LAT = geocode.fallback_lat_sql("c_custkey")


@register(
    "nation_envelope",
    f"""
    SELECT n.n_nationkey AS nation_key, n.n_name AS nation_name,
           min({_CUST_LON}) AS minx, min({_CUST_LAT}) AS miny,
           max({_CUST_LON}) AS maxx, max({_CUST_LAT}) AS maxy,
           count(*) AS n_points
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_nationkey, n.n_name
    """,
)
def q_nation_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation bounding box of customer points — st_envelope semantics
    (per-axis coordinate min/max) lifted to a grouped aggregate, with a
    broadcast dimension join."""
    cust = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        "c_nationkey",
        f"{_CUST_LON} AS lon",
        f"{_CUST_LAT} AS lat",
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_nationkey").alias("nation_key"), F.col("n_name").alias("nation_name"))
        .agg(
            F.min("lon").alias("minx"),
            F.min("lat").alias("miny"),
            F.max("lon").alias("maxx"),
            F.max("lat").alias("maxy"),
            F.count("*").alias("n_points"),
        )
    )


# ---------------------------------------------------------------------------
# Spatial joins: zones (axis-aligned rectangles derived from nation, so the
# oracle can verify the join with plain comparisons — FIXTURES.md §3)
# ---------------------------------------------------------------------------

PIP_RES = 6    # coarser grid for polygon cover (cells ≈ 5.6° × 2.8°)
BBOX_RES = 4

# zone edges end in .0005 so fallback points (3-decimal grid) can never sit
# exactly on a boundary — inclusive-vs-exclusive edge semantics can't differ
ZONE_MINX = "(CAST(n_nationkey % 7 AS DOUBLE) * 48.0 - 175.5005)"
ZONE_MAXX = f"({ZONE_MINX} + 20.0 + CAST(n_nationkey % 3 AS DOUBLE) * 14.0)"
ZONE_MINY = "(CAST(n_nationkey % 5 AS DOUBLE) * 33.0 - 82.5005)"
ZONE_MAXY = f"({ZONE_MINY} + 15.0 + CAST(n_nationkey % 4 AS DOUBLE) * 9.0)"

_ZONES_SQL = (
    f"SELECT n_nationkey AS zone_id, {ZONE_MINX} AS minx, {ZONE_MINY} AS miny,"
    f" {ZONE_MAXX} AS maxx, {ZONE_MAXY} AS maxy FROM nation"
)
_POINTS_SQL = (
    f"SELECT c_custkey AS point_id, {_CUST_LON} AS lon, {_CUST_LAT} AS lat FROM customer"
)


def _zones_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zones with both bbox columns and a POLYGON wkt (the engine join runs
    the real WKT→cover→refine path; the oracle uses the bbox columns)."""
    z = load_table(spark, sf_dir, "nation").selectExpr(
        f"n_nationkey AS zone_id",
        f"{ZONE_MINX} AS minx",
        f"{ZONE_MINY} AS miny",
        f"{ZONE_MAXX} AS maxx",
        f"{ZONE_MAXY} AS maxy",
    )
    return z.selectExpr(
        "*",
        "concat('POLYGON ((', minx, ' ', miny, ', ', maxx, ' ', miny, ', ',"
        " maxx, ' ', maxy, ', ', minx, ' ', maxy, ', ', minx, ' ', miny, '))')"
        " AS geom_wkt",
    )


def _points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS point_id", f"{_CUST_LON} AS lon", f"{_CUST_LAT} AS lat"
    )


_PIP_ORACLE = f"""
    WITH zones AS ({_ZONES_SQL}), pts AS ({_POINTS_SQL})
    SELECT z.zone_id AS zone_id, count(*) AS n_points,
           CAST(sum(p.point_id) AS BIGINT) AS sum_ids
    FROM pts p JOIN zones z
      ON p.lon >= z.minx AND p.lon <= z.maxx
     AND p.lat >= z.miny AND p.lat <= z.maxy
    GROUP BY z.zone_id
    """


@register("pip_zone_counts", _PIP_ORACLE)
def q_pip_zone_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon spatial join (cover cells → equi-join → full-cell
    skip + exact even-odd refine), aggregated per zone."""
    from geografir_spark.operators.pip_join import spatial_join_pip

    pts = cells.with_cell(_points_df(spark, sf_dir), "lon", "lat", PIP_RES)
    zones = _zones_df(spark, sf_dir).drop("minx", "miny", "maxx", "maxy")
    joined = spatial_join_pip(pts, zones, res=PIP_RES)
    return joined.groupBy("zone_id").agg(
        F.count("*").alias("n_points"), F.sum("point_id").alias("sum_ids")
    )


@register("pip_zone_counts_compact", _PIP_ORACLE)
def q_pip_zone_counts_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-resolution PIP join (compacted full-cell cover, points
    exploded to their parent cell at each cover level) against the SAME oracle as pip_zone_counts —
    compaction is exact, so the driver's value hash must agree. At scale
    this variant broadcasts the minimal quadtree of each zone instead of
    its full-res interior."""
    from geografir_spark.operators.pip_join import spatial_join_pip

    pts = cells.with_cell(_points_df(spark, sf_dir), "lon", "lat", PIP_RES)
    zones = _zones_df(spark, sf_dir).drop("minx", "miny", "maxx", "maxy")
    joined = spatial_join_pip(pts, zones, res=PIP_RES, compact_cover=True)
    return joined.groupBy("zone_id").agg(
        F.count("*").alias("n_points"), F.sum("point_id").alias("sum_ids")
    )


# L-shaped CONCAVE zones (6 vertices, notch at V3) for the PIP join gate:
# every coordinate is a dyadic rational (multiples of 45/32), so the WKT
# string roundtrip and both engines' doubles are bit-identical; offsets of
# half a res-6 cell (2.8125 lon / 1.40625 lat) keep zone edges OFF the cell
# lattice so full-cell classification runs the general corners+SAT path,
# not the axis-rectangle fast path (VERDICT r2 #3: rectangles-only
# pip_zone_counts never exercised the exact classifier end-to-end).
_L_X0 = "(-165.9375 + CAST(n_nationkey % 6 AS DOUBLE) * 22.5)"
_L_Y0 = "(-60.46875 + CAST(n_nationkey % 4 AS DOUBLE) * 28.125)"

_L_EDGES_SQL = f"""
    lzv AS (SELECT n_nationkey AS zone_id, {_L_X0} AS x0, {_L_Y0} AS y0
            FROM nation),
    ledges AS (
      SELECT zone_id, x0 AS ax, y0 AS ay, x0 + 45.0 AS bx, y0 AS byy FROM lzv
      UNION ALL SELECT zone_id, x0 + 45.0, y0, x0 + 45.0, y0 + 11.25 FROM lzv
      UNION ALL SELECT zone_id, x0 + 45.0, y0 + 11.25, x0 + 22.5, y0 + 11.25 FROM lzv
      UNION ALL SELECT zone_id, x0 + 22.5, y0 + 11.25, x0 + 22.5, y0 + 22.5 FROM lzv
      UNION ALL SELECT zone_id, x0 + 22.5, y0 + 22.5, x0, y0 + 22.5 FROM lzv
      UNION ALL SELECT zone_id, x0, y0 + 22.5, x0, y0 FROM lzv
    )
"""

_L_WKT_SQL = (
    "concat('POLYGON ((',"
    " CAST(x0 AS STRING), ' ', CAST(y0 AS STRING), ', ',"
    " CAST(x0 + 45.0 AS STRING), ' ', CAST(y0 AS STRING), ', ',"
    " CAST(x0 + 45.0 AS STRING), ' ', CAST(y0 + 11.25 AS STRING), ', ',"
    " CAST(x0 + 22.5 AS STRING), ' ', CAST(y0 + 11.25 AS STRING), ', ',"
    " CAST(x0 + 22.5 AS STRING), ' ', CAST(y0 + 22.5 AS STRING), ', ',"
    " CAST(x0 AS STRING), ' ', CAST(y0 + 22.5 AS STRING), ', ',"
    " CAST(x0 AS STRING), ' ', CAST(y0 AS STRING), '))') AS geom_wkt"
)

# the triangle zone (x0, y0), (x0 + 28.125, y0 + 5.625), (x0 + 9.375,
# y0 + 19.6875) as WKT, over the same x0/y0 columns
_TRI_WKT_SQL = (
    "concat('POLYGON ((',"
    " CAST(x0 AS STRING), ' ', CAST(y0 AS STRING), ', ',"
    " CAST(x0 + 28.125 AS STRING), ' ', CAST(y0 + 5.625 AS STRING), ', ',"
    " CAST(x0 + 9.375 AS STRING), ' ', CAST(y0 + 19.6875 AS STRING), ', ',"
    " CAST(x0 AS STRING), ' ', CAST(y0 AS STRING), '))') AS geom_wkt"
)


@register(
    "pip_zone_counts_concave",
    f"""
    WITH {_L_EDGES_SQL},
    pts AS ({_POINTS_SQL}),
    ins AS (
      SELECT p.point_id, e.zone_id,
             sum(CASE WHEN ((e.ay > p.lat) != (e.byy > p.lat))
                       AND p.lon < e.ax + (p.lat - e.ay) * (e.bx - e.ax)
                           / (CASE WHEN e.byy - e.ay = 0.0 THEN 1.0
                                   ELSE e.byy - e.ay END)
                      THEN 1 ELSE 0 END) AS crossings
      FROM pts p CROSS JOIN ledges e
      GROUP BY p.point_id, p.lon, p.lat, e.zone_id
    )
    SELECT zone_id, count(*) AS n_points,
           CAST(sum(point_id) AS BIGINT) AS sum_ids
    FROM ins WHERE crossings % 2 = 1
    GROUP BY zone_id
    """,
)
def q_pip_zone_counts_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP spatial join against CONCAVE (L-shaped) polygon zones: the
    full/partial cover classifier (corners-inside + separating-axis
    edge-vs-cell test, geo/kernels.py:cover_geometry) runs its general
    polygon path end-to-end, full cells skip refine, partial cells run the
    exact even-odd test. The oracle replays the identical IEEE
    crossing-number expression per (point, edge) in pure SQL, so the match
    is bit-exact including boundary points."""
    from geografir_spark.operators.pip_join import spatial_join_pip

    zones = load_table(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS zone_id", f"{_L_X0} AS x0", f"{_L_Y0} AS y0"
    ).selectExpr("zone_id", _L_WKT_SQL)
    pts = cells.with_cell(_points_df(spark, sf_dir), "lon", "lat", PIP_RES)
    joined = spatial_join_pip(pts, zones, res=PIP_RES)
    return joined.groupBy("zone_id").agg(
        F.count("*").alias("n_points"), F.sum("point_id").alias("sum_ids")
    )


@register(
    "zone_area_centroid",
    f"""
    WITH {_L_EDGES_SQL},
    s AS (SELECT zone_id,
                 sum(ax * byy - bx * ay) AS a2,
                 sum((ax + bx) * (ax * byy - bx * ay)) AS sx,
                 sum((ay + byy) * (ax * byy - bx * ay)) AS sy
          FROM ledges GROUP BY zone_id)
    SELECT zone_id, a2 / 2.0 AS area,
           sx / (3.0 * a2) AS cx, sy / (3.0 * a2) AS cy
    FROM s
    """,
)
def q_zone_area_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_area / st_centroid lifted to a columnar operator: the shoelace
    kernel (geo/kernels.py:polygon_area_centroid) runs Arrow-batched over
    the concave L-zone WKTs; the oracle replays the identical shoelace
    terms over the edge CTE. Dyadic coordinates keep every intermediate an
    exact double, so the hash matches bit-for-bit."""
    import pandas as pd

    from geografir_spark.geo import kernels as gk
    from geografir_spark.geo import wkt as gwkt

    zones = load_table(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS zone_id", f"{_L_X0} AS x0", f"{_L_Y0} AS y0"
    ).selectExpr("zone_id", _L_WKT_SQL)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            recs = []
            for zid, w in zip(pdf["zone_id"], pdf["geom_wkt"]):
                area, cx, cy = gk.polygon_area_centroid(gwkt.parse_wkt(w))
                recs.append((zid, float(area), float(cx), float(cy)))
            yield pd.DataFrame.from_records(
                recs, columns=["zone_id", "area", "cx", "cy"]
            )

    return zones.mapInPandas(
        kernel, schema="zone_id bigint, area double, cx double, cy double"
    )


_LINE_RES = 5  # res-5 cells: 11.25° × 5.625°


@register(
    "linestring_cell_cover",
    f"""
    WITH lz AS (SELECT n_nationkey AS zone_id, {_L_X0} AS x0, {_L_Y0} AS y0
                FROM nation),
    segs AS (
      SELECT zone_id, x0 AS ax, y0 AS ay,
             x0 + 30.9375 AS bx, y0 + 16.875 AS byy FROM lz
      UNION ALL
      SELECT zone_id, x0 + 30.9375, y0 + 16.875,
             x0 + 45.0, y0 + 2.8125 FROM lz
    ),
    xr AS (SELECT *,
             CAST(floor((least(ax, bx) + 180.0) / 360.0 * 32.0) AS BIGINT) AS xlo,
             CAST(floor((greatest(ax, bx) + 180.0) / 360.0 * 32.0) AS BIGINT) AS xhi,
             CAST(floor((least(ay, byy) + 90.0) / 180.0 * 32.0) AS BIGINT) AS ylo,
             CAST(floor((greatest(ay, byy) + 90.0) / 180.0 * 32.0) AS BIGINT) AS yhi
           FROM segs),
    cx AS (SELECT *, unnest(range(xlo, xhi + 1)) AS xi FROM xr),
    cxy AS (SELECT *, unnest(range(ylo, yhi + 1)) AS yi FROM cx),
    rect AS (SELECT *,
               -180.0 + xi * 11.25 AS rminx, -180.0 + xi * 11.25 + 11.25 AS rmaxx,
               -90.0 + yi * 5.625 AS rminy, -90.0 + yi * 5.625 + 5.625 AS rmaxy
             FROM cxy),
    hit AS (
      SELECT DISTINCT zone_id, xi, yi FROM rect
      WHERE least(ax, bx) <= rmaxx AND greatest(ax, bx) >= rminx
        AND least(ay, byy) <= rmaxy AND greatest(ay, byy) >= rminy
        AND NOT (
          (((bx - ax) * (rminy - ay) - (byy - ay) * (rminx - ax)) > 0
           AND ((bx - ax) * (rmaxy - ay) - (byy - ay) * (rminx - ax)) > 0
           AND ((bx - ax) * (rminy - ay) - (byy - ay) * (rmaxx - ax)) > 0
           AND ((bx - ax) * (rmaxy - ay) - (byy - ay) * (rmaxx - ax)) > 0)
          OR
          (((bx - ax) * (rminy - ay) - (byy - ay) * (rminx - ax)) < 0
           AND ((bx - ax) * (rmaxy - ay) - (byy - ay) * (rminx - ax)) < 0
           AND ((bx - ax) * (rminy - ay) - (byy - ay) * (rmaxx - ax)) < 0
           AND ((bx - ax) * (rmaxy - ay) - (byy - ay) * (rmaxx - ax)) < 0)
        )
    ),
    enc AS ({cells.nested_sql("SELECT zone_id, xi, yi FROM hit", cells.encode_idx_steps("xi", "yi", _LINE_RES))})
    SELECT zone_id, count(*) AS n_cells, CAST(sum(cell) AS BIGINT) AS cell_sum
    FROM enc GROUP BY zone_id
    """,
)
def q_linestring_cell_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory tiling: cells intersected by a 2-segment polyline per
    zone (exact separating-axis segment-vs-cell test). The oracle
    enumerates each segment's bbox candidate cells and replays the
    identical SAT/overlap IEEE expressions, then Morton-encodes the
    surviving (xi, yi) with the shared bit-spread steps — bit-exact."""
    import pandas as pd

    from geografir_spark.geo import kernels as gk

    zones = load_table(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS zone_id", f"{_L_X0} AS x0", f"{_L_Y0} AS y0"
    ).selectExpr(
        "zone_id",
        "concat('LINESTRING (',"
        " CAST(x0 AS STRING), ' ', CAST(y0 AS STRING), ', ',"
        " CAST(x0 + 30.9375 AS STRING), ' ', CAST(y0 + 16.875 AS STRING), ', ',"
        " CAST(x0 + 45.0 AS STRING), ' ', CAST(y0 + 2.8125 AS STRING), ')')"
        " AS geom_wkt",
    )

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            recs = []
            for zid, w in zip(pdf["zone_id"], pdf["geom_wkt"]):
                for c in gk.cover_linestring(w, _LINE_RES):
                    recs.append((zid, int(c)))
            yield pd.DataFrame.from_records(recs, columns=["zone_id", "cell"])

    cov = zones.mapInPandas(kernel, schema="zone_id bigint, cell bigint")
    return cov.groupBy("zone_id").agg(
        F.count("*").alias("n_cells"), F.sum("cell").alias("cell_sum")
    )


_TRI_X0 = "(-67.5 + CAST(n_nationkey % 5 AS DOUBLE) * 22.5 + 3.75)"
_TRI_Y0 = "(-33.75 + CAST(n_nationkey % 3 AS DOUBLE) * 11.25 + 2.8125)"
# triangle V0=(x0,y0), V1=V0+(28.125,5.625), V2=V0+(9.375,19.6875) — every
# coordinate is a dyadic rational, so engine and oracle doubles are
# bit-identical; the PIP comparison uses the IDENTICAL IEEE expression as
# geo.kernels.even_odd_np, so even boundary pixels agree exactly


_POLY_EDGES_SQL = f"""
    zv AS (SELECT n_nationkey AS zone_id,
                  {_TRI_X0} AS x0, {_TRI_Y0} AS y0 FROM nation),
    edges AS (
      SELECT zone_id, x0 AS ax, y0 AS ay,
             x0 + 28.125 AS bx, y0 + 5.625 AS byy FROM zv
      UNION ALL
      SELECT zone_id, x0 + 28.125, y0 + 5.625,
             x0 + 9.375, y0 + 19.6875 FROM zv
      UNION ALL
      SELECT zone_id, x0 + 9.375, y0 + 19.6875, x0, y0 FROM zv
    )
"""


@register(
    "zone_poly_intersections",
    f"""
    WITH {_POLY_EDGES_SQL},
    crossed AS (
      SELECT DISTINCT ea.zone_id AS zone_a, eb.zone_id AS zone_b
      FROM edges ea JOIN edges eb ON ea.zone_id < eb.zone_id
      WHERE ((((ea.bx - ea.ax) * (eb.ay - ea.ay) - (ea.byy - ea.ay) * (eb.ax - ea.ax)) > 0 AND ((ea.bx - ea.ax) * (eb.byy - ea.ay) - (ea.byy - ea.ay) * (eb.bx - ea.ax)) < 0) OR (((ea.bx - ea.ax) * (eb.ay - ea.ay) - (ea.byy - ea.ay) * (eb.ax - ea.ax)) < 0 AND ((ea.bx - ea.ax) * (eb.byy - ea.ay) - (ea.byy - ea.ay) * (eb.bx - ea.ax)) > 0))
        AND ((((eb.bx - eb.ax) * (ea.ay - eb.ay) - (eb.byy - eb.ay) * (ea.ax - eb.ax)) > 0 AND ((eb.bx - eb.ax) * (ea.byy - eb.ay) - (eb.byy - eb.ay) * (ea.bx - eb.ax)) < 0) OR (((eb.bx - eb.ax) * (ea.ay - eb.ay) - (eb.byy - eb.ay) * (ea.ax - eb.ax)) < 0 AND ((eb.bx - eb.ax) * (ea.byy - eb.ay) - (eb.byy - eb.ay) * (ea.bx - eb.ax)) > 0))
    ),
    vin_ab AS (
      SELECT va.zone_id AS zone_a, eb.zone_id AS zone_b
      FROM zv va JOIN edges eb ON va.zone_id < eb.zone_id
      GROUP BY va.zone_id, eb.zone_id, va.x0, va.y0
      HAVING sum(CASE WHEN ((eb.ay > va.y0) != (eb.byy > va.y0)) AND va.x0 < eb.ax + (va.y0 - eb.ay) * (eb.bx - eb.ax) / (CASE WHEN eb.byy - eb.ay = 0.0 THEN 1.0 ELSE eb.byy - eb.ay END) THEN 1 ELSE 0 END) % 2 = 1
    ),
    vin_ba AS (
      SELECT ea.zone_id AS zone_a, vb.zone_id AS zone_b
      FROM zv vb JOIN edges ea ON ea.zone_id < vb.zone_id
      GROUP BY ea.zone_id, vb.zone_id, vb.x0, vb.y0
      HAVING sum(CASE WHEN ((ea.ay > vb.y0) != (ea.byy > vb.y0)) AND vb.x0 < ea.ax + (vb.y0 - ea.ay) * (ea.bx - ea.ax) / (CASE WHEN ea.byy - ea.ay = 0.0 THEN 1.0 ELSE ea.byy - ea.ay END) THEN 1 ELSE 0 END) % 2 = 1
    )
    SELECT DISTINCT zone_a, zone_b FROM (
      SELECT * FROM crossed
      UNION ALL SELECT * FROM vin_ab
      UNION ALL SELECT * FROM vin_ba
    ) u
    """,
)
def q_zone_poly_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon × polygon intersects self-join (st_intersects) over the
    triangle zones: cover-cell candidate prefilter (no false dismissals —
    intersecting polygons share the cell of any common point) + exact
    orientation-sign/vertex-containment refine. The oracle replays the
    IDENTICAL IEEE orientation and crossing-number expressions in pure SQL
    over the edge CTE, so results agree bit-for-bit even on degenerate
    touchings (identical triangles land wherever the shared formula
    lands)."""
    from geografir_spark.operators.poly_join import polygon_self_intersects_join

    zones = load_table(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS zone_id", f"{_TRI_X0} AS x0", f"{_TRI_Y0} AS y0"
    ).selectExpr("zone_id", _TRI_WKT_SQL)
    return polygon_self_intersects_join(zones, res=ZONAL_RES)


@register(
    "bbox_zone_pairs",
    f"""
    WITH z AS ({_ZONES_SQL})
    SELECT a.zone_id AS zone_a, b.zone_id AS zone_b
    FROM z a JOIN z b
      ON a.zone_id < b.zone_id
     AND a.minx <= b.maxx AND b.minx <= a.maxx
     AND a.miny <= b.maxy AND b.miny <= a.maxy
    """,
)
def q_bbox_zone_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BBox overlap self-join with reference-point dedup (no distinct)."""
    from geografir_spark.operators.bbox_join import bbox_overlap_join

    z = _zones_df(spark, sf_dir).drop("geom_wkt")
    pairs = bbox_overlap_join(
        z, z, res=BBOX_RES, extra_pred=F.col("zone_id_a") < F.col("zone_id_b")
    )
    return pairs.select(
        F.col("zone_id_a").alias("zone_a"), F.col("zone_id_b").alias("zone_b")
    )


# ---------------------------------------------------------------------------
# kNN join (cell-ring expansion)
# ---------------------------------------------------------------------------

KNN_RES = 7
KNN_K = 3
_Q_LON = geocode.fallback_lon_sql("(n_nationkey * 131 + 7)")
_Q_LAT = geocode.fallback_lat_sql("(n_nationkey * 181 + 11)")


@register(
    "knn_customers",
    f"""
    WITH qs AS (SELECT n_nationkey AS qid, {_Q_LON} AS qx, {_Q_LAT} AS qy FROM nation),
         ts AS (SELECT c_custkey AS tid, {_CUST_LON} AS tx, {_CUST_LAT} AS ty FROM customer),
         d AS (SELECT qid, tid,
                      (((qx) - (tx)) * ((qx) - (tx))) + (((qy) - (ty)) * ((qy) - (ty))) AS dist
               FROM qs CROSS JOIN ts),
         r AS (SELECT qid, tid,
                      row_number() OVER (PARTITION BY qid ORDER BY dist ASC, tid ASC) AS knn_rank
               FROM d)
    SELECT qid, tid, knn_rank FROM r WHERE knn_rank <= {KNN_K}
    """,
)
def q_knn_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=3 nearest customers per nation center via cell-ring expansion;
    verified against the oracle's exact brute-force kNN."""
    from geografir_spark.operators.knn import knn_join

    qs = load_table(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS qid", f"{_Q_LON} AS qx", f"{_Q_LAT} AS qy"
    )
    ts = load_table(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS tid", f"{_CUST_LON} AS tx", f"{_CUST_LAT} AS ty"
    )
    out = knn_join(qs, ts, k=KNN_K, res=KNN_RES)
    return out.select("qid", "tid", F.col("rank").alias("knn_rank"))


# ---------------------------------------------------------------------------
# As-of-latest (windowed dedup — the url/warc_ts snapshot pattern)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Zonal statistics (raster↔vector)
# ---------------------------------------------------------------------------

ZONAL_RES = 4  # tile grid: res-4 cells (22.5° × 11.25°), 8×8 px per tile

_ZONAL_CELL_STEPS = cells.encode_idx_steps("xi", "yi", ZONAL_RES)
# synthetic deterministic tile grid xi,yi ∈ [5, 10]: every coordinate below
# is an exact binary fraction (22.5, 11.25, 2.8125, 1.40625), so engine and
# oracle doubles are bit-identical.
_ZONAL_PIXEL_VALUE = (
    "CASE WHEN i % 13 = 0 THEN -1.0 ELSE CAST(cell % 1000 AS DOUBLE) + i END"
)
_ZONAL_PX = "((-180.0 + xi * 22.5) + ((i % 8) + 0.5) * 2.8125)"
_ZONAL_PY = (
    "(((-90.0 + yi * 11.25) + 11.25)"
    " - (CAST(floor(CAST(i AS DOUBLE) / 8.0) AS BIGINT) + 0.5) * 1.40625)"
)


def _mosaic(spark: SparkSession) -> DataFrame:
    """The synthetic 6×6 tile mosaic (xi, yi ∈ [5, 10], one res-4 cell per
    tile, 8×8 float64 pixels of _ZONAL_PIXEL_VALUE): the TILE_SCHEMA
    columns plus the grid indices xi, yi."""
    grid = (
        spark.range(5, 11).selectExpr("id AS xi")
        .crossJoin(spark.range(5, 11).selectExpr("id AS yi"))
    )
    return cells.apply_steps(grid, _ZONAL_CELL_STEPS).selectExpr(
        "cell AS tile_id",
        "cell",
        "'EPSG:4326' AS crs",
        "CAST(1 AS INT) AS count",
        "CAST(8 AS INT) AS width",
        "CAST(8 AS INT) AS height",
        "'float64' AS dtype",
        "CAST(-1.0 AS DOUBLE) AS nodata",
        "array(2.8125, 0.0, -180.0 + xi * 22.5, 0.0, -1.40625,"
        " (-90.0 + yi * 11.25) + 11.25) AS transform",
        f"transform(sequence(0, 63), i -> {_ZONAL_PIXEL_VALUE}) AS pixels",
        "xi",
        "yi",
    )


@register(
    "zonal_stats",
    f"""
    WITH zones AS ({_ZONES_SQL}),
         grid AS (SELECT t1.xi, t2.yi
                  FROM (SELECT unnest(range(5, 11)) AS xi) t1,
                       (SELECT unnest(range(5, 11)) AS yi) t2),
         cellt AS ({cells.nested_sql("SELECT xi, yi FROM grid", _ZONAL_CELL_STEPS)}),
         px AS (SELECT cell, xi, yi, unnest(range(0, 64)) AS i FROM cellt),
         pv AS (SELECT cell, {_ZONAL_PIXEL_VALUE} AS val,
                       {_ZONAL_PX} AS pxx, {_ZONAL_PY} AS pyy
                FROM px)
    SELECT z.zone_id AS zone_id, count(*) AS n_pixels, sum(val) AS sum_val,
           min(val) AS min_val, max(val) AS max_val
    FROM pv p JOIN zones z
      ON p.pxx >= z.minx AND p.pxx <= z.maxx
     AND p.pyy >= z.miny AND p.pyy <= z.maxy
    WHERE val != -1.0
    GROUP BY z.zone_id
    """,
)
def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster↔vector zonal stats: cell-aligned tiles equi-joined to zone
    cover cells, Arrow-batched masked pixel kernel, per-zone agg. The oracle
    recomputes the same stats from the closed-form tile definition."""
    from geografir_spark.operators.bbox_join import cover_bbox_cells
    from geografir_spark.raster.zonal import zonal_stats

    tiles = _mosaic(spark).drop("xi", "yi")
    zones = _zones_df(spark, sf_dir).drop("geom_wkt")
    cover = cover_bbox_cells(zones, ZONAL_RES)
    return zonal_stats(tiles, cover)


@register(
    "focal_stats",
    f"""
    WITH grid AS (SELECT t1.xi, t2.yi
                  FROM (SELECT unnest(range(5, 11)) AS xi) t1,
                       (SELECT unnest(range(5, 11)) AS yi) t2),
         cellt AS ({cells.nested_sql("SELECT xi, yi FROM grid", _ZONAL_CELL_STEPS)}),
         px AS (SELECT cell, xi, yi, unnest(range(0, 64)) AS i FROM cellt),
         pv AS (SELECT cell,
                       xi * 8 + (i % 8) AS gx,
                       yi * 8 + (7 - i // 8) AS gy,
                       {_ZONAL_PIXEL_VALUE} AS val
                FROM px),
         f AS (SELECT a.cell, a.gx, a.gy,
                      count(*) AS n_nb,
                      sum(CASE WHEN b.val != -1.0 THEN b.val ELSE 0 END) AS fsum
               FROM pv a JOIN pv b
                 ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
               GROUP BY a.cell, a.gx, a.gy)
    SELECT cell, count(*) AS n_px,
           CAST(sum(fsum) AS DOUBLE) AS sum_focal,
           CAST(max(fsum) AS DOUBLE) AS max_focal
    FROM f WHERE n_nb = 9
    GROUP BY cell
    """,
)
def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3×3 focal-sum statistics over the tiled mosaic via halo exchange
    (raster/focal.py): only O(perimeter) border strips cross the shuffle,
    the focal kernel runs per tile on the assembled padded array. The
    oracle rebuilds the global pixel lattice in SQL and computes the same
    masked 3×3 sums with a banded self-join — supported (full-kernel)
    pixels only, everything integer-valued so the hash is exact."""
    from geografir_spark.raster.focal import focal_stats_tiles

    tiles = _mosaic(spark).select("cell", "xi", "yi", "pixels")
    return focal_stats_tiles(tiles, nodata=-1.0, tile_px=8)


@register(
    "slope_stats",
    f"""
    WITH grid AS (SELECT t1.xi, t2.yi
                  FROM (SELECT unnest(range(5, 11)) AS xi) t1,
                       (SELECT unnest(range(5, 11)) AS yi) t2),
         cellt AS ({cells.nested_sql("SELECT xi, yi FROM grid", _ZONAL_CELL_STEPS)}),
         px AS (SELECT cell, xi, yi, unnest(range(0, 64)) AS i FROM cellt),
         pv AS (SELECT cell,
                       xi * 8 + (i % 8) AS gx,
                       yi * 8 + (7 - i // 8) AS gy,
                       {_ZONAL_PIXEL_VALUE} AS val
                FROM px),
         f AS (SELECT a.cell, a.gx, a.gy,
                      count(*) AS n_nb,
                      min(CASE WHEN b.val = -1.0 THEN 0 ELSE 1 END)
                        AS all_valid,
                      CAST(sum((b.gx - a.gx) * (2 - abs(b.gy - a.gy))
                               * CAST(b.val AS BIGINT)) AS BIGINT) AS gxn,
                      CAST(sum((b.gy - a.gy) * (2 - abs(b.gx - a.gx))
                               * CAST(b.val AS BIGINT)) AS BIGINT) AS gyn
               FROM pv a JOIN pv b
                 ON abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
               GROUP BY a.cell, a.gx, a.gy)
    SELECT cell, count(*) AS n_px,
           CAST(sum(gxn * gxn + gyn * gyn) AS BIGINT) AS sum_slope2,
           CAST(max(gxn * gxn + gyn * gyn) AS BIGINT) AS max_slope2
    FROM f WHERE n_nb = 9 AND all_valid = 1
    GROUP BY cell
    """,
)
def q_slope_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horn-gradient squared-slope statistics over the tiled mosaic
    (raster/focal.py slope_stats_tiles): same O(perimeter) halo exchange
    as focal_stats, integer-exact gx²+gy² so no trig enters the oracle
    contract; windows containing nodata are voided (a derivative over a
    hole is a fabricated cliff). The oracle rebuilds the lattice and
    applies the Horn weights (dx·(2−|dy|), dy·(2−|dx|)) via the banded
    self-join."""
    from geografir_spark.raster.focal import slope_stats_tiles

    tiles = _mosaic(spark).select("cell", "xi", "yi", "pixels")
    return slope_stats_tiles(tiles, nodata=-1.0, tile_px=8)


@register(
    "tile_pyramid",
    f"""
    WITH grid AS (SELECT t1.xi, t2.yi
                  FROM (SELECT unnest(range(5, 11)) AS xi) t1,
                       (SELECT unnest(range(5, 11)) AS yi) t2),
         cellt AS ({cells.nested_sql("SELECT xi, yi FROM grid", _ZONAL_CELL_STEPS)}),
         px AS (SELECT cell, xi, yi, unnest(range(0, 64)) AS i FROM cellt),
         pv AS (SELECT xi * 8 + (i % 8) AS gx,
                       yi * 8 + (7 - i // 8) AS gy,
                       {_ZONAL_PIXEL_VALUE} AS val
                FROM px),
         hp AS (SELECT gx // 2 AS hx, gy // 2 AS hy, max(val) AS pval
                FROM pv GROUP BY gx // 2, gy // 2),
         par AS (SELECT hx // 8 AS pxi, hy // 8 AS pyi,
                        (7 - hy % 8) * 8 + (hx % 8) AS pos, pval
                 FROM hp),
         pc AS ({cells.nested_sql(
            "SELECT pxi, pyi, pos, pval FROM par",
            cells.encode_idx_steps("pxi", "pyi", ZONAL_RES - 1),
         )})
    SELECT cell, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(CASE WHEN pval != -1.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_valid,
           CAST(sum(CASE WHEN pval != -1.0 THEN CAST(pval AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS sum_valid,
           max(CASE WHEN pval != -1.0 THEN CAST(pval AS BIGINT) END)
             AS max_val,
           CAST(sum((pos + 1) * CAST(pval AS BIGINT)) AS BIGINT) AS checksum
    FROM pc GROUP BY cell
    """,
)
def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COG-overview pyramid level: 2×2 max-pool the res-4 tile mosaic into
    res-3 parent tiles (raster/pyramid.py) — built-in array SQL only, 4:1
    fan-in shuffle, position-weighted checksum pinning the exact quadrant
    assembly. The oracle pools the rebuilt global lattice directly."""
    from geografir_spark.raster.pyramid import pyramid_stats

    tiles = _mosaic(spark).select("cell", "xi", "yi", "pixels")
    return pyramid_stats(tiles, res_child=ZONAL_RES)


# ---------------------------------------------------------------------------
# Reprojection as a query (st_transform lifted; EPSG:3857 is closed-form SQL
# on both engines, so the vendored transform is oracle-checkable end-to-end)
# ---------------------------------------------------------------------------



@register(
    "zonal_stats_polygon",
    f"""
    WITH zv AS (SELECT n_nationkey AS zone_id,
                       {_TRI_X0} AS x0, {_TRI_Y0} AS y0 FROM nation),
         edges AS (
           SELECT zone_id, x0 AS ax, y0 AS ay,
                  x0 + 28.125 AS bx, y0 + 5.625 AS byy FROM zv
           UNION ALL
           SELECT zone_id, x0 + 28.125, y0 + 5.625,
                  x0 + 9.375, y0 + 19.6875 FROM zv
           UNION ALL
           SELECT zone_id, x0 + 9.375, y0 + 19.6875, x0, y0 FROM zv
         ),
         grid AS (SELECT t1.xi, t2.yi
                  FROM (SELECT unnest(range(5, 11)) AS xi) t1,
                       (SELECT unnest(range(5, 11)) AS yi) t2),
         cellt AS ({cells.nested_sql("SELECT xi, yi FROM grid", _ZONAL_CELL_STEPS)}),
         px AS (SELECT cell, xi, yi, unnest(range(0, 64)) AS i FROM cellt),
         pv AS (SELECT cell, i, {_ZONAL_PIXEL_VALUE} AS val,
                       {_ZONAL_PX} AS pxx, {_ZONAL_PY} AS pyy
                FROM px),
         ins AS (
           SELECT p.cell, p.i, p.val, e.zone_id,
                  sum(CASE WHEN ((e.ay > p.pyy) != (e.byy > p.pyy))
                            AND p.pxx < e.ax + (p.pyy - e.ay) * (e.bx - e.ax)
                                / (CASE WHEN e.byy - e.ay = 0.0 THEN 1.0
                                        ELSE e.byy - e.ay END)
                           THEN 1 ELSE 0 END) AS crossings
           FROM pv p CROSS JOIN edges e
           GROUP BY p.cell, p.i, p.val, e.zone_id
         )
    SELECT zone_id, count(*) AS n_pixels, sum(val) AS sum_val,
           min(val) AS min_val, max(val) AS max_val
    FROM ins WHERE crossings % 2 = 1 AND val != -1.0
    GROUP BY zone_id
    """,
)
def q_zonal_stats_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal stats over TRUE POLYGON zones (triangles): cover cells with
    full/partial flags, full tiles aggregate without geometry work, partial
    tiles run the exact even-odd PIP on pixel centers. The oracle replays
    the identical crossing-number formula in pure SQL (edges CTE × pixel
    CTE), so the match is bit-exact including boundary pixels."""
    from geografir_spark.raster.zonal import zonal_stats_polygon

    tiles = _mosaic(spark).drop("xi", "yi")
    zones = load_table(spark, sf_dir, "nation").selectExpr(
        "n_nationkey AS zone_id", f"{_TRI_X0} AS x0", f"{_TRI_Y0} AS y0"
    ).selectExpr("zone_id", _TRI_WKT_SQL)
    return zonal_stats_polygon(tiles, zones, res=ZONAL_RES)


@register(
    "transform_webmercator_envelope",
    f"""
    WITH pts AS ({_POINTS_SQL}),
         cl AS (SELECT point_id, lon,
                       least(greatest(lat, -85.0), 85.0) AS lat FROM pts),
         m AS (SELECT point_id,
                      6378137.0 * radians(lon) AS mx,
                      6378137.0 * ln(tan(pi() / 4.0 + radians(lat) / 2.0)) AS my,
                      point_id % 16 AS grp
               FROM cl)
    SELECT grp, count(*) AS n, min(mx) AS minx, min(my) AS miny,
           max(mx) AS maxx, max(my) AS maxy
    FROM m GROUP BY grp
    """,
)
def q_transform_webmercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st_transform(4326→3857) + envelope agg. The engine path runs the
    vendored numpy transform inside an Arrow batch (geo.crs.webmerc_forward);
    the oracle recomputes the projection in closed-form SQL."""
    import pandas as pd
    from pyspark.sql import types as T

    pts = _points_df(spark, sf_dir)

    schema = T.StructType(
        list(pts.schema.fields)
        + [T.StructField("mx", T.DoubleType()), T.StructField("my", T.DoubleType())]
    )

    def kernel(batches):
        import numpy as np

        from geografir_spark.geo import crs as crsmod

        xform = crsmod.get_transform(4326, 3857)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # web mercator is undefined at the poles — clamp like the oracle
            lat = np.clip(pdf["lat"].to_numpy(), -85.0, 85.0)
            mx, my = xform(pdf["lon"].to_numpy(), lat)
            pdf = pdf.copy()
            pdf["mx"], pdf["my"] = mx, my
            yield pdf

    m = pts.mapInPandas(kernel, schema=schema)
    return m.selectExpr("*", "point_id % 16 AS grp").groupBy("grp").agg(
        F.count("*").alias("n"),
        F.min("mx").alias("minx"),
        F.min("my").alias("miny"),
        F.max("mx").alias("maxx"),
        F.max("my").alias("maxy"),
    )


# ---------------------------------------------------------------------------
# Dedup / text-analysis / similarity (training-data-pipeline operators)
# ---------------------------------------------------------------------------

def _sql_query(
    spark: SparkSession,
    sf_dir: str,
    spark_sql: str,
    views: tuple = ("documents",),
    repartition: bool = False,
) -> DataFrame:
    """Run generated Spark-dialect SQL with its input tables bound inside
    the statement: each name in ``views`` becomes a CTE over the table's
    scan (``sources.pages.table_sql``) wrapped around ``spark_sql``. No
    temp view is registered, so a caller's own views of the same names
    are neither read nor replaced, and concurrent queries on one session
    cannot see each other's inputs.

    ``repartition=True`` spreads each table across cores first (a
    ``REPARTITION`` hint) — the test parquets are single-row-group files
    (scan parallelism 1), so map-heavy per-document work (tokenize, md5)
    would otherwise run on one task. Production multi-file tables don't
    need it (the scan is already split)."""
    hint = (
        f"/*+ REPARTITION({spark.sparkContext.defaultParallelism}) */ "
        if repartition
        else ""
    )
    ctes = ", ".join(
        f"{v} AS (SELECT {hint}* FROM {table_sql(sf_dir, v)})" for v in views
    )
    return spark.sql(f"WITH {ctes} SELECT * FROM ({spark_sql})")


def _radius_oracle_sql() -> str:
    from geografir_spark.operators.radius_join import hav_sql, hav_tau

    return f"""
    WITH p AS ({_POINTS_SQL}),
    pairs AS (SELECT a.point_id AS a_id, b.point_id AS b_id,
                     {hav_sql('a.lat', 'a.lon', 'b.lat', 'b.lon')} AS hav
              FROM p a JOIN p b ON a.point_id < b.point_id)
    SELECT a_id, b_id, hav FROM pairs WHERE hav <= {hav_tau(500000.0)!r}
    """


@register("radius_pairs", _radius_oracle_sql())
def q_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-band self-join: customer point pairs within 500 km
    great-circle distance (lat-band equi-join + conservative lon prune +
    exact half-chord refine — operators/radius_join.py). The oracle is the
    O(n²) brute force; the engine's banded plan must reproduce it exactly,
    which also proves the prefilter loses no true pair on this corpus."""
    from geografir_spark.operators.radius_join import radius_join

    pts = _points_df(spark, sf_dir)
    a = pts.selectExpr("point_id AS a_id", "lon AS a_lon", "lat AS a_lat")
    b = pts.selectExpr("point_id AS b_id", "lon AS b_lon", "lat AS b_lat")
    return radius_join(a, b, 500000.0).filter("a_id < b_id")


def _dedup_mod():
    from geografir_spark.operators import dedup

    return dedup


@register(
    "dedup_exact",
    _dedup_mod().exact_dedup_sql("documents", "doc_id", "text", "duckdb"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup map: content hash → multiplicity + keeper id."""
    from geografir_spark.operators import dedup

    return _sql_query(
        spark, sf_dir, dedup.exact_dedup_sql("documents", "doc_id", "text", "spark")
    )


@register(
    "dedup_minhash_pairs",
    _dedup_mod().minhash_pairs_sql("documents", "doc_id", "text", "duckdb"),
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs (16 hashes, 4 bands,
    3-word shingles) — the full shingle→minhash→band→bucket pipeline,
    degenerate-bucket cap included (``max_bucket=256``,
    operators/dedup.py:minhash_pairs_sql).

    The Spark dialect needs no stage barrier: one ``inline`` generator
    emits each doc's band rows from a single signature computation, and
    in-bucket pairs come from array lambdas over the bucket's doc list, so
    there is no self-join to inline the signatures into twice."""
    from geografir_spark.operators import dedup

    return _sql_query(
        spark,
        sf_dir,
        dedup.minhash_pairs_sql("documents", "doc_id", "text", "spark"),
        repartition=True,
    )


@register(
    "dedup_simhash",
    _dedup_mod().simhash_sql("documents", "doc_id", "text", "duckdb"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (bit-majority over token hashes)."""
    from geografir_spark.operators import dedup

    return _sql_query(
        spark, sf_dir, dedup.simhash_sql("documents", "doc_id", "text", "spark"),
        repartition=True,
    )


def _text_quality_sql(dialect: str) -> str:
    from geografir_spark.operators import text as textops

    cols = ", ".join(
        f"{expr} AS {name}" for name, expr in textops.quality_exprs("text", dialect).items()
    )
    return f"SELECT doc_id, {cols} FROM documents"


@register("text_quality", _text_quality_sql("duckdb"))
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token count, avg token length, punct
    ratio, stopword ratio, fingerprint."""
    return _sql_query(spark, sf_dir, _text_quality_sql("spark"), repartition=True)


def _hash_sample_sql(dialect: str, *, rate_bp: int = 1000) -> str:
    """Deterministic hash sampling at rate_bp/10000: a doc is IN the sample
    iff hash60(doc_id) % 10000 < rate_bp. Reproducible across engines,
    clusters, and reruns (TABLESAMPLE is not: it is partition-dependent),
    and composable — the same predicate selects the same docs in every
    downstream job. The sampling decision is per-row map-side; the only
    shuffle is the final stats agg."""
    from geografir_spark.operators.text import hash60_expr

    h = hash60_expr("CAST(doc_id AS STRING)", dialect)
    return f"""
    SELECT count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           min(doc_id) AS min_id, max(doc_id) AS max_id,
           count(DISTINCT source) AS n_sources
    FROM documents
    WHERE ({h}) % 10000 < {rate_bp}
    """


@register("hash_sample_stats", _hash_sample_sql("duckdb"))
def q_hash_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats over a deterministic 10% hash sample of the corpus — the
    reproducible-sampling primitive every training-data pipeline needs
    (eval splits, ablation subsets, dedup audits)."""
    return _sql_query(spark, sf_dir, _hash_sample_sql("spark"))


def _host_quota_sql(dialect: str, *, quota: int = 3, n_salts: int = 16) -> str:
    """Per-host quota sampling: keep at most ``quota`` pages per url host,
    chosen deterministically by (hash60(page_id), page_id) — the
    domain-balancing cap Common-Crawl pipelines apply so mega-hosts don't
    dominate the training mix.

    The DuckDB form (the semantic contract) is ONE window keyed by host.
    The Spark form is the TWO-PHASE scale shape (VERDICT r2 #5: a raw host
    window makes a mega-host a single-reducer straggler at 100 TB):
    phase 1 takes the top ``quota`` per (host, salt = hsh % n_salts) —
    n_salts reducers share a hot host — phase 2 re-quotas the ≤
    quota × n_salts survivors per host. The global per-host top-quota by
    (hsh, page_id) is contained in the union of per-salt top-quotas, so
    the result is identical (asserted vs the single-window form in
    tests/test_skew_lineage.py); the phase-2 window sees at most
    quota × n_salts rows per host regardless of corpus size."""
    from geografir_spark.operators.text import hash60_expr

    base = pages_select_sql("documents")
    host = (
        "string_split(url, '/')[3]" if dialect == "duckdb" else "split(url, '/')[2]"
    )
    h = hash60_expr("CAST(page_id AS STRING)", dialect)
    if dialect == "duckdb":
        return f"""
        WITH p AS (SELECT *, {host} AS host, ({h}) AS hsh FROM ({base})),
             r AS (SELECT host, page_id, n_chars,
                          row_number() OVER (PARTITION BY host
                                             ORDER BY hsh, page_id) AS rn
                   FROM p)
        SELECT host, count(*) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS kept_chars,
               min(page_id) AS first_kept
        FROM r WHERE rn <= {quota}
        GROUP BY host
        """
    return f"""
    WITH p AS (SELECT *, {host} AS host, ({h}) AS hsh FROM ({base})),
         r1 AS (SELECT host, page_id, n_chars, hsh,
                       row_number() OVER (PARTITION BY host, pmod(hsh, {n_salts})
                                          ORDER BY hsh, page_id) AS rn1
                FROM p),
         c AS (SELECT host, page_id, n_chars, hsh FROM r1 WHERE rn1 <= {quota}),
         r AS (SELECT host, page_id, n_chars,
                      row_number() OVER (PARTITION BY host
                                         ORDER BY hsh, page_id) AS rn
               FROM c)
    SELECT host, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars,
           min(page_id) AS first_kept
    FROM r WHERE rn <= {quota}
    GROUP BY host
    """


@register("host_quota_sample", _host_quota_sql("duckdb"))
def q_host_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host quota sample (<= 3 pages/host, deterministic hash order) +
    per-host kept stats — two-phase salted quota on the Spark side."""
    return _sql_query(spark, sf_dir, _host_quota_sql("spark"))


def _lang_balanced_sql(dialect: str, *, n_salts: int = 16) -> str:
    """Language-balanced mixture sampling: downsample every language to
    the SMALLEST language's document count (equal-mixture rebalancing —
    the data-mixture step multilingual pre-training pipelines apply so
    high-resource languages don't drown the mix), documents chosen
    deterministically by (hash60(doc_id), doc_id) order.

    The quota is DYNAMIC (min per-lang count via a scalar subquery), so
    unlike ``host_quota_sample`` the cap adapts to the corpus. Same scale
    discipline though: ``lang`` is a catastrophically low-cardinality
    window key (one reducer per language at 100 TB), so the Spark branch
    takes the per-(lang, salt) top-quota first — n_salts reducers share a
    language — then re-ranks the ≤ quota×n_salts survivors. The global
    per-lang top-quota in (hsh, doc_id) order is contained in the union
    of per-salt top-quotas, so the two-phase result is identical to the
    DuckDB single-window contract."""
    from geografir_spark.operators.text import hash60_expr

    h = hash60_expr("CAST(doc_id AS STRING)", dialect)
    final = """
    SELECT r.lang, cnt.n_docs, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(r.n_chars) AS BIGINT) AS kept_chars,
           min(r.doc_id) AS first_kept
    FROM r, q
      JOIN cnt ON cnt.lang = r.lang
    WHERE r.rn <= q.quota
    GROUP BY r.lang, cnt.n_docs
    """
    if dialect == "duckdb":
        return f"""
        WITH p AS (SELECT doc_id, lang, n_chars, ({h}) AS hsh FROM documents),
             cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
                     FROM p GROUP BY lang),
             q AS (SELECT min(n_docs) AS quota FROM cnt),
             r AS (SELECT lang, doc_id, n_chars,
                          row_number() OVER (PARTITION BY lang
                                             ORDER BY hsh, doc_id) AS rn
                   FROM p)
        {final}
        """
    return f"""
    WITH p AS (SELECT doc_id, lang, n_chars, ({h}) AS hsh FROM documents),
         cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
                 FROM p GROUP BY lang),
         q AS (SELECT min(n_docs) AS quota FROM cnt),
         r1 AS (SELECT lang, doc_id, n_chars, hsh,
                       row_number() OVER (PARTITION BY lang, pmod(hsh, {n_salts})
                                          ORDER BY hsh, doc_id) AS rn1
                FROM p),
         c AS (SELECT lang, doc_id, n_chars, hsh FROM r1, q WHERE rn1 <= q.quota),
         r AS (SELECT lang, doc_id, n_chars,
                      row_number() OVER (PARTITION BY lang
                                         ORDER BY hsh, doc_id) AS rn
               FROM c)
    {final}
    """


@register("lang_balanced_sample", _lang_balanced_sql("duckdb"))
def q_lang_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-mixture language rebalancing: every language downsampled to
    the smallest language's count, deterministic hash order, two-phase
    salted windows on the Spark side (see _lang_balanced_sql)."""
    return _sql_query(spark, sf_dir, _lang_balanced_sql("spark"))


def _centroid_outlier_sql(dialect: str, *, k: int = 2, n_salts: int = 16) -> str:
    """Per-cluster embedding centrality: the ``k`` documents FARTHEST from
    their label's centroid — the prune candidates of SemDeDup-style
    semantic filtering and CLIP-score-style quality filtering ("does this
    item belong to its group?").

    Exactness scheme (the repo's integer-fixed-point discipline, cf.
    pagerank/HLL): embeddings are quantized to 8 fractional bits
    (``floor(x·256)`` — float→double is exact, the product and floor are
    exact, so both engines quantize identically), centroids are
    element-wise integer SUMS (not means — cosine is scale-invariant, and
    integer sums are addition-order-insensitive where float means are
    not), and dot/norms accumulate in BIGINT (dim 64 × 8-bit components ×
    500-doc centroids peak at 2^59 ≪ 2^63). The ONLY float op is the
    final per-row centrality ``dot / sqrt(na) / sqrt(nb)`` — division and
    sqrt are correctly-rounded IEEE on integer-exact inputs, so the
    doubles are bit-identical across engines.

    Scale shape: the quantize+posexplode side is map-only; the centroid
    is a (labels × dim)-row aggregate that BROADCASTS back (no large-side
    shuffle beyond the per-vec_id dot regroup, 64 rows/key); and because
    ``label`` is a catastrophically low-cardinality window key, the
    bottom-k ranking runs per (label, salt) first, then re-ranks the
    ≤ k·n_salts survivors — the two-phase contract proven for
    host/lang quota sampling."""
    cast_q = "CAST(floor(CAST(x AS DOUBLE) * 256.0) AS BIGINT)"
    cen = "CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE)) / sqrt(CAST(nb AS DOUBLE))"
    if dialect == "duckdb":
        return f"""
        WITH q AS (SELECT vec_id, label,
                          list_transform(embedding, x -> {cast_q}) AS s
                   FROM embeddings),
             ex AS (SELECT vec_id, label, unnest(s) AS sv,
                           unnest(range(1, len(s) + 1)) AS i
                    FROM q),
             cent AS (SELECT label, i, CAST(sum(sv) AS BIGINT) AS cv
                      FROM ex GROUP BY label, i),
             dots AS (SELECT e.vec_id, e.label,
                             CAST(sum(e.sv * c.cv) AS BIGINT) AS dot,
                             CAST(sum(e.sv * e.sv) AS BIGINT) AS na
                      FROM ex e JOIN cent c ON c.label = e.label AND c.i = e.i
                      GROUP BY e.vec_id, e.label),
             nbs AS (SELECT label, CAST(sum(cv * cv) AS BIGINT) AS nb
                     FROM cent GROUP BY label),
             cenr AS (SELECT d.vec_id, d.label, d.dot, d.na, n.nb,
                             {cen} AS centrality
                      FROM dots d JOIN nbs n ON n.label = d.label),
             r AS (SELECT *, row_number() OVER (PARTITION BY label
                                                ORDER BY centrality, vec_id) AS rnk
                   FROM cenr)
        SELECT label, vec_id, dot, na, nb, centrality, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE rnk <= {k}
        """
    return f"""
    WITH q AS (SELECT vec_id, label,
                      transform(embedding, x -> {cast_q}) AS s
               FROM embeddings),
         ex AS (SELECT vec_id, label, pos + 1 AS i, col AS sv
                FROM (SELECT vec_id, label, posexplode(s) FROM q)),
         cent AS (SELECT label, i, CAST(sum(sv) AS BIGINT) AS cv
                  FROM ex GROUP BY label, i),
         dots AS (SELECT /*+ BROADCAST(c) */ e.vec_id, e.label,
                         CAST(sum(e.sv * c.cv) AS BIGINT) AS dot,
                         CAST(sum(e.sv * e.sv) AS BIGINT) AS na
                  FROM ex e JOIN cent c ON c.label = e.label AND c.i = e.i
                  GROUP BY e.vec_id, e.label),
         nbs AS (SELECT label, CAST(sum(cv * cv) AS BIGINT) AS nb
                 FROM cent GROUP BY label),
         cenr AS (SELECT /*+ BROADCAST(n) */ d.vec_id, d.label, d.dot, d.na,
                         n.nb, {cen} AS centrality
                  FROM dots d JOIN nbs n ON n.label = d.label),
         r1 AS (SELECT *, row_number() OVER (PARTITION BY label, pmod(vec_id, {n_salts})
                                             ORDER BY centrality, vec_id) AS rnk1
                FROM cenr),
         c2 AS (SELECT vec_id, label, dot, na, nb, centrality
                FROM r1 WHERE rnk1 <= {k}),
         r AS (SELECT *, row_number() OVER (PARTITION BY label
                                            ORDER BY centrality, vec_id) AS rnk
               FROM c2)
    SELECT label, vec_id, dot, na, nb, centrality, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= {k}
    """


@register("centroid_outliers", _centroid_outlier_sql("duckdb"))
def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k least-central embeddings per label cluster — semantic
    quality-filter prune candidates, integer-fixed-point exact with one
    final IEEE division (see _centroid_outlier_sql)."""
    return _sql_query(
        spark, sf_dir, _centroid_outlier_sql("spark"), views=("embeddings",)
    )


def _dissolve_sql(dialect: str) -> str:
    """Dissolve (geometric union) of the nation zones per REGION, expressed
    on the cell lattice: each zone's res-6 cell cover is generated in pure
    SQL (axis-index ranges → lateral explode → Morton encode, the same
    dual-dialect bit fragments every tiling query uses), the union is a
    DISTINCT over (region, cell), and the dissolve report is per region:
    zone count, cover rows with multiplicity, distinct union cells, the
    overlap dissolved away, and the union coverage in degree² (res-6 cell
    = 5.625° × 2.8125°, both exact binary fractions, so the one double
    multiply is bit-identical across engines).

    This is the scale shape for polygon dissolve at 100 TB: covers
    generate map-side (no geometry ever shuffles), the union is one
    distinct on fine-grained (region, cell) keys, and per-region stats are
    a partial-aggregated rollup. The exact-geometry alternative (pairwise
    polygon clipping) is inherently serial per overlap cluster; the
    lattice union is embarrassingly parallel with resolution as the knob."""
    from geografir_spark.geo import cells

    res = PIP_RES  # 6 → 5.625° × 2.8125° cells, exact binary fractions
    cw, ch = 360.0 / (1 << res), 180.0 / (1 << res)
    seq = (
        (lambda lo, hi: f"explode(sequence({lo}, {hi}))")
        if dialect == "spark"
        else (lambda lo, hi: f"unnest(range({lo}, {hi} + 1))")
    )
    enc = cells.nested_sql(
        "SELECT region_key, zone_id, ix AS xi, iy AS yi FROM grid",
        cells.encode_idx_steps("xi", "yi", res),
    )
    return f"""
    WITH zb AS (SELECT n_nationkey AS zone_id, n_regionkey AS region_key,
                       {cells.axis_index_sql(ZONE_MINX, res, lat=False)} AS xlo,
                       {cells.axis_index_sql(ZONE_MAXX, res, lat=False)} AS xhi,
                       {cells.axis_index_sql(ZONE_MINY, res, lat=True)} AS ylo,
                       {cells.axis_index_sql(ZONE_MAXY, res, lat=True)} AS yhi
                FROM nation),
         gx AS (SELECT zone_id, region_key, ylo, yhi, {seq('xlo', 'xhi')} AS ix
                FROM zb),
         grid AS (SELECT zone_id, region_key, ix, {seq('ylo', 'yhi')} AS iy
                  FROM gx),
         cellt AS ({enc}),
         u AS (SELECT region_key, cell, CAST(count(*) AS BIGINT) AS mult
               FROM cellt GROUP BY region_key, cell),
         agg AS (SELECT region_key, CAST(sum(mult) AS BIGINT) AS n_cell_rows,
                        CAST(count(*) AS BIGINT) AS n_cells
                 FROM u GROUP BY region_key),
         zn AS (SELECT region_key, CAST(count(*) AS BIGINT) AS n_zones
                FROM zb GROUP BY region_key)
    SELECT z.region_key, z.n_zones, a.n_cell_rows, a.n_cells,
           a.n_cell_rows - a.n_cells AS n_overlap_cells,
           CAST(a.n_cells AS DOUBLE) * {cw!r} * {ch!r} AS coverage_deg2
    FROM zn z JOIN agg a ON a.region_key = z.region_key
    """


@register("region_dissolve", _dissolve_sql("duckdb"))
def q_region_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-region dissolve (union) of zone rectangles on the res-6 cell
    lattice: distinct-cell union, overlap dissolved, coverage report —
    pure dual-dialect SQL over the shared Morton fragments
    (see _dissolve_sql)."""
    return _sql_query(
        spark, sf_dir, _dissolve_sql("spark"), views=("nation",)
    )


# target zones for areal interpolation: 5 longitude bands from region
# (72° wide, full latitude) — a second, unrelated zone system overlapping
# many of the 25 nation rect zones
_TGT_ZONES_SQL = (
    "SELECT r_regionkey AS tgt_id,"
    " CAST(r_regionkey AS DOUBLE) * 72.0 - 180.0 AS minx,"
    " -90.0 AS miny,"
    " CAST(r_regionkey AS DOUBLE) * 72.0 - 108.0 AS maxx,"
    " 90.0 AS maxy FROM region"
)


def _areal_sql(dialect: str) -> str:
    from geografir_spark.operators.areal import areal_interp_sql

    src = (
        f"SELECT n_nationkey AS src_id, {ZONE_MINX} AS minx,"
        f" {ZONE_MINY} AS miny, {ZONE_MAXX} AS maxx, {ZONE_MAXY} AS maxy,"
        " CAST((n_nationkey + 1) * 1000 AS BIGINT) AS pop FROM nation"
    )
    return areal_interp_sql(f"({src})", f"({_TGT_ZONES_SQL})", "pop", dialect)


@register("areal_interp", _areal_sql("duckdb"))
def q_areal_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area-weighted re-aggregation of a per-nation-zone measure onto 5
    longitude-band target zones (operators/areal.py) — the zone-system
    re-basing statistic; micro-integer contributions keep both engines
    bit-identical."""
    return _sql_query(
        spark, sf_dir, _areal_sql("spark"), views=("nation", "region")
    )


def _hilbert_runs_sql(dialect: str) -> str:
    """Range-scan fragmentation of each zone's cell cover under MORTON vs
    HILBERT ordering — the number of contiguous index runs is the number
    of separate range scans a clustered table needs for that zone, i.e.
    the locality property Hilbert (the S2 family's curve) exists for.
    Integer-exact: runs = 1 + Σ [idx − lag(idx) > 1] per zone on each
    key; one cover explode + two per-zone windows."""
    res = BBOX_RES
    seq = (
        (lambda lo, hi: f"explode(sequence({lo}, {hi}))")
        if dialect == "spark"
        else (lambda lo, hi: f"unnest(range({lo}, {hi} + 1))")
    )
    enc = cells.nested_sql(
        cells.nested_sql(
            "SELECT zone_id, ix, iy FROM grid",
            cells.encode_idx_steps("ix", "iy", res, out="morton"),
        ),
        cells.hilbert_steps("ix", "iy", res, out="hilbert"),
    )
    return f"""
    WITH zb AS (SELECT n_nationkey AS zone_id,
                       {cells.axis_index_sql(ZONE_MINX, res, lat=False)} AS xlo,
                       {cells.axis_index_sql(ZONE_MAXX, res, lat=False)} AS xhi,
                       {cells.axis_index_sql(ZONE_MINY, res, lat=True)} AS ylo,
                       {cells.axis_index_sql(ZONE_MAXY, res, lat=True)} AS yhi
                FROM nation),
         gx AS (SELECT zone_id, ylo, yhi, {seq('xlo', 'xhi')} AS ix FROM zb),
         grid AS (SELECT zone_id, ix, {seq('ylo', 'yhi')} AS iy FROM gx),
         k AS (SELECT zone_id, morton, hilbert FROM ({enc})),
         gm AS (SELECT zone_id,
                       CASE WHEN morton - lag(morton)
                                 OVER (PARTITION BY zone_id ORDER BY morton)
                                 > {1 << cells.RES_BITS} THEN 1 ELSE 0 END AS brk
                FROM k),
         gh AS (SELECT zone_id,
                       CASE WHEN hilbert - lag(hilbert)
                                 OVER (PARTITION BY zone_id ORDER BY hilbert)
                                 > 1 THEN 1 ELSE 0 END AS brk
                FROM k),
         rm AS (SELECT zone_id, CAST(1 + sum(brk) AS BIGINT) AS runs_morton,
                       CAST(count(*) AS BIGINT) AS n_cells
                FROM gm GROUP BY zone_id),
         rh AS (SELECT zone_id, CAST(1 + sum(brk) AS BIGINT) AS runs_hilbert
                FROM gh GROUP BY zone_id)
    SELECT rm.zone_id, rm.n_cells, rm.runs_morton, rh.runs_hilbert
    FROM rm JOIN rh ON rh.zone_id = rm.zone_id
    """


@register("hilbert_range_runs", _hilbert_runs_sql("duckdb"))
def q_hilbert_range_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-zone contiguous-run counts of the cell cover under Morton vs
    Hilbert index order — the range-scan locality comparison the Hilbert
    key exists for (geo/cells.py hilbert_steps; see _hilbert_runs_sql).
    Morton gaps compare at the cell-id stride (res bits suffix)."""
    return _sql_query(
        spark, sf_dir, _hilbert_runs_sql("spark"), views=("nation",)
    )


def _buffer_oracle_sql() -> str:
    """Closed-form oracle for zone_buffer_cells: a rect zone's res-R
    cover is an axis-index rectangle, and its k=1 Chebyshev dilation is
    the rectangle expanded one index per side, clipped to the lattice —
    pure integer arithmetic, INDEPENDENT of the engine's Morton
    round-trip (so the oracle actually checks the decode→ring→encode
    machinery instead of replaying it)."""
    res = BBOX_RES
    n = 1 << res
    return f"""
    WITH zb AS (SELECT n_nationkey AS zone_id,
                       {cells.axis_index_sql(ZONE_MINX, res, lat=False)} AS xlo,
                       {cells.axis_index_sql(ZONE_MAXX, res, lat=False)} AS xhi,
                       {cells.axis_index_sql(ZONE_MINY, res, lat=True)} AS ylo,
                       {cells.axis_index_sql(ZONE_MAXY, res, lat=True)} AS yhi
                FROM nation)
    SELECT zone_id,
           CAST((xhi - xlo + 1) * (yhi - ylo + 1) AS BIGINT) AS n_cover,
           CAST((least(xhi + 1, {n - 1}) - greatest(xlo - 1, 0) + 1)
              * (least(yhi + 1, {n - 1}) - greatest(ylo - 1, 0) + 1)
              AS BIGINT) AS n_buffered
    FROM zb
    """


@register("zone_buffer_cells", _buffer_oracle_sql())
def q_zone_buffer_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morphological buffer (k=1 Chebyshev dilation) of each zone's cell
    cover — the lattice form of ST_Buffer, the same resolution-knob
    discipline as region_dissolve. The ENGINE runs the full round trip:
    cover → Morton encode → decode (compact_steps) → 3×3 ring explode →
    clamp → re-encode → DISTINCT per zone; the ORACLE is independent
    closed-form clipped-rectangle arithmetic, so the query end-to-end
    checks the lattice algebra rather than replaying it. Scale shape:
    covers and dilations generate map-side (explode fan-out 9), the only
    shuffle is the per-zone DISTINCT."""
    from geografir_spark.operators.bbox_join import cover_bbox_cells

    res = BBOX_RES
    n = 1 << res
    zones = _zones_df(spark, sf_dir).drop("geom_wkt")
    covered = cover_bbox_cells(zones, res)
    # decode → dilate → clamp → re-encode: the real lattice round trip
    dec = cells.apply_steps(
        covered.select("zone_id", "cell"), cells.compact_steps("cell", "cx", "cy")
    ).select("zone_id", "cx", "cy")
    dil = dec.selectExpr(
        "zone_id", "cy", "explode(sequence(-1, 1)) AS dx", "cx"
    ).selectExpr(
        "zone_id", "cx", "cy", "dx", "explode(sequence(-1, 1)) AS dy"
    ).selectExpr(
        "zone_id",
        f"least(greatest(cx + dx, 0), {n - 1}) AS bx",
        f"least(greatest(cy + dy, 0), {n - 1}) AS by",
    )
    buffered = cells.apply_steps(
        dil, cells.encode_idx_steps("bx", "by", res, out="bcell")
    ).select("zone_id", "bcell").distinct()
    nc = covered.groupBy("zone_id").agg(F.countDistinct("cell").alias("n_cover"))
    nb = buffered.groupBy("zone_id").agg(F.count("*").alias("n_buffered"))
    return nc.join(nb, "zone_id").select("zone_id", "n_cover", "n_buffered")


def _collocation_sql(dialect: str, *, min_support: int = 5, k: int = 20) -> str:
    """PMI collocation mining (phrase extraction): the top-``k`` bigrams by
    pointwise-mutual-information lift ``p(ab) / (p(a)·p(b))`` with support
    ≥ ``min_support`` — the statistic multi-word-expression tokenizer
    vocabularies and phrase-mining passes rank by. PMI's log is monotone,
    so ranking by the RAW lift ratio avoids the one libm function (log)
    whose rounding is not guaranteed identical across engines; the ratio
    itself is a fixed left-to-right chain of divisions/multiplications on
    integer-exact counts, hence bit-identical doubles.

    Scale shape: two explode+count aggregations (tokens, bigrams — both
    partial-aggregated map-side), two broadcast scalar totals, a join of
    bigram counts to the unigram table on each component (fine-grained
    string keys, no skew beyond stopwords which min_support keeps), and a
    global top-k (TakeOrdered — no full sort). The bigram CTE feeds both
    the support filter and the total; Spark inlines multiply-referenced
    CTEs (no auto-materialization), so a production run over a real
    corpus should persist the bigram counts — one narrow cached table —
    before the two consumers."""
    from geografir_spark.operators.dedup import _shingles_expr
    from geografir_spark.operators.text import tokens_expr

    toks = tokens_expr("text", dialect)
    grams = _shingles_expr("text", 2, dialect)
    if dialect == "spark":
        tok_rows = f"SELECT explode({toks}) AS tok FROM documents"
        bg_rows = f"SELECT explode({grams}) AS bigram FROM documents"
        part = lambda n: f"split(bigram, ' ')[{n - 1}]"  # noqa: E731 (0-based)
    else:
        tok_rows = f"SELECT unnest({toks}) AS tok FROM documents"
        bg_rows = f"SELECT unnest({grams}) AS bigram FROM documents"
        part = lambda n: f"string_split(bigram, ' ')[{n}]"  # noqa: E731
    lift = (
        "CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE) / CAST(n_b AS DOUBLE)"
        " * CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE)"
        " / CAST(n_bi AS DOUBLE)"
    )
    return f"""
    WITH uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
                 FROM ({tok_rows}) GROUP BY tok),
         nu AS (SELECT CAST(sum(n) AS BIGINT) AS n_uni FROM uni),
         biall AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n_ab
                   FROM ({bg_rows}) GROUP BY bigram),
         bi AS (SELECT bigram, n_ab FROM biall WHERE n_ab >= {min_support}),
         nb AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_bi FROM biall),
         j AS (SELECT b.bigram, b.n_ab, ua.n AS n_a, ub.n AS n_b,
                      nu.n_uni, nb.n_bi
               FROM bi b
                 JOIN uni ua ON ua.tok = {part(1)}
                 JOIN uni ub ON ub.tok = {part(2)}, nu, nb)
    SELECT bigram, n_ab, n_a, n_b, {lift} AS lift
    FROM j ORDER BY lift DESC, bigram LIMIT {k}
    """


@register("pmi_collocations", _collocation_sql("duckdb"))
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PMI-lift bigram collocations with support ≥ 5 — integer
    counts, one fixed-order double ratio, global top-k
    (see _collocation_sql)."""
    return _sql_query(
        spark,
        sf_dir,
        _collocation_sql("spark"),
        repartition=True,
    )


def _anomaly_sql(dialect: str) -> str:
    """Daily-volume spike detection per event type, INTEGER-EXACT: flag
    days whose count exceeds the type's mean by more than 2 population
    standard deviations. The z-test is cross-multiplied into integers —
    ``x > μ + 2σ  ⇔  n·x − S > 0  AND  (n·x − S)² > 4·(n·Q − S²)`` with
    S = Σx, Q = Σx² — so no float ever forms and both engines agree
    bit-for-bit (the reported zscore_sq ratio is one fixed-order double
    division on the already-exact integers). BIGINT bounds: the squared
    term needs (n·x)² ≪ 2^63, i.e. day-count × daily-volume < ~3·10⁹ —
    ample for per-type daily rollups; a wider window at petabyte volume
    moves the same algebra to DECIMAL(38,0).

    Scale shape: one partial-aggregated (type, day) rollup, one tiny
    per-type moment aggregation that broadcasts back, flag evaluation
    map-side — a monitoring query whose cost is one scan regardless of
    corpus size."""
    us = (
        "unix_micros(CAST(ts AS TIMESTAMP))"
        if dialect == "spark"
        else "epoch_us(ts)"
    )
    day = (
        f"({us} DIV 86400000000)" if dialect == "spark" else f"({us} // 86400000000)"
    )
    return f"""
    WITH d AS (SELECT event_type, {day} AS day, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
         m AS (SELECT event_type,
                      CAST(count(*) AS BIGINT) AS n_days,
                      CAST(sum(n) AS BIGINT) AS s,
                      CAST(sum(n * n) AS BIGINT) AS q
               FROM d GROUP BY event_type)
    SELECT d.event_type, d.day, d.n, m.n_days, m.s, m.q,
           (CAST((m.n_days * d.n - m.s) AS DOUBLE)
            * CAST((m.n_days * d.n - m.s) AS DOUBLE)
            / CAST((m.n_days * m.q - m.s * m.s) AS DOUBLE)) AS zscore_sq
    FROM d JOIN m ON m.event_type = d.event_type
    WHERE m.n_days * d.n - m.s > 0
      AND (m.n_days * d.n - m.s) * (m.n_days * d.n - m.s)
          > 4 * (m.n_days * m.q - m.s * m.s)
    """


@register("event_spike_days", _anomaly_sql("duckdb"))
def q_event_spike_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spike days (> mean + 2σ) per event type — integer cross-multiplied
    z-test, one scan, per-type moments broadcast (see _anomaly_sql)."""
    return _sql_query(spark, sf_dir, _anomaly_sql("spark"), views=("events",))


def _drift_sql(dialect: str, *, min_support: int = 20, k: int = 20) -> str:
    """Snapshot drift monitoring: the top-``k`` tokens whose frequency
    shifted most between two corpus snapshots (deterministic ``doc_id % 2``
    stand-ins for consecutive crawls) — the distribution-shift check a
    continuously-refreshed training corpus needs before a new snapshot is
    admitted to the mix.

    Per-token two-sample chi-square term, kept exact: with o₁/o₂ the
    token's counts and N₁/N₂ the snapshot totals, the score is
    ``(o₁N₂ − o₂N₁)² / ((o₁+o₂)·N₁·N₂)``. The cross terms o·N stay in
    BIGINT; only the square is formed in DOUBLE (one fixed-order
    cast-multiply-divide chain, bit-identical across engines). A SUMMED
    chi-square statistic would add doubles in shuffle order — not
    reproducible — so the query reports the per-token top-k instead,
    which is also the actionable artifact (which tokens drifted, not just
    that something did).

    Scale shape: one explode+count per snapshot side carried in a single
    grouped scan (the side is an integer column, not two scans), FULL
    OUTER-free (missing side = 0 via conditional sums), two broadcast
    scalar totals, map-side score, global TakeOrdered top-k."""
    from geografir_spark.operators.text import tokens_expr

    toks = tokens_expr("text", dialect)
    ex = "explode" if dialect == "spark" else "unnest"
    num = (
        "CAST(o1 * n2 - o2 * n1 AS DOUBLE)"
    )
    score = (
        f"({num} * {num}"
        " / (CAST(o1 + o2 AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))"
    )
    return f"""
    WITH t AS (SELECT CAST(doc_id % 2 AS BIGINT) AS side, tok
               FROM (SELECT doc_id, {ex}({toks}) AS tok FROM documents)),
         c AS (SELECT tok,
                      CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS o1,
                      CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS o2
               FROM t GROUP BY tok),
         n AS (SELECT CAST(sum(o1) AS BIGINT) AS n1,
                      CAST(sum(o2) AS BIGINT) AS n2
               FROM c)
    SELECT tok, o1, o2, n1, n2, {score} AS drift_score
    FROM c, n
    WHERE o1 + o2 >= {min_support}
    ORDER BY drift_score DESC, tok LIMIT {k}
    """


@register("snapshot_drift_tokens", _drift_sql("duckdb"))
def q_snapshot_drift_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by two-sample chi-square drift between corpus
    snapshots — integer-exact counts, one fixed-order double score,
    global top-k (see _drift_sql)."""
    return _sql_query(
        spark,
        sf_dir,
        _drift_sql("spark"),
        repartition=True,
    )


_SHIPPING_PRIORITY_SQL = """
    WITH l AS (
      SELECT l_orderkey,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p_c,
             CAST(round(l_discount * 100) AS BIGINT)      AS d_c
      FROM lineitem
      WHERE l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    )
    SELECT o.o_orderkey,
           CAST(sum(l.p_c * (100 - l.d_c)) AS DOUBLE) / 10000.0 AS revenue,
           CAST(CAST(o.o_orderdate AS DATE) AS STRING) AS order_date,
           o.o_orderpriority
    FROM customer c
      JOIN orders o ON o.o_custkey = c.c_custkey
      JOIN l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderkey LIMIT 10
"""


def _morans_rollup_sql(dialect: str) -> str:
    """Geocode + res-4 rollup head of Moran's I: (pcell, c) — ≤ 4^4 rows.
    Split out so the ENGINE can materialize it once (localCheckpoint):
    the tail consumes it via 5 CTE paths and Spark inlines CTEs, so the
    un-materialized form recomputed the 600k-row geocode five times
    (measured 17.8 s → see q_morans_i_pages)."""
    return (
        f"SELECT {cells.parent_sql('cell', ROLLUP_RES)} AS pcell,"
        f" CAST(count(*) AS BIGINT) AS c"
        f" FROM ({_geocoded_base_sql(dialect)}) GROUP BY 1"
    )


def _morans_tail_sql(cc_rel: str) -> str:
    """Moran's I tail over an already-computed (pcell, c) relation —
    dialect-free (pure shared bit math + integer algebra)."""
    dec = cells.nested_sql(
        "SELECT pcell, c FROM cc", cells.compact_steps("pcell", "xi", "yi")
    )
    return f"""
    WITH cc AS (SELECT * FROM {cc_rel}),
         t AS ({dec}),
         scal AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(c) AS BIGINT) AS s
                  FROM cc),
         zz AS (SELECT t.xi, t.yi, (scal.n * t.c - scal.s) AS z
                FROM t, scal),
         ex AS (SELECT a.z * b.z AS p FROM zz a
                JOIN zz b ON a.xi + 1 = b.xi AND a.yi = b.yi),
         ey AS (SELECT a.z * b.z AS p FROM zz a
                JOIN zz b ON a.xi = b.xi AND a.yi + 1 = b.yi),
         eall AS (SELECT p FROM ex UNION ALL SELECT p FROM ey),
         agg AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
                        CAST(coalesce(sum(p), 0) AS BIGINT) AS half_num
                 FROM eall),
         dd AS (SELECT CAST(sum(z * z) AS BIGINT) AS den FROM zz)
    SELECT scal.n AS n_cells, scal.s AS n_pages, agg.n_edges,
           2 * agg.half_num AS num, dd.den AS den,
           (CAST(scal.n AS DOUBLE) * CAST(2 * agg.half_num AS DOUBLE)
            / (CAST(2 * agg.n_edges AS DOUBLE) * CAST(dd.den AS DOUBLE)))
               AS morans_i
    FROM scal, agg, dd
    """


def _morans_i_sql(dialect: str) -> str:
    """Moran's I spatial autocorrelation of page density on the cell
    lattice — THE classic "is this clustered or random?" statistic of
    spatial analysis, over the geocoded pages rolled up to res-4 cells
    with rook (edge) adjacency among observed cells.

    Exactness: with integer cell counts c_i, n cells and S total pages,
    substitute Z_i = n·c_i − S (= n·(c_i − μ), all BIGINT) — numerator
    Σ_adj Z_i·Z_j and denominator Σ Z_i² pick up the same n² factor, so
    the ratio is unchanged and every accumulation is integer
    (order-insensitive). The final I = (n/W)·(num/den) is one fixed-order
    double chain. BIGINT headroom: |Z| ≤ n·S, so the summed products need
    n²·S²·W ≪ 2^63 — fine for coarse-res rollups (n ≤ 256 here); a
    fine-res lattice at petabyte counts moves the same algebra to
    DECIMAL(38,0).

    Scale shape: one rollup agg, Morton-decode to (xi, yi) via the shared
    bit fragments (pure projection), rook adjacency as TWO hash
    equi-joins on shifted indices (a.xi+1 = b.xi etc. — Catalyst extracts
    the expression keys; never an OR-join nested loop), three scalar
    aggregates that broadcast. No geometry, no UDFs, no full sort."""
    return _morans_tail_sql(f"({_morans_rollup_sql(dialect)})")


def _getis_tail_sql(cc_rel: str, dialect: str, k: int = 15) -> str:
    """Getis-Ord Gi* hot-spot tail over a (pcell, c) rollup relation —
    the LOCAL complement of Moran's I (which is one global number): a
    standardized z-score per cell for its queen-neighborhood (3×3 incl.
    self) count sum, over OBSERVED cells (empty cells carry no
    observation on a sparse lattice; documented contract).

    Exactness: with the same Z-substitution as Moran's I, the numerator
    n·L_i − k_i·S and every variance term (n·Q − S², n·k_i − k_i²) are
    exact BIGINTs; the score is ONE double chain whose only libm call is
    sqrt — IEEE-754 requires sqrt to be correctly rounded (unlike ln),
    so both engines emit bit-identical doubles. Adjacency is an explode
    fan-out-9 equi-join on shifted indices (never an OR nested loop)."""
    dec = cells.nested_sql(
        "SELECT pcell, c FROM cc", cells.compact_steps("pcell", "xi", "yi")
    )
    if dialect == "spark":
        offs = (
            "SELECT xi, yi, c, explode(sequence(-1, 1)) AS dx FROM t"
        )
        offs2 = "SELECT xi, yi, c, dx, explode(sequence(-1, 1)) AS dy FROM o1"
    else:
        offs = "SELECT xi, yi, c, unnest(range(-1, 2)) AS dx FROM t"
        offs2 = "SELECT xi, yi, c, dx, unnest(range(-1, 2)) AS dy FROM o1"
    gi = (
        "CAST(num AS DOUBLE)"
        " / sqrt(CAST(nq_s2 AS DOUBLE) * CAST(nk_k2 AS DOUBLE)"
        f" / CAST(n - 1 AS DOUBLE))"
    )
    return f"""
    WITH cc AS (SELECT * FROM {cc_rel}),
         t AS ({dec}),
         scal AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(c) AS BIGINT) AS s,
                         CAST(sum(c * c) AS BIGINT) AS q
                  FROM cc),
         o1 AS ({offs}),
         msg AS (SELECT xi + dx AS txi, yi + dy AS tyi, c
                 FROM ({offs2})),
         loc AS (SELECT t.xi, t.yi, t.c,
                        CAST(sum(m.c) AS BIGINT) AS lsum,
                        CAST(count(*) AS BIGINT) AS kn
                 FROM t JOIN msg m ON m.txi = t.xi AND m.tyi = t.yi
                 GROUP BY t.xi, t.yi, t.c),
         z AS (SELECT loc.xi, loc.yi, loc.c, loc.lsum, loc.kn,
                      scal.n, (scal.n * loc.lsum - loc.kn * scal.s) AS num,
                      (scal.n * scal.q - scal.s * scal.s) AS nq_s2,
                      (scal.n * loc.kn - loc.kn * loc.kn) AS nk_k2
               FROM loc, scal)
    SELECT xi, yi, c AS n_pages, lsum AS nb_sum, kn AS n_nb,
           CAST(num AS BIGINT) AS num, {gi} AS gi_star
    FROM z ORDER BY gi_star DESC, xi, yi LIMIT {k}
    """


@register(
    "getis_ord_hotspots",
    lambda: _getis_tail_sql(f"({_morans_rollup_sql('duckdb')})", "duckdb"),
)
def q_getis_ord_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 Getis-Ord Gi* hot spots of geocoded page density on the
    res-4 lattice — local hot-spot z-scores complementing the global
    Moran's I (see _getis_tail_sql). Engine side reuses the
    localCheckpointed rollup (CTE-inlining discipline)."""
    cc = _sql_query(
        spark, sf_dir, _morans_rollup_sql("spark"), repartition=True
    ).localCheckpoint()
    return spark.sql(_getis_tail_sql("{cc}", "spark"), cc=cc)


_DBSCAN_MINPTS = 2


def _dbscan_oracle_sql() -> str:
    """Cell-DBSCAN oracle: recursive-CTE closure over 4-adjacency edges
    between core cells, singletons unioned in (the same replay pattern
    as _components_oracle)."""
    dec = cells.nested_sql(
        "SELECT pcell, c FROM cc", cells.compact_steps("pcell", "xi", "yi")
    )
    return f"""
    WITH RECURSIVE cc AS ({_morans_rollup_sql("duckdb")}),
    t AS ({dec}),
    core AS (SELECT pcell, xi, yi, c FROM t WHERE c >= {_DBSCAN_MINPTS}),
    e0 AS (SELECT a.pcell AS s, b.pcell AS d FROM core a JOIN core b
             ON a.xi + 1 = b.xi AND a.yi = b.yi
           UNION ALL
           SELECT a.pcell, b.pcell FROM core a JOIN core b
             ON a.xi = b.xi AND a.yi + 1 = b.yi),
    e AS (SELECT s, d FROM e0 UNION SELECT d, s FROM e0),
    reach (id, label) AS (
      SELECT s, s FROM e
      UNION
      SELECT e.d, r.label FROM reach r JOIN e ON e.s = r.id
    ),
    lab AS (SELECT id, min(label) AS label FROM reach GROUP BY id),
    allc AS (SELECT core.pcell AS id,
                    coalesce(lab.label, core.pcell) AS label, core.c
             FROM core LEFT JOIN lab ON lab.id = core.pcell)
    SELECT label AS cluster, CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(c) AS BIGINT) AS n_pages,
           CAST(min(id) AS BIGINT) AS min_cell
    FROM allc GROUP BY label
    """


@register("cell_dbscan_clusters", _dbscan_oracle_sql())
def q_cell_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based spatial clustering (cell-DBSCAN): core cells =
    rollup count ≥ minPts, clusters = connected components of the
    4-adjacency core-cell graph (operators/dedup.py:connected_components
    — the same iterative hash-min operator the dedup pipeline uses),
    singleton cores as their own clusters. Edges come from two shifted
    equi-joins, never an OR nested loop; the rollup is localCheckpointed
    per the CTE-inlining discipline. Oracle: recursive-CTE closure over
    the identical edge set."""
    from geografir_spark.operators.dedup import connected_components

    cc = _sql_query(
        spark, sf_dir, _morans_rollup_sql("spark"), repartition=True
    ).localCheckpoint()
    core = cells.apply_steps(
        cc.where(F.col("c") >= _DBSCAN_MINPTS),
        cells.compact_steps("pcell", "xi", "yi"),
    ).select("pcell", "xi", "yi", "c")
    a = core.selectExpr("pcell AS pa", "xi", "yi")
    b = core.selectExpr("pcell AS pb", "xi AS bxi", "yi AS byi")
    ex = a.join(b, (F.expr("xi + 1 = bxi")) & (F.expr("yi = byi")))
    ey = a.join(b, (F.expr("xi = bxi")) & (F.expr("yi + 1 = byi")))
    edges = ex.unionByName(ey).select("pa", "pb")
    # lattice adjacency graphs have LONG diameters (snaking cell
    # chains), unlike dup-cluster stars — plain hash-min measured ~100
    # rounds here; the operator's pointer-doubling makes it O(log d)
    labels = connected_components(edges, src="pa", dst="pb")
    lab = core.join(labels, core["pcell"] == labels["id"], "left").select(
        "pcell", F.coalesce("label", "pcell").alias("label"), "c"
    )
    return lab.groupBy(F.col("label").alias("cluster")).agg(
        F.count("*").alias("n_cells"),
        F.sum("c").alias("n_pages"),
        F.min("pcell").alias("min_cell"),
    )


@register("morans_i_pages", _morans_i_sql("duckdb"))
def q_morans_i_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I of geocoded page density (rook adjacency, res-4 rollup)
    — integer-exact numerator/denominator, one final double
    (see _morans_i_sql). Engine side materializes the ≤256-row rollup
    with localCheckpoint before the tail: Spark inlines CTEs and the
    tail has 5 consumer paths, so the un-materialized plan recomputed
    the 600k-row geocode 5× (measured 17.8 s → 1 geocode pass)."""
    cc = _sql_query(
        spark, sf_dir, _morans_rollup_sql("spark"), repartition=True
    ).localCheckpoint()
    return spark.sql(_morans_tail_sql("{cc}"), cc=cc)


@register("shipping_priority_topk", _SHIPPING_PRIORITY_SQL)
def q_shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style shipping priority: top-10 unshipped BUILDING-segment
    orders by revenue. Revenue accumulates in integer cents² (the Q1
    discipline — addition-order-insensitive, one final double divide);
    the order date is cast DATE→STRING in both dialects (the documented
    Spark-date vs DuckDB-datetime64 hash hazard). Plan shape: the
    segment-filtered customer side and the date-filtered orders side
    hash-join on custkey with both filters pushed to the scans, lineitem
    pre-aggregates nothing (per-order groups are small), and the top-10 is
    TakeOrdered — no global sort at any scale."""
    return _sql_query(
        spark,
        sf_dir,
        _SHIPPING_PRIORITY_SQL,
        views=("customer", "orders", "lineitem"),
    )


def _inc_minhash_sql(dialect: str) -> str:
    from geografir_spark.operators import dedup

    return dedup.incremental_minhash_sql(
        "documents", "doc_id", "text", dialect,
        new_pred="__doc % 2 = 1", seen_pred="__doc % 2 = 0",
    )


@register("incremental_minhash", _inc_minhash_sql("duckdb"))
def q_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch NEAR-dup gate (incremental_dedup's exact-hash sibling):
    new-batch docs (odd ids) sharing an LSH band bucket with the seen
    corpus (even ids), with match counts and earliest seen match. Full
    pipeline oracle-replayed in DuckDB."""
    return _sql_query(
        spark,
        sf_dir,
        _inc_minhash_sql("spark"),
        repartition=True,
    )


_INC_DEDUP_ORACLE = """
    WITH old AS (SELECT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
    fresh AS (
      SELECT d.doc_id, d.source, md5(d.text) AS h
      FROM documents d
      WHERE d.doc_id % 2 = 1
        AND md5(d.text) NOT IN (SELECT h FROM old)
    ),
    keep AS (
      SELECT h, min(doc_id) AS keeper FROM fresh GROUP BY h
    )
    SELECT f.source AS source,
           count(*) AS n_candidates,
           count(DISTINCT f.h) AS n_kept,
           CAST(sum(CASE WHEN f.doc_id = k.keeper THEN f.doc_id ELSE 0 END)
                AS BIGINT) AS keeper_id_sum
    FROM fresh f JOIN keep k ON f.h = k.h
    GROUP BY f.source
"""


@register("incremental_dedup", _INC_DEDUP_ORACLE)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup — the shape every production ingest runs:
    a NEW batch (odd doc_ids) dedupes against the SEEN corpus (even
    doc_ids) by content hash via a broadcast-able anti-join (no new-batch
    row survives if its hash exists), then within-batch keeper election
    (min id per surviving hash). At scale the seen side is the content-
    hash column of the corpus table: the anti-join hash-partitions both
    sides on h; AQE turns it into a broadcast when the new batch is small.
    One shuffle on h + one agg."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter("doc_id % 2 = 0").selectExpr("md5(text) AS h")
    new = docs.filter("doc_id % 2 = 1").selectExpr(
        "doc_id", "source", "md5(text) AS h"
    )
    fresh = new.join(old, "h", "left_anti")
    keep = fresh.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    return (
        fresh.join(keep, "h")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_candidates"),
            F.countDistinct("h").alias("n_kept"),
            F.sum(
                F.when(F.col("doc_id") == F.col("keeper"), F.col("doc_id")).otherwise(
                    F.lit(0)
                )
            ).alias("keeper_id_sum"),
        )
    )


def _components_oracle() -> str:
    """Recursive-CTE transitive closure over the MinHash candidate pairs:
    label = min doc id reachable. Fine at oracle scale (tens of pairs);
    the Spark side is the iterative label-propagation operator."""
    from geografir_spark.operators.dedup import minhash_pairs_sql

    pairs = minhash_pairs_sql("documents", "doc_id", "text", "duckdb")
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    e AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach (id, label) AS (
      SELECT s, s FROM e
      UNION
      SELECT e.d, r.label FROM reach r JOIN e ON e.s = r.id
    ),
    lab AS (SELECT id, min(label) AS label FROM reach GROUP BY id)
    SELECT label AS component, count(*) AS n_members,
           min(id) AS min_doc, max(id) AS max_doc
    FROM lab GROUP BY label
    """


@register("dedup_components", _components_oracle())
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate GROUPS: MinHash-LSH candidate pairs → connected
    components (iterative hash-min label propagation,
    operators/dedup.py:connected_components) → per-component stats. The
    component's label (min doc id) is the canonical keeper — the final
    stage of a dedup pipeline. Oracle: recursive-CTE transitive closure
    over the identical (DuckDB-replayed) pair set."""
    from geografir_spark.operators.dedup import connected_components

    pairs = QUERIES["dedup_minhash_pairs"].fn(spark, sf_dir)
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    return labels.groupBy(F.col("label").alias("component")).agg(
        F.count("*").alias("n_members"),
        F.min("id").alias("min_doc"),
        F.max("id").alias("max_doc"),
    )


def _winnow_fps_sql(dialect: str) -> str:
    """Per-document winnowed fingerprints: ``doc_id, source, text, fps``
    from the shared winnow_exprs steps."""
    from geografir_spark.geo.cells import nested_sql
    from geografir_spark.operators import text as textops

    steps = textops.winnow_exprs("text", dialect)
    steps[-1] = {"fps": steps[-1]["__fps"]}
    return nested_sql("SELECT doc_id, source, text FROM documents", steps)


def _winnow_sql(dialect: str, fps: "str | None" = None) -> str:
    """Same-source doc pairs sharing >= 2 winnowed fingerprints — the
    rolling-hash (MOSS) containment-candidate join. ``fps`` names a
    relation holding ``doc_id, source, fps`` (the engine's checkpoint);
    without it the fingerprints are computed in a leading ``f`` CTE."""
    head = f"f AS ({_winnow_fps_sql(dialect)}),\n         " if fps is None else ""
    unnest = "explode(fps)" if dialect == "spark" else "unnest(fps)"
    # document-frequency cap: a fingerprint held by more than max_df docs of
    # a source is a stop-print — it carries no discriminative signal and its
    # bucket joins quadratically (measured 218 s at sf0.1 without the cap:
    # the fixture's 31-token vocabulary makes low-hash shingles near-
    # universal). Same move MOSS makes; idf in spirit. Deterministic.
    return f"""
    WITH {head}e AS (SELECT doc_id, source, {unnest} AS fp FROM {fps or "f"}),
         rare AS (SELECT source, fp FROM e
                  GROUP BY source, fp HAVING count(*) <= 10),
         er AS (SELECT e.doc_id, e.source, e.fp
                FROM e JOIN rare ON e.source = rare.source AND e.fp = rare.fp)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(DISTINCT a.fp) AS BIGINT) AS n_shared
    FROM er a JOIN er b
      ON a.fp = b.fp AND a.source = b.source AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(DISTINCT a.fp) >= 2
    """


@register("winnow_pairs", _winnow_sql("duckdb"))
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken): k-gram rolling
    hashes -> per-window minima -> distinct selected prints; same-source
    pairs sharing >= 2 rare prints are containment/overlap candidates
    (prints held by >10 docs of a source are stop-prints — no signal,
    quadratic buckets). Any shared token run of length >= k+w-1 yields a
    shared print, so overlap detection is position-robust (whole-doc
    hashing is not). At scale the explode -> equi-join on (fp, source)
    shuffles ~2/(w+1) of the shingle volume (the winnowing density bound)
    and the df-cap bounds every join bucket at 10 docs.

    Engine side: the fingerprint stage is localCheckpointed and the
    oracle's own tail runs over it. __fps references __hs (md5 per
    shingle) five times, and without the barrier CollapseProject
    substitutes the whole shingle-hash expression into each of the tail's
    consumers — the re-inlining blowup documented in BENCH.md finding #1
    (measured 223 s -> ~3 s at sf0.1)."""
    cc = _sql_query(
        spark,
        sf_dir,
        f"SELECT doc_id, source, fps FROM ({_winnow_fps_sql('spark')})",
        repartition=True,
    ).localCheckpoint()
    return spark.sql(_winnow_sql("spark", "{cc}"), cc=cc)


_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"  # word / number / punct runs —
# backslash-free so the IDENTICAL pattern literal is valid in both regex
# dialects (Spark/Java vs DuckDB/RE2 escaping differs by one level, the
# documented cross-dialect hazard)


def _bpe_token_sql(dialect: str) -> str:
    """Subword-style (BPE-ish) token counts per document, aggregated per
    source: alpha runs, digit runs, and single punctuation marks count
    separately — the pre-tokenizer split every byte-pair vocabulary is
    trained over, and the budget metric ('will this doc fit the context?')
    a training pipeline actually needs, vs whitespace counting which
    undercounts punctuation-dense text. Map-only + one agg."""
    n = (
        f"size(regexp_extract_all(text, '{_BPE_PAT}', 0))"
        if dialect == "spark"
        else f"len(regexp_extract_all(text, '{_BPE_PAT}'))"
    )
    ws = (
        "size(split(text, ' '))" if dialect == "spark"
        else "len(string_split(text, ' '))"
    )
    return f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum({n}) AS BIGINT) AS total_bpe_tokens,
           CAST(max({n}) AS BIGINT) AS max_bpe_tokens,
           CAST(sum({ws}) AS BIGINT) AS total_ws_tokens
    FROM documents
    GROUP BY source
    """


@register("bpe_token_counts", _bpe_token_sql("duckdb"))
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source subword-style token budget (BPE pre-tokenizer split)
    alongside the whitespace count it corrects."""
    return _sql_query(spark, sf_dir, _bpe_token_sql("spark"), repartition=True)


def _rare_ngram_sql(dialect: str, *, rare_below: int = 50) -> str:
    """Rare character-bigram rate per document, aggregated per source — the
    integer-exact analog of perplexity quality filtering (CCNet-style): a
    document whose character n-grams are mostly corpus-rare is boilerplate,
    mojibake, or noise. Log-prob scoring would be the float form, but ln()
    differs in the last ulp across engines; counting bigrams below a corpus
    frequency threshold keeps every number integer and the oracle exact.
    Two aggregations: corpus bigram counts (vocab-bounded), then a
    broadcast-able join back to per-doc bigrams."""
    if dialect == "spark":
        # guard: sequence(1, 0) generates a DESCENDING [1, 0] for texts of
        # length <= 1 (spurious 1-char "bigrams"), while DuckDB's
        # range(1, length(text)) is empty — same hazard _shingles_expr guards
        bg = (
            "CASE WHEN length(text) >= 2 THEN"
            " transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"
            " ELSE CAST(array() AS array<string>) END"
        )
        ex = f"explode({bg})"
    else:
        bg = "list_transform(range(1, length(text)), i -> text[i:i+1])"
        ex = f"unnest({bg})"
    return f"""
    WITH bi AS (SELECT doc_id, source, {ex} AS bg FROM documents),
         counts AS (SELECT bg, count(*) AS c FROM bi GROUP BY bg),
         per_doc AS (
           SELECT doc_id, source,
                  count(*) AS n_bg,
                  sum(CASE WHEN c < {rare_below} THEN 1 ELSE 0 END) AS n_rare
           FROM bi JOIN counts ON bi.bg = counts.bg
           GROUP BY doc_id, source
         )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_rare) AS BIGINT) AS total_rare,
           CAST(max(n_rare) AS BIGINT) AS max_rare,
           CAST(sum(CASE WHEN n_rare * 20 >= n_bg THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged
    FROM per_doc
    GROUP BY source
    """


@register("rare_ngram_quality", _rare_ngram_sql("duckdb"))
def q_rare_ngram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rare-bigram quality stats; docs with >= 5% corpus-rare
    bigrams are flagged."""
    return _sql_query(
        spark,
        sf_dir,
        _rare_ngram_sql("spark"),
        repartition=True,
    )


def _repetition_sql(dialect: str, *, flag_pct: int = 20) -> str:
    """Per-document duplicate-n-gram fractions (Gopher/MassiveText-style
    repetition filters, Rae et al. 2021 §A1.1): a document whose word
    2-/3-grams repeat heavily is boilerplate or spam. Map-only — the
    shingle lists, distinct counts, and the flag are computed per row with
    no shuffle (the one GROUP BY is the final per-source rollup), so the
    filter costs one scan at any corpus size. Fractions are
    integer-over-integer divisions of the same literals on both engines."""
    from geografir_spark.operators.dedup import _shingles_expr

    sh2 = _shingles_expr("text", 2, dialect)
    sh3 = _shingles_expr("text", 3, dialect)
    if dialect == "spark":
        n2, d2 = f"size({sh2})", f"size(array_distinct({sh2}))"
        n3, d3 = f"size({sh3})", f"size(array_distinct({sh3}))"
    else:
        n2, d2 = f"len({sh2})", f"len(list_distinct({sh2}))"
        n3, d3 = f"len({sh3})", f"len(list_distinct({sh3}))"
    return f"""
    WITH g AS (SELECT doc_id, source,
                      CAST({n2} AS BIGINT) AS n_2g,
                      CAST({d2} AS BIGINT) AS u_2g,
                      CAST({n3} AS BIGINT) AS n_3g,
                      CAST({d3} AS BIGINT) AS u_3g
               FROM documents),
    f AS (SELECT *,
                 CAST(n_2g - u_2g AS DOUBLE) / CAST(greatest(n_2g, 1) AS DOUBLE)
                   AS dup_2g_frac,
                 CAST(n_3g - u_3g AS DOUBLE) / CAST(greatest(n_3g, 1) AS DOUBLE)
                   AS dup_3g_frac,
                 CASE WHEN (n_2g - u_2g) * 100 >= n_2g * {flag_pct}
                      THEN 1 ELSE 0 END AS flagged
          FROM g)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(flagged) AS BIGINT) AS n_flagged,
           max(dup_2g_frac) AS max_dup_2g_frac,
           max(dup_3g_frac) AS max_dup_3g_frac,
           CAST(sum(n_2g - u_2g) AS BIGINT) AS total_dup_2g
    FROM f GROUP BY source
    """


def _pii_scrub_sql(dialect: str) -> str:
    """PII redaction (email / IPv4 / +phone → typed tags) with per-row
    redaction counts. The corpus itself carries no PII (synthetic word-soup
    text), so the query materializes deterministic contact strings from
    customer keys FIRST — built from the same integer expressions on both
    engines — then runs the scrubber on them; the oracle compares the
    scrubbed strings byte-for-byte. The scrubber itself
    (operators/text.py:pii_scrub_expr) is one codegen'd regexp projection:
    map-only, no shuffle, no Python — the shape a 100 TB scrub pass needs."""
    from geografir_spark.operators.text import pii_count_expr, pii_scrub_expr

    contact = (
        "'Contact c' || CAST(c_custkey AS STRING)"
        " || ' at user' || CAST(c_custkey AS STRING) || '.'"
        " || lower(c_mktsegment) || '@mail.example.com or +1-202-555-'"
        " || lpad(CAST(c_custkey % 10000 AS STRING), 4, '0')"
        " || ' from 10.' || CAST(c_custkey % 256 AS STRING)"
        " || '.0.' || CAST((c_custkey * 7) % 256 AS STRING) || ' ok'"
    )
    scrub = pii_scrub_expr("text", dialect)
    return f"""
    WITH raw AS (SELECT c_custkey, {contact} AS text FROM customer),
    s AS (SELECT c_custkey, {scrub} AS scrubbed FROM raw)
    SELECT c_custkey, scrubbed,
           CAST({pii_count_expr('scrubbed', '<EMAIL>', dialect)} AS INTEGER)
             AS n_emails,
           CAST({pii_count_expr('scrubbed', '<IP>', dialect)} AS INTEGER)
             AS n_ips,
           CAST({pii_count_expr('scrubbed', '<PHONE>', dialect)} AS INTEGER)
             AS n_phones
    FROM s
    """


@register("pii_scrub", _pii_scrub_sql("duckdb"))
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/IP/phone redaction over synthesized contact strings — byte-exact
    scrubbed output plus per-category redaction counts."""
    return _sql_query(spark, sf_dir, _pii_scrub_sql("spark"), views=("customer",))


@register("repetition_quality", _repetition_sql("duckdb"))
def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate-n-gram repetition stats; docs whose 2-grams are
    >= 20% repeats are flagged (the integer-exact flag avoids comparing a
    float fraction to a threshold across engines)."""
    return _sql_query(spark, sf_dir, _repetition_sql("spark"), repartition=True)


def _rare_terms_sql(dialect: str, *, k: int = 3) -> str:
    """Per-source rarest terms — the integer-exact TF-IDF analog (rank by
    corpus document frequency ascending instead of multiplying by a float
    idf, so both engines agree bit-for-bit). Two hash aggs (corpus df,
    per-source presence) + a broadcast-able join back + one window: the
    term-statistics primitive behind vocabulary pruning and domain-drift
    monitoring in a training-data pipeline. df is vocab-bounded, so the
    join's build side is small at any corpus size."""
    if dialect == "spark":
        ex = "explode(array_distinct(split(text, ' ')))"
    else:
        ex = "unnest(list_distinct(string_split(text, ' ')))"
    return f"""
    WITH toks AS (SELECT doc_id, source, {ex} AS tok FROM documents),
         df AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
         st AS (SELECT source, tok, count(*) AS n_docs_src
                FROM toks GROUP BY source, tok),
         r AS (SELECT s.source, s.tok, s.n_docs_src, d.df,
                      row_number() OVER (PARTITION BY s.source
                                         ORDER BY d.df ASC, s.tok ASC) AS rnk
               FROM st s JOIN df d ON s.tok = d.tok)
    SELECT source, tok, CAST(df AS BIGINT) AS df,
           CAST(n_docs_src AS BIGINT) AS n_docs_src, rnk
    FROM r WHERE rnk <= {k}
    """


@register("rare_terms_per_source", _rare_terms_sql("duckdb"))
def q_rare_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 corpus-rarest terms per source with corpus df and per-source
    doc counts (integer-exact TF-IDF analog)."""
    return _sql_query(
        spark,
        sf_dir,
        _rare_terms_sql("spark"),
        repartition=True,
    )


_HULL_SRC = (
    f"(SELECT CAST(round(({_CUST_LON}) * 1000.0) AS BIGINT) AS xm,"
    f" CAST(round(({_CUST_LAT}) * 1000.0) AS BIGINT) AS ym"
    " FROM customer WHERE c_nationkey < 3)"
)


def _hull_oracle_sql() -> str:
    from geografir_spark.operators.hull import hull_edges_sql

    return hull_edges_sql(_HULL_SRC, "xm", "ym", "duckdb")


@register("customer_hull", _hull_oracle_sql())
def q_customer_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex hull vertex set of three nations' customer points in exact
    integer milli-degrees — the distributed reduction (operators/hull.py:
    per-partition monotone chain, bounded hull-candidate collect, final
    chain on the driver; the point data never moves). The oracle is the
    quadratic all-left edge test — restricted to ~180 points because it
    is O(n²·n), an oracle, not the scale path (1500 points already cost
    19 s in DuckDB)."""
    from geografir_spark.operators.hull import convex_hull

    cust = load_table(spark, sf_dir, "customer")
    cust = cust.where("c_nationkey < 3").selectExpr(
        f"CAST(round(({_CUST_LON}) * 1000.0) AS BIGINT) AS xm",
        f"CAST(round(({_CUST_LAT}) * 1000.0) AS BIGINT) AS ym",
    ).repartition(8)  # exercise the multi-partition reduction
    return convex_hull(cust, "xm", "ym")


def _idw_sql(dialect: str) -> str:  # noqa: ARG001 — shared text
    """Inverse-distance-weighted interpolation surface: estimate customer
    spend at every res-3 cell center from all customer point values —
    the classic spatial interpolation operator (IDW, Shepard's method).

    Fixed-point discipline (the repo's cross-engine exactness contract):
    per-(target, source) weight w = 1e6/d² floored to an integer and
    CAPPED at 1e8 (the quantization ceiling bounds both the influence of
    a source sitting arbitrarily close to a grid center and the BIGINT
    headroom: Σ v·w ≤ 5e5 dollars × 1e8 × 1.5e5 customers ≈ 7.5e18 <
    2^63 at sf1); per-order cents are floored PER ROW (one fixed double
    chain) then BIGINT-summed — a raw double SUM of prices would be
    aggregation-order dependent; numerator and denominator are then BIGINT sums —
    aggregation-order independent — and the final estimate is ONE
    correctly-rounded double division. Distance is planar on the lattice
    (the haversine path lives in operators/radius_join.py).

    Scale shape: the registry instance is global IDW — a 64-target ×
    |customers| broadcast nested loop (targets broadcast; correct for a
    small grid). A fine grid composes with the cell-disk candidate
    generator (geo/cells.disk + operators/knn.py) so each target only
    sees nearby sources — same weighted-sum SQL, bounded fan-in."""
    idiv = "//" if dialect == "duckdb" else "DIV"
    return f"""
    WITH ocents AS (SELECT o_custkey,
                           CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)
                             AS cents
                    FROM orders),
         spend AS (SELECT c.c_custkey, {_CUST_LON} AS lon, {_CUST_LAT} AS lat,
                          CAST(coalesce(sum(o.cents), 0) {idiv} 100 AS BIGINT)
                            AS v
                   FROM customer c LEFT JOIN ocents o
                     ON o.o_custkey = c.c_custkey
                   GROUP BY c.c_custkey),
         tgt AS (SELECT xi, yi,
                        -180.0 + (CAST(xi AS DOUBLE) + 0.5) * 45.0 AS tx,
                        -90.0 + (CAST(yi AS DOUBLE) + 0.5) * 22.5 AS ty
                 FROM (SELECT t1.xi, t2.yi
                       FROM (SELECT {{xs}} AS xi) t1, (SELECT {{ys}} AS yi) t2)),
         pairs AS (SELECT t.xi, t.yi, s.v,
                          least(CAST(floor(1000000.0 /
                              greatest((s.lon - t.tx) * (s.lon - t.tx)
                                       + (s.lat - t.ty) * (s.lat - t.ty),
                                       0.000001)) AS BIGINT),
                                100000000) AS wq
                   FROM spend s, tgt t)
    SELECT xi, yi, CAST(count(*) AS BIGINT) AS n_src,
           CAST(sum(v * wq) AS BIGINT) AS num,
           CAST(sum(wq) AS BIGINT) AS den,
           CAST(sum(v * wq) AS DOUBLE) / CAST(sum(wq) AS DOUBLE) AS idw
    FROM pairs GROUP BY xi, yi
    """.replace(
        "{xs}",
        ("unnest(range(0, 8))" if dialect == "duckdb" else "explode(sequence(0, 7))"),
    ).replace(
        "{ys}",
        ("unnest(range(0, 8))" if dialect == "duckdb" else "explode(sequence(0, 7))"),
    )


@register("idw_spend_surface", _idw_sql("duckdb"))
def q_idw_spend_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDW interpolation of customer spend onto the res-3 cell-center
    grid — fixed-point quantized weights, BIGINT num/den, one final
    double division (see _idw_sql)."""
    return _sql_query(
        spark, sf_dir, _idw_sql("spark"), views=("customer", "orders")
    )


def _editdist_sql(dialect: str) -> str:
    from geografir_spark.operators.text import editdist_pairs_sql

    idiv = "DIV" if dialect == "spark" else "//"
    return editdist_pairs_sql(
        "documents",
        "doc_id",
        "substr(text, 1, 32)",
        ("lang", f"n_chars {idiv} 64"),
        10,
        dialect,
    )


@register("editdist_prefix_pairs", _editdist_sql("duckdb"))
def q_editdist_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup candidate pairs by edit distance on 32-char text
    prefixes, blocked by (lang, length bucket) — the record-linkage /
    typo'd-title join (operators/text.py editdist_pairs_sql); levenshtein
    is built-in and integer-exact in both engines."""
    return _sql_query(spark, sf_dir, _editdist_sql("spark"), repartition=True)


_BM25_TERMS = ("spark", "merge", "window", "hash")


def _bm25_sql(dialect: str) -> str:
    from geografir_spark.operators.ranking import bm25_sql

    return bm25_sql("documents", "doc_id", "text", _BM25_TERMS, dialect)


@register("bm25_topk", _bm25_sql("duckdb"))
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 docs for a 4-term bag-of-words query by rational-idf BM25
    (log-free, micro-integer scores — see operators/ranking.py). The
    lexical leg of hybrid retrieval next to ann_cosine_topk."""
    return _sql_query(
        spark,
        sf_dir,
        _bm25_sql("spark"),
        repartition=True,
    )


_RRF_K = 60
_HYBRID_N = 20


def _duckdb_cosine(a: str, b: str) -> str:
    """The oracles' cosine of two DuckDB list columns. A zero vector reads
    0.0, as in the engine's ``similarity.cosine_sql``; DuckDB 1.0's bare
    ``list_cosine_similarity`` reads -1.0 there. The result type is the
    lists' element type, as with the bare call."""
    return (
        f"CASE WHEN list_dot_product({a}, {a}) = 0"
        f" OR list_dot_product({b}, {b}) = 0"
        f" THEN 0.0 ELSE list_cosine_similarity({a}, {b}) END"
    )


def _cos_expr(dialect: str) -> str:
    """Cosine similarity of pvec/tvec array columns, both dialects."""
    if dialect == "duckdb":
        return _duckdb_cosine("pvec", "tvec")
    from geografir_spark.operators.similarity import cosine_sql

    return cosine_sql("pvec", "tvec")


def _hybrid_lex_sql(dialect: str) -> str:
    """Hybrid retrieval's lexical leg: BM25's top-N list."""
    from geografir_spark.operators.ranking import bm25_sql

    return bm25_sql("documents", "doc_id", "text", _BM25_TERMS, dialect, k=_HYBRID_N)


def _hybrid_sem_sql(dialect: str) -> str:
    """Hybrid retrieval's semantic leg: the top-N embeddings by exact
    cosine to probe vec 0, cut by ORDER BY + LIMIT (Spark:
    TakeOrderedAndProject — a distributed per-partition top-k + driver
    merge, NOT a global sort shuffle of the corpus)."""
    return f"""
    WITH pv AS (SELECT embedding AS pvec FROM embeddings WHERE vec_id = 0),
         sem0 AS (SELECT vec_id AS doc_id, {_cos_expr(dialect)} AS c
                  FROM (SELECT vec_id, embedding AS tvec FROM embeddings
                        WHERE vec_id <> 0), pv)
    SELECT doc_id, c FROM sem0 ORDER BY c DESC, doc_id LIMIT {_HYBRID_N}
    """


def _hybrid_tail_sql(lex_top: str, sem_top: str) -> str:
    """Reciprocal-rank fusion of the ≤N-row lists ``lex_top`` (doc_id,
    score_micro) and ``sem_top`` (doc_id, c) — THE standard hybrid-search
    combiner (RRF: score = Σ 1/(k + rank), k=60), identical in both
    dialects. Integer-exact: each list contributes floor(1e6/(60+rank))
    micro-units — rank is an integer, the division one deterministic
    double op, floor exact — summed as BIGINT over at most two terms.
    Docs in only one list still score (FULL OUTER semantics via the
    union-groupBy form). vec_id aligns with doc_id by fixture
    construction (500 rows each). Ranks come from a theta-join count
    (rank(a) = #rows ≥ a in the list order), an N²≤400-row join — the
    plan carries NO partition-less WindowExec at all."""
    return f"""
    WITH lex AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS rnk
                 FROM {lex_top} a JOIN {lex_top} b
                   ON b.score_micro > a.score_micro
                      OR (b.score_micro = a.score_micro
                          AND b.doc_id <= a.doc_id)
                 GROUP BY a.doc_id),
         sem AS (SELECT a.doc_id, CAST(count(*) AS BIGINT) AS rnk
                 FROM {sem_top} a JOIN {sem_top} b
                   ON b.c > a.c OR (b.c = a.c AND b.doc_id <= a.doc_id)
                 GROUP BY a.doc_id),
         contrib AS (SELECT doc_id,
                            CAST(floor(1000000.0 / ({_RRF_K} + rnk))
                                 AS BIGINT) AS c_micro
                     FROM lex
                     UNION ALL
                     SELECT doc_id,
                            CAST(floor(1000000.0 / ({_RRF_K} + rnk))
                                 AS BIGINT) AS c_micro
                     FROM sem)
    SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS rrf_micro,
           CAST(count(*) AS BIGINT) AS n_lists
    FROM contrib GROUP BY doc_id
    ORDER BY rrf_micro DESC, doc_id LIMIT 10
    """


@register(
    "hybrid_retrieval_rrf",
    f"""
    WITH lex_top AS ({_hybrid_lex_sql("duckdb")}),
         sem_top AS ({_hybrid_sem_sql("duckdb")})
    SELECT * FROM ({_hybrid_tail_sql("lex_top", "sem_top")})
    """,
)
def q_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 lexical list and the exact-
    cosine semantic list — hybrid search, the composition the two
    retrieval legs exist for (see _hybrid_tail_sql).

    Engine side: each ≤20-row leg is localCheckpointed and the oracle's
    own rank-and-fuse tail runs over the two checkpoints. The theta-join
    rank reads its leg twice and Spark inlines CTEs, so the single-
    statement form re-ran BM25 and the cosine scan per reference
    (measured 2.2 s vs 1.1 s at sf0.1; DuckDB materializes CTEs)."""
    lex_top = _sql_query(
        spark, sf_dir, _hybrid_lex_sql("spark"), repartition=True
    ).localCheckpoint()
    sem_top = _sql_query(
        spark, sf_dir, _hybrid_sem_sql("spark"), views=("embeddings",),
        repartition=True,
    ).localCheckpoint()
    return spark.sql(
        _hybrid_tail_sql("{lex_top}", "{sem_top}"), lex_top=lex_top, sem_top=sem_top
    )


def _lang_id_sql(dialect: str) -> str:
    from geografir_spark.operators import text as textops

    return (
        f"SELECT {textops.lang_id_expr('text', dialect)} AS lang_pred,"
        f" count(*) AS n FROM documents GROUP BY lang_pred"
    )


@register("lang_id", _lang_id_sql("duckdb"))
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID distribution over the corpus."""
    return _sql_query(spark, sf_dir, _lang_id_sql("spark"), repartition=True)


_ANN_K = 5
_ANN_PROBES = 8


def _ann_inputs(spark: SparkSession, sf_dir: str) -> "tuple[DataFrame, DataFrame]":
    """The ANN queries' (probes, targets): the first _ANN_PROBES embeddings
    as (probe_id, pvec) and all of them as (neighbor_id, tvec)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < _ANN_PROBES).selectExpr(
        "vec_id AS probe_id", "embedding AS pvec"
    )
    return probes, emb.selectExpr("vec_id AS neighbor_id", "embedding AS tvec")


@register(
    "ann_cosine_topk",
    f"""
    WITH p AS (SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings
               WHERE vec_id < {_ANN_PROBES}),
         t AS (SELECT vec_id AS neighbor_id, embedding AS tvec FROM embeddings),
         d AS (SELECT probe_id, neighbor_id,
                      {_duckdb_cosine("pvec", "tvec")} AS c
               FROM p CROSS JOIN t WHERE probe_id != neighbor_id),
         r AS (SELECT probe_id, neighbor_id,
                      row_number() OVER (PARTITION BY probe_id
                                         ORDER BY c DESC, neighbor_id ASC) AS rank
               FROM d)
    SELECT probe_id, neighbor_id, rank FROM r WHERE rank <= {_ANN_K}
    """,
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table (exact ANN
    baseline; JVM-native fold, no Python)."""
    from geografir_spark.operators.similarity import cosine_topk

    probes, targets = _ann_inputs(spark, sf_dir)
    return cosine_topk(probes, targets, k=_ANN_K)


def _lsh_oracle_sql(n_planes: int = 4, n_tables: int = 8) -> str:
    """DuckDB replica of the FULL LSH pipeline — the hyperplanes are
    md5-derived constants, so the oracle embeds them as literals and
    recomputes signatures, bucket join, exact refine, and top-k. Bucket
    bits compare a dot product against 0; numpy matmul and DuckDB's
    list_dot_product may differ by ~1e-16 in summation order, which flips a
    bit only if |dot| < that error — probability ~1e-10 over this corpus."""
    from geografir_spark.operators.similarity import hyperplanes

    planes = hyperplanes(n_planes * n_tables, 64)
    rows = []
    for p in range(planes.shape[0]):
        lst = "[" + ", ".join(repr(float(c)) for c in planes[p]) + "]"
        rows.append(
            f"({p // n_planes}, {1 << (p % n_planes)}, CAST({lst} AS DOUBLE[]))"
        )
    planes_sql = "planes(tbl, wt, coefs) AS (VALUES " + ", ".join(rows) + ")"
    return f"""
    WITH {planes_sql},
    p AS (SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings
          WHERE vec_id < {_ANN_PROBES}),
    t AS (SELECT vec_id AS neighbor_id, embedding AS tvec FROM embeddings),
    tb AS (SELECT neighbor_id, tbl,
                  sum(CASE WHEN list_dot_product(CAST(tvec AS DOUBLE[]), coefs) >= 0
                      THEN wt ELSE 0 END) AS bucket
           FROM t CROSS JOIN planes GROUP BY neighbor_id, tbl),
    pb AS (SELECT probe_id, tbl,
                  sum(CASE WHEN list_dot_product(CAST(pvec AS DOUBLE[]), coefs) >= 0
                      THEN wt ELSE 0 END) AS bucket
           FROM p CROSS JOIN planes GROUP BY probe_id, tbl),
    cand AS (SELECT DISTINCT probe_id, neighbor_id
             FROM pb JOIN tb ON pb.tbl = tb.tbl AND pb.bucket = tb.bucket
             WHERE probe_id != neighbor_id),
    d AS (SELECT c.probe_id, c.neighbor_id,
                 {_duckdb_cosine("p.pvec", "t.tvec")} AS cs
          FROM cand c JOIN p ON p.probe_id = c.probe_id
                      JOIN t ON t.neighbor_id = c.neighbor_id),
    r AS (SELECT probe_id, neighbor_id,
                 row_number() OVER (PARTITION BY probe_id
                                    ORDER BY cs DESC, neighbor_id ASC) AS rank
          FROM d)
    SELECT probe_id, neighbor_id, rank FROM r WHERE rank <= {_ANN_K}
    """


@register("ann_lsh_topk", _lsh_oracle_sql())
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate cosine top-k (random hyperplanes, bucket
    equi-join + exact refine) — the 100 TB-scale ANN path. The whole
    approximate pipeline is deterministic, so it's oracle-checked
    end-to-end (signatures, buckets, candidates, refine, ranks)."""
    from geografir_spark.operators.similarity import lsh_bucketed_topk

    probes, targets = _ann_inputs(spark, sf_dir)
    return lsh_bucketed_topk(probes, targets, k=_ANN_K, dim=64, n_planes=4, n_tables=8)


_IVF_LISTS = 32
_IVF_PROBES_N = 8


def _replayed_centroid_values(sf_dir: str, n_lists: int) -> str:
    """Retrain the deterministic spherical-kmeans centroids OUTSIDE Spark
    and render them as a SQL VALUES list ``(list_id, coefs DOUBLE[])``.

    The training sample is the 4,096 rows of ``embeddings`` in
    (hash60(vec_id), vec_id) order — hash60 is plain md5, replayed here
    with hashlib — and ``train_centroids_np`` is RNG-free, so the numpy
    matrix trained here is bit-identical to the one the Spark queries train
    at the same sf. Shared by the IVF-Flat and SemDeDup oracles; the
    near-dup blocks of ``dedup_embedding_pairs`` train on the same sample
    (``similarity._train_sample``), though its exact oracle needs no
    centroids."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    from geografir_spark.operators.similarity import train_centroids_np

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = tbl.column("vec_id").to_numpy(zero_copy_only=False)
    vecs = tbl.column("embedding").to_pylist()
    h = np.asarray(
        [int(hashlib.md5(str(int(i)).encode()).hexdigest()[:15], 16) for i in ids],
        dtype=np.uint64,
    )
    order = np.lexsort((ids, h))[:4096]
    X = np.asarray([vecs[i] for i in order], dtype=np.float64)
    C = train_centroids_np(X, n_lists)
    return ", ".join(
        f"({j}, CAST([" + ", ".join(repr(float(c)) for c in C[j]) + "] AS DOUBLE[]))"
        for j in range(C.shape[0])
    )


def _ivf_oracle_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """DuckDB replica of the FULL IVF-Flat pipeline (VERDICT r2 #6: the
    centroids are deterministic, so train FIRST, embed them as literals —
    see _replayed_centroid_values). The SQL replays assignment (argmax dot,
    ties to the lower list id — numpy argmax/stable-argsort semantics), the
    n_probes inverted-list join, exact cosine refine, and ranking.
    Like the LSH oracle, assignment compares dot products that numpy and
    DuckDB may round differently in the last ulp; a flip needs two
    centroids tied within ~1e-16 — not observed on this corpus."""
    rows = _replayed_centroid_values(sf_dir, _IVF_LISTS)
    return f"""
    WITH centroids(list_id, coefs) AS (VALUES {rows}),
    p AS (SELECT vec_id AS probe_id, embedding AS pvec FROM embeddings
          WHERE vec_id < {_ANN_PROBES}),
    t AS (SELECT vec_id AS neighbor_id, embedding AS tvec FROM embeddings),
    td AS (SELECT neighbor_id, tvec, list_id,
                  list_dot_product(CAST(tvec AS DOUBLE[]), coefs) AS dp
           FROM t CROSS JOIN centroids),
    ta AS (SELECT neighbor_id, tvec, list_id,
                  row_number() OVER (PARTITION BY neighbor_id
                                     ORDER BY dp DESC, list_id ASC) AS rn
           FROM td),
    tl AS (SELECT neighbor_id, tvec, list_id FROM ta WHERE rn = 1),
    pd_ AS (SELECT probe_id, pvec, list_id,
                   list_dot_product(CAST(pvec AS DOUBLE[]), coefs) AS dp
            FROM p CROSS JOIN centroids),
    pa AS (SELECT probe_id, pvec, list_id,
                  row_number() OVER (PARTITION BY probe_id
                                     ORDER BY dp DESC, list_id ASC) AS rn
           FROM pd_),
    pl AS (SELECT probe_id, pvec, list_id FROM pa WHERE rn <= {_IVF_PROBES_N}),
    cand AS (SELECT pl.probe_id, pl.pvec, tl.neighbor_id, tl.tvec
             FROM pl JOIN tl ON pl.list_id = tl.list_id
             WHERE pl.probe_id != tl.neighbor_id),
    d AS (SELECT probe_id, neighbor_id,
                 {_duckdb_cosine("pvec", "tvec")} AS cs FROM cand),
    r AS (SELECT probe_id, neighbor_id,
                 row_number() OVER (PARTITION BY probe_id
                                    ORDER BY cs DESC, neighbor_id ASC) AS rank
          FROM d)
    SELECT probe_id, neighbor_id, rank FROM r WHERE rank <= {_ANN_K}
    """


@register("ann_ivf_topk", _ivf_oracle_sql)  # lazily generated (trains first)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate cosine top-k: spherical-kmeans coarse quantizer
    (deterministic, driver-trained on a hash-ordered sample) → inverted-list
    equi-join → exact refine. The training-pass ANN scale path; shuffle
    volume |targets| + |probes|×n_probes vs LSH's n_tables× replication.
    Oracle-checked end-to-end: _ivf_oracle_sql retrains the identical
    centroids outside Spark and replays the full pipeline in DuckDB."""
    from geografir_spark.operators.similarity import ivf_topk

    probes, targets = _ann_inputs(spark, sf_dir)
    return ivf_topk(
        probes, targets, k=_ANN_K, n_lists=_IVF_LISTS, n_probes=_IVF_PROBES_N
    )


# ---------------------------------------------------------------------------
# Relational coverage: grouping sets, window frames, set ops, jaccard refine
# ---------------------------------------------------------------------------

@register(
    "cube_cell_lang",
    f"""
    WITH g AS (SELECT {cells.parent_sql('cell', ROLLUP_RES)} AS parent_cell, lang
               FROM ({_geocoded_pages_oracle_base()}))
    SELECT parent_cell, lang, count(*) AS n
    FROM g GROUP BY CUBE (parent_cell, lang)
    """,
)
def q_cube_cell_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: per-(cell, lang), per-cell, per-lang and grand totals
    in one pass (cube → partial aggregation handles all levels map-side)."""
    p = _geocoded_pages(spark, sf_dir)
    p = cells.with_parent(p, "cell", ROLLUP_RES)
    return p.cube("parent_cell", "lang").agg(F.count("*").alias("n"))


@register(
    "window_cumulative",
    """
    SELECT event_id, user_id,
           CAST(sum(CAST(round(value * 100.0) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_cents,
           row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
             AS seq
    FROM events
    """,
)
def q_window_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running frame aggregation per key. Summed in integer cents: engines
    legitimately differ in float window accumulation order (segment-tree vs
    sequential), so the exact-match contract demands integer arithmetic."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").selectExpr(
        "*", "CAST(round(value * 100.0) AS BIGINT) AS cents"
    )
    w = W.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return ev.select(
        "event_id",
        "user_id",
        F.sum("cents").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum_cents"),
        F.row_number().over(w).alias("seq"),
    )


_NTILE_SQL = """
    WITH r AS (
      SELECT source,
             ntile(4) OVER (PARTITION BY source
                            ORDER BY n_chars ASC, doc_id ASC) AS quartile,
             n_chars
      FROM documents
    )
    SELECT source, quartile, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM r GROUP BY source, quartile
"""


@register("ntile_doc_lengths", _NTILE_SQL)
def q_ntile_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile window coverage: per-source length quartiles (deterministic
    total order) with per-bucket stats — same SQL text on both engines
    (ntile's floor-based bucket rule is identical)."""
    return _sql_query(spark, sf_dir, _NTILE_SQL)


_DECORRELATE_SQL = """
    WITH oc AS (SELECT o_custkey,
                       CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
                FROM orders),
    t AS (SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS total_cents
          FROM oc GROUP BY o_custkey),
    n AS (SELECT c2.c_nationkey AS nk,
                 CAST(sum(o2.cents) AS BIGINT) AS nsum_cents,
                 count(DISTINCT o2.o_custkey) AS ncust
          FROM customer c2 JOIN oc o2 ON o2.o_custkey = c2.c_custkey
          GROUP BY c2.c_nationkey)
    SELECT c.c_nationkey AS nation_key, count(*) AS n_big_spenders,
           CAST(sum(t.total_cents) AS BIGINT) AS cents_sum
    FROM customer c
    JOIN t ON t.o_custkey = c.c_custkey
    JOIN n ON n.nk = c.c_nationkey
    WHERE t.total_cents * n.ncust > n.nsum_cents
    GROUP BY c.c_nationkey
"""


@register("nation_big_spenders", _DECORRELATE_SQL)
def q_nation_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate shape (customers whose order total exceeds
    their nation's per-customer average). Everything runs in per-row
    integer CENTS, so sums are order-independent and the average enters
    as the cross-multiplied comparison ``total × n_cust > nation_sum`` —
    no float ever touches the predicate. The Spark side states the
    CORRELATED scalar-subquery form and lets Catalyst decorrelate it into
    the aggregated joins the oracle writes explicitly."""
    return _sql_query(spark, sf_dir, """
        WITH oc AS (SELECT o_custkey,
                           CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
                    FROM orders),
        t AS (SELECT o_custkey, sum(cents) AS total_cents
              FROM oc GROUP BY o_custkey)
        SELECT c.c_nationkey AS nation_key, count(*) AS n_big_spenders,
               CAST(sum(t.total_cents) AS BIGINT) AS cents_sum
        FROM customer c JOIN t ON t.o_custkey = c.c_custkey
        WHERE t.total_cents * (
            SELECT count(DISTINCT o2.o_custkey)
            FROM customer c2 JOIN oc o2 ON o2.o_custkey = c2.c_custkey
            WHERE c2.c_nationkey = c.c_nationkey
        ) > (
            SELECT sum(o2.cents)
            FROM customer c2 JOIN oc o2 ON o2.o_custkey = c2.c_custkey
            WHERE c2.c_nationkey = c.c_nationkey
        )
        GROUP BY c.c_nationkey
    """, views=("customer", "orders"))


@register(
    "active_customer_nations",
    """
    SELECT c_nationkey AS nation_key FROM customer
    INTERSECT
    SELECT c.c_nationkey AS nation_key
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE o.o_totalprice > 100000
    """,
)
def q_active_customer_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection (INTERSECT) over a join-derived side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    left = c.selectExpr("c_nationkey AS nation_key")
    right = (
        o.filter(F.col("o_totalprice") > 100000)
        .join(c, o["o_custkey"] == c["c_custkey"])
        .selectExpr("c_nationkey AS nation_key")
    )
    return left.intersect(right)


@register(
    "customers_without_orders",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT) — resume-style anti-join shape."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").selectExpr("o_custkey AS c_custkey")
    return c.exceptAll(o).distinct()


def _ngram_jaccard_spark_sql() -> str:
    """LSH-fed exact-jaccard refine with a SHUFFLE-FREE dictionary encode.

    r2/r3 verdicts: the blocked-quadratic form of this query must never be
    the registry default (its own measurement: blocking pruned 203 of
    622,500 pairs), and the r3 dictionary encode built vocab ids with a
    partition-less ``row_number() OVER (ORDER BY tok)`` — a single-reducer
    sort of the vocabulary, billions of rows on a web corpus.  This form
    fixes both:

    * candidates come from MinHash-LSH band buckets (shuffle O(docs×bands),
      the production shape — identical generator to ``lsh_jaccard_refine``);
    * token ids are ``xxhash64(tok)`` computed INLINE per document — no
      vocab relation, no join, no window, zero extra shuffles.  Injectivity
      on the corpus vocabulary is asserted inside the plan: a 1-row
      ``chk`` relation counts distinct tokens vs distinct hashes and
      ``assert_true`` fails the job on any collision (at 2⁶⁴, collisions
      expect ~n²/2⁶⁵ — a 10⁹-token vocab has p≈3e-2; on collision the job
      fails loudly and the string-refine form (``lsh_jaccard_refine``) is
      the fallback, never a silent wrong answer).

    The refine intersects sorted int64 arrays instead of strings (the r3
    measurement that motivated the encode: 3× on the refine at sf0.1);
    |A∪B| = |A|+|B|−|A∩B| keeps it one intersect per pair.  The quadratic
    blocked form survives only as the recall oracle in
    tests/test_jaccard_recall.py.

    Collision-guard scope (r5, ADVICE low — adjudicated, kept as-is):
    restricting ``chk`` to candidate docs' tokens would be cheaper in
    principle (collisions only matter for candidate pairs), but it makes
    ``cand`` a MULTIPLY-referenced CTE — Spark inlines those, and the LSH
    pair generator would recompute once per consumer path (this repo's
    most-measured perf class: minhash signatures cost 65 s when doubled in
    r2).  The corpus-wide check is one extra map-side partial aggregation
    over the token stream with no join back to ``cand``; it runs in
    parallel with the refine and is the cheaper total plan.  The
    OR-short-circuit never firing on an empty refine result is benign for
    the same reason the advisor concedes: with zero candidate pairs there
    is no output a collision could corrupt."""
    from geografir_spark.operators import dedup

    cand = dedup.minhash_pairs_sql("documents", "doc_id", "text", "spark")
    return f"""
    WITH cand AS ({cand}),
         toks0 AS (SELECT doc_id, array_distinct(split(text, ' ')) AS tw
                   FROM documents),
         chk AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS n_tok,
                        CAST(count(DISTINCT xxhash64(tok)) AS BIGINT) AS n_tid
                 FROM (SELECT explode(tw) AS tok FROM toks0)),
         toks AS (SELECT doc_id,
                         array_sort(transform(tw, t -> xxhash64(t))) AS tk,
                         size(tw) AS n
                  FROM toks0),
         refined AS (SELECT c.doc_a, c.doc_b,
                            size(array_intersect(a.tk, b.tk)) AS n_common,
                            a.n + b.n AS n_sum
                     FROM cand c
                       JOIN toks a ON a.doc_id = c.doc_a
                       JOIN toks b ON b.doc_id = c.doc_b)
    SELECT doc_a, doc_b, n_common,
           CAST(n_sum - n_common AS INT) AS n_union
    FROM refined, chk
    WHERE (chk.n_tok = chk.n_tid
           OR assert_true(false, 'xxhash64 vocab collision') IS NOT NULL)
      AND n_common * 10 >= (n_sum - n_common) * 3
    """


@register("ngram_jaccard_pairs", lambda: _lsh_jaccard_refine_sql("duckdb"))
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production near-dup refine: MinHash-LSH candidates → exact token-set
    jaccard ≥ 0.3 over xxhash64 dictionary-encoded token arrays (see
    _ngram_jaccard_spark_sql — shuffle-free encode, in-plan collision
    assert).  Same output relation as ``lsh_jaccard_refine`` (the string
    form); the DuckDB oracle replays signatures → buckets → candidates →
    string refine, so the int encode is verified end-to-end against an
    encode-free oracle."""
    return _sql_query(
        spark,
        sf_dir,
        _ngram_jaccard_spark_sql(),
        views=("documents",),
        repartition=True,
    )


def _lsh_jaccard_refine_sql(dialect: str) -> str:
    """MinHash-LSH candidates → exact jaccard refine, end-to-end in one
    dual-dialect statement — the SCALE-CORRECT composition of the two
    dedup stages (VERDICT r2: ngram_jaccard_pairs as written is
    O(block²) and must never run on a Zipfian corpus; the production form
    refines LSH candidates only, O(co-bucketed pairs)). Both stages are
    md5/integer-exact, so the whole pipeline is oracle-checkable."""
    from geografir_spark.operators import dedup

    cand = dedup.minhash_pairs_sql("documents", "doc_id", "text", dialect)
    if dialect == "spark":
        toks = "SELECT doc_id, array_distinct(split(text, ' ')) AS tk FROM documents"
        inter = "size(array_intersect(a.tk, b.tk))"
        uni = "size(array_union(a.tk, b.tk))"
    else:
        toks = (
            "SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk"
            " FROM documents"
        )
        inter = "len(list_intersect(a.tk, b.tk))"
        uni = "len(list_distinct(list_concat(a.tk, b.tk)))"
    # tokenize each doc ONCE in a `toks` relation, compute the intersect /
    # union sizes ONCE in an inner select, filter on the aliases — the
    # inlined-expression form re-split both texts 6× per candidate row
    return f"""
    WITH cand AS ({cand}),
         toks AS ({toks})
    SELECT doc_a, doc_b, n_common, n_union FROM (
      SELECT c.doc_a, c.doc_b, {inter} AS n_common, {uni} AS n_union
      FROM cand c
        JOIN toks a ON a.doc_id = c.doc_a
        JOIN toks b ON b.doc_id = c.doc_b)
    WHERE n_common * 10 >= n_union * 3
    """


@register("lsh_jaccard_refine", _lsh_jaccard_refine_sql("duckdb"))
def q_lsh_jaccard_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup shape: LSH band-bucket candidates (shuffle
    O(docs × bands)) → exact token-set jaccard ≥ 0.3 on candidates only —
    never all blocked pairs. Integer threshold keeps the predicate
    float-free; the DuckDB oracle replays signatures → buckets →
    candidates → refine identically. ``repartition=True`` matters here:
    the signature pass now runs exactly once (bucket-grouped candidates),
    so its parallelism is the scan's — and the test parquet is a single
    row group."""
    return _sql_query(
        spark,
        sf_dir,
        _lsh_jaccard_refine_sql("spark"),
        repartition=True,
    )


# ---------------------------------------------------------------------------
# Multimodal binary plumbing + the byte-identical-text invariant
# ---------------------------------------------------------------------------

@register(
    "html_text_invariant",
    f"""
    WITH pages AS ({pages_select_sql('documents')})
    SELECT lang, count(*) AS n_pages, CAST(0 AS BIGINT) AS n_mismatch,
           CAST(sum(octet_length(encode('<html>' || text || '</html>'))) AS BIGINT)
             AS total_html_bytes
    FROM pages GROUP BY lang
    """,
)
def q_html_text_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the BASELINE input_hint invariant: build the html binary
    column, decode text back through the Arrow kernel, count byte-level
    mismatches (must be 0) and total payload bytes per lang."""
    from geografir_spark.operators.multimodal import decode_text_from_html

    p = load_pages(spark, sf_dir).selectExpr(
        "page_id", "lang", "text",
        "CAST(concat('<html>', text, '</html>') AS BINARY) AS html",
    )
    d = decode_text_from_html(p, "html", "page_id")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_pages"),
        F.sum(F.when(F.col("decoded_text") != F.col("text"), 1).otherwise(0)).alias("n_mismatch"),
        F.sum(F.length(F.col("html"))).alias("total_html_bytes"),
    )


_BINARY_FEATURES_ORACLE = f"""
    WITH pages AS ({pages_select_sql('documents')}),
    b AS (SELECT page_id,
                 hex(encode('<html>' || text || '</html>')) AS hx,
                 octet_length(encode('<html>' || text || '</html>')) AS nb
          FROM pages),
    per AS (SELECT page_id, nb,
                   list_transform(range(0, nb), i ->
                     CAST(('0x' || substr(hx, CAST(i * 2 + 1 AS BIGINT), 2))
                          AS BIGINT)) AS bl
            FROM b)
    SELECT count(*) AS n,
           CAST(sum(nb) AS BIGINT) AS total_bytes,
           CAST(sum(list_aggregate(bl, 'sum')) AS BIGINT) AS total_byte_sum,
           CAST(max(len(list_distinct(bl))) AS INT) AS max_distinct
    FROM per
"""


@register("binary_features", _BINARY_FEATURES_ORACLE)
def q_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary feature extraction (byte-histogram stand-in for media
    decode): real schema/batching/aggregation over a binary column.

    Oracle-checked (was rows-only): the Arrow kernel's outputs are integer
    byte statistics, which DuckDB replays by iterating the hex() encoding
    of the same payload — n_bytes, the byte-value sum (histogram · weights
    ≡ Σ bytes), and the distinct-byte count are all exact integers."""
    from geografir_spark.operators.multimodal import extract_binary_features

    p = load_pages(spark, sf_dir).selectExpr(
        "page_id", "CAST(concat('<html>', text, '</html>') AS BINARY) AS payload"
    )
    f = extract_binary_features(p)
    return f.selectExpr(
        "count(*) AS n", "sum(n_bytes) AS total_bytes",
        "sum(byte_sum) AS total_byte_sum", "max(n_distinct_bytes) AS max_distinct"
    )


# ---------------------------------------------------------------------------
# Band tags (reference R23-R30) — inverted index as a distributed agg
# ---------------------------------------------------------------------------

# deterministic tag fixture mirroring generate_raster's rule
# (raster_test_helpers.py:62-66): classification always, tree on even bands
_TAG_COLORS = "red orange yellow green blue".split()
_TAG_TREES = "pine maple oak birch cedar".split()


@register(
    "band_tags_invert",
    """
    WITH bands AS (
      SELECT n.n_nationkey AS tile_id, b.band_index
      FROM nation n,
           (SELECT unnest(range(1, 6)) AS band_index) b
    ),
    rows_ AS (
      SELECT tile_id, band_index, 'classification' AS tag_name,
             ['red','orange','yellow','green','blue'][CAST((tile_id + band_index) % 5 AS INT) + 1] AS tag_value
      FROM bands
      UNION ALL
      SELECT tile_id, band_index, 'tree' AS tag_name,
             ['pine','maple','oak','birch','cedar'][CAST((tile_id * 2 + band_index) % 5 AS INT) + 1] AS tag_value
      FROM bands WHERE band_index % 2 = 0
    )
    SELECT tile_id, tag_name, tag_value, max(band_index) AS band_index
    FROM rows_ GROUP BY tile_id, tag_name, tag_value
    """,
)
def q_band_tags_invert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BandTags.tags_by_band lifted: build map<int,map<string,string>> tag
    columns, explode both map levels, invert with later-band-wins
    (reference band_tags.py:129-172)."""
    from geografir_spark.raster.tags import tags_by_band

    colors = ", ".join(f"'{c}'" for c in _TAG_COLORS)
    trees = ", ".join(f"'{t}'" for t in _TAG_TREES)
    n = load_table(spark, sf_dir, "nation").selectExpr(
        "CAST(n_nationkey AS BIGINT) AS tile_id"
    )
    bands = n.crossJoin(
        spark.range(1, 6).selectExpr("CAST(id AS INT) AS band_index")
    )
    tagged = bands.selectExpr(
        "tile_id",
        "band_index",
        f"""map_from_arrays(
              CASE WHEN band_index % 2 = 0 THEN array('classification', 'tree')
                   ELSE array('classification') END,
              CASE WHEN band_index % 2 = 0 THEN array(
                     array({colors})[CAST((tile_id + band_index) % 5 AS INT)],
                     array({trees})[CAST((tile_id * 2 + band_index) % 5 AS INT)])
                   ELSE array(array({colors})[CAST((tile_id + band_index) % 5 AS INT)]) END
            ) AS band_tags""",
    )
    tiles = tagged.groupBy("tile_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("band_index", "band_tags"))
        ).alias("tags")
    )
    return tags_by_band(tiles, "tags", ["tile_id"])


# ---------------------------------------------------------------------------
# As-of-latest (windowed dedup — the url/warc_ts snapshot pattern)
# ---------------------------------------------------------------------------

@register(
    "asof_latest_event",
    """
    SELECT user_id, event_id, ts, value
    FROM (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_asof_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user — the as-of/url-snapshot-dedup pattern
    (Window.partitionBy(key).orderBy(ts desc) + row_number = 1)."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "value")
    )


def _table_diff_sql(dialect: str) -> str:
    from geografir_spark.plans.diff import table_diff_sql

    old = (
        "(SELECT o_custkey, o_orderkey, o_orderstatus, o_orderpriority,"
        " CAST(CAST(o_orderdate AS DATE) AS STRING) AS od FROM orders)"
    )
    # simulated next snapshot: one key-bucket of rows deleted, one bucket's
    # priority rewritten, one bucket cloned under brand-new partition keys
    new = (
        "(SELECT o_custkey, o_orderkey, o_orderstatus,"
        " CASE WHEN o_orderkey % 101 = 0 THEN 'X-MODIFIED'"
        " ELSE o_orderpriority END AS o_orderpriority,"
        " CAST(CAST(o_orderdate AS DATE) AS STRING) AS od"
        " FROM orders WHERE o_orderkey % 97 <> 0"
        " UNION ALL"
        " SELECT o_custkey + 100000, o_orderkey + 1000000, o_orderstatus,"
        " o_orderpriority, CAST(CAST(o_orderdate AS DATE) AS STRING) AS od"
        " FROM orders WHERE o_orderkey % 103 = 0)"
    )
    return table_diff_sql(
        old, new, "o_custkey",
        ("o_orderkey", "o_orderstatus", "o_orderpriority", "od"),
        dialect,
    )


@register("snapshot_table_diff", _table_diff_sql("duckdb"))
def q_snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changed partition keys between two order-table snapshots (deletes,
    in-place priority rewrites, brand-new keys), classified — the
    count+md5-xor anti-entropy reconciliation pass (plans/diff.py): two
    partial-aggregated scans + one FULL OUTER equi-join, output bounded
    by changed keys."""
    return _sql_query(spark, sf_dir, _table_diff_sql("spark"), views=("orders",))


def _scd2_sql(dialect: str) -> str:
    from geografir_spark.operators.scd import scd2_sql

    return scd2_sql(
        "orders", "o_custkey", "o_orderpriority", "o_orderdate",
        "o_orderkey", dialect,
    )


@register("scd2_priority_history", _scd2_sql("duckdb"))
def q_scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals of each customer's order priority — the
    CDC changelog → temporal-table build (operators/scd.py): one shuffle
    on the key serves the lag change-detect and the lead/version windows."""
    return _sql_query(spark, sf_dir, _scd2_sql("spark"), views=("orders",))


# ---------------------------------------------------------------------------
# Pricing summary (TPC-H Q1 shape) — classic hash aggregation with exact
# arithmetic: money is summed in integer cents so Spark's nondeterministic
# partial-agg order cannot perturb double sums; every output double is a
# single division of an exact integer (identical on both engines).
# ---------------------------------------------------------------------------

_PRICING_SQL = """
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity * 100) AS BIGINT)      AS q_c,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS p_c,
             CAST(round(l_discount * 100) AS BIGINT)      AS d_c,
             CAST(round(l_tax * 100) AS BIGINT)           AS t_c
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sum(q_c) AS DOUBLE) / 100.0                        AS sum_qty,
           CAST(sum(p_c) AS DOUBLE) / 100.0                        AS sum_base_price,
           CAST(sum(p_c * (100 - d_c)) AS DOUBLE) / 10000.0        AS sum_disc_price,
           CAST(sum(p_c * (100 - d_c) * (100 + t_c)) AS DOUBLE) / 1000000.0
                                                                   AS sum_charge,
           CAST(sum(q_c) AS DOUBLE) / (100.0 * count(*))           AS avg_qty,
           CAST(sum(p_c) AS DOUBLE) / (100.0 * count(*))           AS avg_price,
           CAST(sum(d_c) AS DOUBLE) / (100.0 * count(*))           AS avg_disc,
           count(*) AS count_order
    FROM c
    GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", _PRICING_SQL)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style pricing summary: scan-filter-project into a 4-group
    hash agg (partial map-side + final). Predicate + the 8-column projection
    push to the parquet scan; whole pipeline is codegen'd JVM (no UDFs).
    The reference has no aggregation operator (absent; nearest is the
    dict inversion in band_tags.py:129-172)."""
    return _sql_query(spark, sf_dir, _PRICING_SQL, views=("lineitem",))


# ---------------------------------------------------------------------------
# Set operations (INTERSECT / EXCEPT) — reference has only in-memory set
# union (band_tags.py:205-208); engine uses native distributed set ops.
# ---------------------------------------------------------------------------

_SET_OPS_CUTOFF = "2024-01-08 00:00:00"  # first crawl week

_SET_OPS_SQL = f"""
    SELECT user_id FROM (
      SELECT user_id FROM events
      WHERE event_type = 'view' AND ts < TIMESTAMP '{_SET_OPS_CUTOFF}'
      INTERSECT
      SELECT user_id FROM events
      WHERE event_type = 'click' AND ts < TIMESTAMP '{_SET_OPS_CUTOFF}'
    ) vc
    EXCEPT
    SELECT user_id FROM events
    WHERE event_type = 'purchase' AND ts < TIMESTAMP '{_SET_OPS_CUTOFF}'
"""


@register("engaged_non_buyers", _SET_OPS_SQL)
def q_engaged_non_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who both viewed and clicked in the first week but did not
    purchase: INTERSECT (hash semi) then EXCEPT (hash anti) — both plan as
    aggregated joins with partial dedup map-side, no row explosion."""
    ev = load_table(spark, sf_dir, "events")

    def users(t: str) -> DataFrame:
        return ev.filter(
            (F.col("event_type") == t)
            & (F.col("ts") < F.lit(_SET_OPS_CUTOFF).cast("timestamp_ntz"))
        ).select("user_id")

    return users("view").intersect(users("click")).subtract(users("purchase"))


# ---------------------------------------------------------------------------
# Interval (time-range) join — bucketed equi-join, operators/interval_join.py
# ---------------------------------------------------------------------------

_FOLLOWUP_SQL = """
    SELECT e.event_id, count(f.fid) AS n_followups
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT event_id AS fid, user_id AS fuser, ts AS fts FROM events) f
      ON f.fuser = e.user_id
     AND f.fts > e.ts
     AND f.fts <= e.ts + INTERVAL 10 MINUTE
    GROUP BY e.event_id
"""


@register("error_followups", _FOLLOWUP_SQL)
def q_error_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per error event: how many events the same user produced in the next
    10 minutes. Theta time-range join re-expressed as a bucketed equi-join
    (operators/interval_join.py) — shuffled hash join on (user, time-bucket)
    instead of an O(N×M) BroadcastNestedLoopJoin; exact integer-microsecond
    refine. The as-of/interval category of SURVEY.md §2B."""
    from geografir_spark.operators.interval_join import interval_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    others = ev.select(
        F.col("event_id").alias("fid"),
        F.col("user_id"),
        F.col("ts").alias("fts"),
    )
    pairs = interval_join(
        errors, others,
        keys=["user_id"], left_ts="ts", right_ts="fts",
        lower_us=0, upper_us=10 * 60 * 1_000_000, how="left",
    )
    return pairs.groupBy("event_id").agg(F.count("fid").alias("n_followups"))


# ---------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs — the embedding leg of the dedup
# suite (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding-cosine).
# ---------------------------------------------------------------------------

_NEARDUP_TAU = 0.42  # sits in a >=7e-4-wide gap of the cosine distribution
                     # at both oracle SFs — float32-vs-float64 engine drift
                     # (~1e-7) cannot flip pair membership


@register(
    "dedup_embedding_pairs",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_duckdb_cosine("a.embedding", "b.embedding")} >= {_NEARDUP_TAU}
    """,
)
def q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= tau), exact:
    centroid blocks with angular-bound pruning, then one BLAS matmul per
    surviving block pair (operators/similarity.embedding_near_dup_pairs)
    — the same filter-refine shape as the PIP join."""
    from geografir_spark.operators.similarity import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, tau=_NEARDUP_TAU)


_SEMDEDUP_TAU = 0.464   # sits in a >=0.005-wide gap of the SAME-CLUSTER
                        # cosine distribution at sf0.001 (0.4573..0.4698)
                        # and sf0.01 (0.4588..0.4720) — engine float drift
                        # (~1e-7) cannot flip duplicate membership
_SEMDEDUP_CLUSTERS = 16


def _semantic_dedup_oracle_sql(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """DuckDB replica of the full SemDeDup pipeline: identical retrained
    centroids as literals (_replayed_centroid_values), argmax-dot cluster
    assignment (ties → lower id, mirroring numpy argmax), then the
    keep-lowest-id prune as a NOT EXISTS over the same-cluster self-join."""
    rows = _replayed_centroid_values(sf_dir, _SEMDEDUP_CLUSTERS)
    return f"""
    WITH centroids(list_id, coefs) AS (VALUES {rows}),
    d AS (SELECT vec_id, embedding, list_id,
                 list_dot_product(CAST(embedding AS DOUBLE[]), coefs) AS dp
          FROM embeddings CROSS JOIN centroids),
    a AS (SELECT vec_id, embedding, list_id,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dp DESC, list_id ASC) AS rn
          FROM d),
    asg AS (SELECT vec_id, embedding, list_id AS cluster_id FROM a WHERE rn = 1),
    dup AS (SELECT DISTINCT x.vec_id
            FROM asg x JOIN asg y
              ON x.cluster_id = y.cluster_id AND y.vec_id < x.vec_id
            WHERE {_duckdb_cosine("CAST(x.embedding AS DOUBLE[])",
                                  "CAST(y.embedding AS DOUBLE[])")}
                  >= {_SEMDEDUP_TAU})
    SELECT asg.vec_id, asg.cluster_id,
           CAST(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
    FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id
    """


@register("semantic_dedup", _semantic_dedup_oracle_sql)  # lazily generated
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (cluster → intra-cluster cosine
    prune, keep-lowest-id): the embedding-space analog of MinHash near-dup
    removal, pruning documents that are *semantically* redundant rather
    than textually. One broadcast-matmul assignment pass + one shuffle by
    cluster id; oracle replays the identical centroids and prune in SQL."""
    from geografir_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, tau=_SEMDEDUP_TAU, n_clusters=_SEMDEDUP_CLUSTERS
    )


# ---------------------------------------------------------------------------
# Ordered-set aggregates (percentiles) and JSON extraction
# ---------------------------------------------------------------------------

_QUANTILE_SQL = """
    SELECT lang,
           CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p25,
           CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p50,
           CAST(percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p95,
           count(*) AS n_docs
    FROM documents
    GROUP BY lang
"""


@register("doc_length_quantiles", _QUANTILE_SQL)
def q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length quantiles — ordered-set aggregate
    (percentile_disc WITHIN GROUP), the sort-based agg family the corpus
    quality dashboard needs. discrete percentiles return actual elements
    (no interpolation), so Spark and DuckDB agree bit-exactly; the same SQL
    text runs on both engines. At scale this is one sort per (lang,
    partial) — Spark computes it as a single shuffle-and-sort per group."""
    return _sql_query(spark, sf_dir, _QUANTILE_SQL)


_MAD_SQL = """
    WITH v AS (SELECT event_type,
                      CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vu
               FROM events),
         med AS (SELECT event_type,
                        CAST(percentile_disc(0.5)
                             WITHIN GROUP (ORDER BY vu) AS BIGINT) AS m
                 FROM v GROUP BY event_type),
         dev AS (SELECT v.event_type, v.vu, med.m,
                        abs(v.vu - med.m) AS ad
                 FROM v JOIN med ON med.event_type = v.event_type),
         mad AS (SELECT event_type,
                        CAST(percentile_disc(0.5)
                             WITHIN GROUP (ORDER BY ad) AS BIGINT) AS mad
                 FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           min(d.m) AS med_micro,
           min(mad.mad) AS mad_micro,
           CAST(sum(CASE WHEN d.ad > 5 * mad.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad ON mad.event_type = d.event_type
    GROUP BY d.event_type
"""


@register("robust_value_outliers", _MAD_SQL)
def q_robust_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier detection per event type — the
    anomaly-flagging statistic that, unlike the mean±2σ z-test
    (event_spike_days), is not itself dragged by the outliers it hunts.
    Exactness: values floored per row to 1e-6 units (one fixed double
    chain), both medians via percentile_disc WITHIN GROUP (discrete —
    returns actual elements, no interpolation, bit-exact across engines),
    the flag an integer comparison |v−med| > 5·MAD. Scale shape: two
    grouped sorts (Spark: one shuffle+sort per grouped percentile) and
    two broadcast-able per-type joins; identical SQL text on both
    engines."""
    return _sql_query(spark, sf_dir, _MAD_SQL, views=("events",))


_JSON_ORACLE_SQL = """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
"""


@register("json_props_stats", _JSON_ORACLE_SQL)
def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type stats over a JSON payload column: semi-structured
    extraction (get_json_object — JVM-side Jackson path eval, pushed into
    the same whole-stage-codegen pass as the agg) + exact distinct users.
    The JSON-function category of SURVEY.md §2B scalar functions."""
    ev = load_table(spark, sf_dir, "events")
    # ONE Jackson parse per row (from_json to a typed struct), not one per
    # aggregate expression referencing the path
    ev = ev.withColumn("__k", F.from_json("props", "k BIGINT")["k"])
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("__k").alias("sum_k"),
        F.min("__k").alias("min_k"),
        F.max("__k").alias("max_k"),
        F.countDistinct("user_id").alias("n_users"),
    )


# The 16×16 → 8×8 nearest resize (pixel-center mapping) keeps exactly the
# histogram bins at odd row AND odd column indices: ys = xs = min(2i+1, 15)
# (multimodal.resize_nearest_np). Bin b counts bytes equal to b, row = b»4,
# col = b & 15 — so a frame's "mass" is simply the count of window bytes
# whose high nibble and low nibble are both odd. That reduction makes the
# whole sample→decode-stub→resize→aggregate pipeline an integer statistic
# DuckDB can replay from hex(payload).
_FRAME_SAMPLES_ORACLE = f"""
    WITH pages AS ({pages_select_sql('documents')}),
    b AS (SELECT page_id,
                 hex(encode('<html>' || text || '</html>')) AS hx,
                 octet_length(encode('<html>' || text || '</html>')) AS nb
          FROM pages),
    fr AS (SELECT page_id, nb, hx, f.frame_idx,
                  (greatest(nb - 256, 0) * f.frame_idx) // 3 AS off
           FROM b CROSS JOIN (SELECT unnest(range(0, 4)) AS frame_idx) f),
    m AS (SELECT frame_idx,
                 len(list_filter(range(0, least(256, nb - off)), i ->
                     ((CAST(('0x' || substr(hx, CAST((off + i) * 2 + 1 AS BIGINT), 2))
                            AS BIGINT) // 16) % 2 = 1)
                     AND ((CAST(('0x' || substr(hx, CAST((off + i) * 2 + 1 AS BIGINT), 2))
                                AS BIGINT) % 16) % 2 = 1)
                 )) AS mass
          FROM fr)
    SELECT frame_idx, count(*) AS n_frames, CAST(sum(mass) AS DOUBLE) AS total_mass
    FROM m GROUP BY frame_idx ORDER BY frame_idx
"""


@register("frame_samples", _FRAME_SAMPLES_ORACLE)
def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling + resize over opaque binary payloads:
    payload → 4 evenly-spaced frame windows → byte-histogram features →
    nearest-resize 16×16 → 8×8 → per-frame-slot aggregate. The frame-sample
    and resize stages of the multimodal pipeline (decode remains the
    documented stub seam). Oracle-checked (was rows-only): see
    _FRAME_SAMPLES_ORACLE for the odd-nibble reduction that lets DuckDB
    replay the pipeline as integer byte statistics."""
    from geografir_spark.operators.multimodal import resize_frames, sample_frames

    p = load_pages(spark, sf_dir).selectExpr(
        "page_id", "CAST(concat('<html>', text, '</html>') AS BINARY) AS payload"
    )
    frames = sample_frames(p, n_frames=4, frame_size=256)
    resized = resize_frames(frames, out_h=8, out_w=8)
    return (
        resized.selectExpr(
            "frame_idx", "aggregate(resized, CAST(0.0 AS DOUBLE), (a, v) -> a + v) AS mass"
        )
        .groupBy("frame_idx")
        .agg(F.count("*").alias("n_frames"), F.sum("mass").alias("total_mass"))
        .orderBy("frame_idx")
    )


# ---------------------------------------------------------------------------
# Multi-way dimension join (TPC-H Q5 shape) and lag analytic
# ---------------------------------------------------------------------------

_REGION_REVENUE_SQL = """
    SELECT r.r_name AS region_name,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS DOUBLE) / 10000.0 AS revenue,
           count(*) AS n_items,
           count(DISTINCT s.s_suppkey) AS n_suppliers
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    JOIN lineitem l ON l.l_suppkey   = s.s_suppkey
    GROUP BY r.r_name
"""


@register("region_supplier_revenue", _REGION_REVENUE_SQL)
def q_region_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per region through the region→nation→supplier→lineitem chain
    (TPC-H Q5 shape): two broadcast dimension hops onto the fact scan, one
    shuffle for the final agg. Money stays in integer cents inside the sum
    (order-independent, exact) and converts to dollars once at the end —
    the same exactness idiom as pricing_summary."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    j = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    cents = (
        "CAST(round(l_extendedprice * 100) AS BIGINT)"
        " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
    )
    return (
        j.groupBy(F.col("r_name").alias("region_name"))
        .agg(
            (F.expr(f"CAST(sum({cents}) AS DOUBLE)") / 10000.0).alias("revenue"),
            F.count("*").alias("n_items"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
    )


_GROWTH_SQL = """
    WITH d AS (
      SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
      FROM events GROUP BY event_type, date_trunc('day', ts)
    )
    SELECT event_type, day, n,
           n - lag(n) OVER (PARTITION BY event_type ORDER BY day) AS growth
    FROM d
"""


@register("event_type_growth", _GROWTH_SQL)
def q_event_type_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day growth per event type — the lag() analytic window
    (SURVEY.md §2B window functions). Integer counts and deltas, null on
    each partition's first day; one shuffle on event_type then an in-
    partition sort for the frame."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    w = W.partitionBy("event_type").orderBy("day")
    return d.withColumn("growth", F.col("n") - F.lag("n").over(w))


_SESSION_SQL = """
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS ts_us, ts, event_id FROM events
    ),
    f AS (
      SELECT user_id, ts_us,
             CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  THEN 1 ELSE 0 END AS new_sess,
             ts, event_id
      FROM o
    ),
    s AS (
      SELECT user_id, ts_us,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM f
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           max(ts_us) - min(ts_us) AS duration_us
    FROM s
    GROUP BY user_id, session_id
"""


@register("user_sessions", _SESSION_SQL)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a gap > 30 min starts a new session. The classic
    web-log lag → flag → running-sum window chain (both windows share ONE
    partition+sort — a single shuffle and in-partition sort), then a hash
    agg per (user, session). Integer outputs only."""
    from pyspark.sql import Window as W

    # ts is TIMESTAMP_NTZ with sub-second precision; gap arithmetic runs in
    # exact integer MICROSECONDS on both engines (unix_micros ↔ epoch_us;
    # session TZ pinned to UTC in session.py, matching DuckDB's naive read)
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "user_id", "ts", "event_id",
        "unix_micros(CAST(ts AS TIMESTAMP)) AS ts_us",
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    s = o.withColumn(
        "session_id",
        F.sum("new_sess").over(
            W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
                W.unboundedPreceding, W.currentRow
            )
        ),
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


_ASOF_ORACLE = """
    WITH ckpt AS (
      SELECT user_id, ts, CAST(round(value * 100.0) AS BIGINT) AS ckpt_cents
      FROM events WHERE event_id % 7 = 0
    ),
    probes AS (
      SELECT user_id, ts, event_id, event_type
      FROM events WHERE event_id % 7 <> 0
    )
    SELECT p.event_type AS event_type,
           count(*) AS n_joined,
           CAST(sum(c.ckpt_cents) AS BIGINT) AS sum_ckpt_cents,
           CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS total_staleness_us
    FROM probes p ASOF JOIN ckpt c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    GROUP BY p.event_type
"""


@register("asof_join_checkpoints", _ASOF_ORACLE)
def q_asof_join_checkpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General as-of join (operators/asof.py): every probe event joined to
    its user's LATEST checkpoint at-or-before its timestamp, verified
    against DuckDB's native ASOF JOIN. One shuffle (union + keyed window
    forward-fill), no pair materialization; staleness sums in exact
    integer microseconds."""
    from geografir_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    ckpt = ev.filter("event_id % 7 = 0").selectExpr(
        "user_id", "ts", "CAST(round(value * 100.0) AS BIGINT) AS ckpt_cents"
    )
    probes = ev.filter("event_id % 7 != 0").select(
        "user_id", "ts", "event_id", "event_type"
    )
    j = asof_join(probes, ckpt, keys=["user_id"], how="inner")
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_joined"),
        F.sum("ckpt_cents").alias("sum_ckpt_cents"),
        F.sum(
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
            - F.expr("unix_micros(CAST(__asof_ts AS TIMESTAMP))")
        ).alias("total_staleness_us"),
    )


_ASOF_FWD_ORACLE = """
    WITH ckpt AS (
      SELECT user_id, ts, CAST(round(value * 100.0) AS BIGINT) AS ckpt_cents
      FROM events WHERE event_id % 7 = 0
    ),
    probes AS (
      SELECT user_id, ts, event_id, event_type
      FROM events WHERE event_id % 7 <> 0
    ),
    nxt AS (
      SELECT p.user_id, p.ts, p.event_id, p.event_type, min(c.ts) AS cts
      FROM probes p JOIN ckpt c
        ON c.user_id = p.user_id AND c.ts >= p.ts
      GROUP BY p.user_id, p.ts, p.event_id, p.event_type
    )
    SELECT n.event_type AS event_type,
           count(*) AS n_joined,
           CAST(sum(c.ckpt_cents) AS BIGINT) AS sum_ckpt_cents,
           CAST(sum(epoch_us(n.cts) - epoch_us(n.ts)) AS BIGINT) AS total_lead_us
    FROM nxt n JOIN ckpt c ON c.user_id = n.user_id AND c.ts = n.cts
    GROUP BY n.event_type
"""


@register("asof_forward_checkpoints", _ASOF_FWD_ORACLE)
def q_asof_forward_checkpoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: every probe event joined to its user's EARLIEST
    checkpoint at-or-after its timestamp (the schedule-next-snapshot /
    label-lookahead shape). Same single-shuffle union trick with the scan
    reversed; the oracle computes min-following-ts then equi-joins back —
    sound because checkpoint (user_id, ts) pairs are unique."""
    from geografir_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    ckpt = ev.filter("event_id % 7 = 0").selectExpr(
        "user_id", "ts", "CAST(round(value * 100.0) AS BIGINT) AS ckpt_cents"
    )
    probes = ev.filter("event_id % 7 != 0").select(
        "user_id", "ts", "event_id", "event_type"
    )
    j = asof_join(probes, ckpt, keys=["user_id"], how="inner", direction="forward")
    return j.groupBy("event_type").agg(
        F.count("*").alias("n_joined"),
        F.sum("ckpt_cents").alias("sum_ckpt_cents"),
        F.sum(
            F.expr("unix_micros(CAST(__asof_ts AS TIMESTAMP))")
            - F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
        ).alias("total_lead_us"),
    )


def _host_sql(dialect: str) -> str:
    """Pages per url host — url host/path extraction (SURVEY §2B scalar
    strings). Split-based (1-indexed in DuckDB, 0-indexed in Spark) so no
    regex literal crosses the dialect boundary (escaping differs)."""
    base = pages_select_sql("documents")
    host = (
        "string_split(url, '/')[3]" if dialect == "duckdb" else "split(url, '/')[2]"
    )
    return f"""
    SELECT {host} AS host,
           count(*) AS n_pages,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(page_id) AS first_page
    FROM ({base})
    GROUP BY host
    ORDER BY n_pages DESC, host ASC
    LIMIT 50
    """


@register("host_page_counts", _host_sql("duckdb"))
def q_host_page_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top hosts by page count — the url-host extraction + top-k shape a
    crawl-frontier dashboard runs (TakeOrderedAndProject, ties by host)."""
    return _sql_query(spark, sf_dir, _host_sql("spark"))


# ---------------------------------------------------------------------------
# URL canonicalization dedup / OLS trend / Bloom pre-join (round 3)
# ---------------------------------------------------------------------------

def _url_canonical_sql(dialect: str) -> str:
    """Canonical-URL dedup over deterministically-messied URLs: several
    doc_ids differ only in case / default port / trailing slash / fragment /
    query-param order and collapse to one canonical key."""
    from geografir_spark.geo.cells import nested_sql
    from geografir_spark.operators import urls

    base = f"SELECT doc_id, {urls.messy_url_expr('doc_id')} AS raw_url FROM documents"
    q = nested_sql(base, urls.canonical_url_steps("raw_url", dialect))
    return f"""
    SELECT canonical_url,
           count(*) AS n_pages,
           count(DISTINCT raw_url) AS n_raw_variants,
           min(doc_id) AS keeper_doc_id
    FROM ({q})
    GROUP BY canonical_url
    """


@register("url_canonical_dedup", _url_canonical_sql("duckdb"))
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC-3986-style URL normalization (lowercase scheme/host, strip :443 /
    fragment / trailing slash, sort query params) then dedup on the
    canonical key — the crawl-side normalization that precedes URL-keyed
    dedup (the web analog of the reference's S3-URI normalization,
    object_location.py:172-218). Map-only string exprs in codegen + one
    hash agg; no Python, no extra shuffle."""
    return _sql_query(spark, sf_dir, _url_canonical_sql("spark"))


def _trend_sql(dialect: str) -> str:
    """Per-event-type OLS slope of daily volume: integer-exact sufficient
    statistics (k, Σx, Σy, Σxy, Σx²) then one literal double expression —
    identical arithmetic both engines, so hashes match exactly."""
    us = (
        "unix_micros(CAST(ts AS TIMESTAMP))"
        if dialect == "spark"
        else "epoch_us(ts)"
    )
    day = (
        f"({us} DIV 86400000000)" if dialect == "spark" else f"({us} // 86400000000)"
    )
    slope = (
        "(CAST(n_days * sxy - sx * sy AS DOUBLE)"
        " / CAST(n_days * sxx - sx * sx AS DOUBLE))"
    )
    return f"""
    SELECT event_type, n_days, sx, sy, sxy, sxx,
           {slope} AS slope_per_day,
           ((CAST(sy AS DOUBLE) - {slope} * CAST(sx AS DOUBLE))
            / CAST(n_days AS DOUBLE)) AS intercept
    FROM (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(day) AS BIGINT) AS sx,
             CAST(sum(n) AS BIGINT) AS sy,
             CAST(sum(day * n) AS BIGINT) AS sxy,
             CAST(sum(day * day) AS BIGINT) AS sxx
      FROM (
        SELECT event_type, {day} AS day, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
      ) GROUP BY event_type
    )
    WHERE n_days >= 2 AND (n_days * sxx - sx * sx) <> 0
    """


@register("event_daily_trend", _trend_sql("duckdb"))
def q_event_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed group-wise linear regression via the aggregate-then-solve
    pattern: the shuffle carries five BIGINT sufficient statistics per
    group, never the rows — the closed-form solve is a per-group scalar
    expression. At 100 TB this is the only regression shape that works:
    one partial+final agg, O(groups) driver-free output."""
    return _sql_query(spark, sf_dir, _trend_sql("spark"), views=("events",))


def _bloom_sql(dialect: str) -> str:
    """Bloom pre-join demo: membership filter over nation-0 customers probed
    by every order; exact LEFT JOIN ground truth alongside measures the
    false-positive count."""
    from geografir_spark.operators import bloom

    build = bloom.build_sql(
        "SELECT c_custkey FROM customer WHERE c_nationkey = 0",
        "c_custkey",
        dialect,
    )
    member = bloom.member_expr("p.o_custkey", dialect, "f")
    return f"""
    SELECT CAST(count(*) AS BIGINT) AS n_probed,
           CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_true_matches,
           CAST(sum(CASE WHEN cand AND NOT hit THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_positives
    FROM (
      SELECT p.o_custkey, {member} AS cand,
             (k.c_custkey IS NOT NULL) AS hit
      FROM (SELECT o_custkey FROM orders) p
      CROSS JOIN ({build}) f
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer
                 WHERE c_nationkey = 0) k
        ON p.o_custkey = k.c_custkey
    )
    """


@register("bloom_prejoin_stats", _bloom_sql("duckdb"))
def q_bloom_prejoin_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit runtime-filter pattern: a 16-word (1008-bit, 3-hash) Bloom
    filter built by one bit_or aggregation over the small join side,
    broadcast (128 bytes), and tested map-side against every probe row —
    rows failing it would never enter the join shuffle. The query reports
    probed/candidate/true/false-positive counts; the md5-derived positions
    make the filter bit-identical in DuckDB (operators/bloom.py)."""
    return _sql_query(
        spark, sf_dir, _bloom_sql("spark"), views=("customer", "orders")
    )


# ---------------------------------------------------------------------------
# Segment-level dedup / OD cell flows / HLL distinct sketch (round 3)
# ---------------------------------------------------------------------------

@register(
    "segment_dedup",
    _dedup_mod().segment_dedup_sql("documents", "doc_id", "text", "duckdb"),
)
def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb/CCNet-style segment (line-level) dedup: fixed 20-token
    segments hashed and deduped across the whole corpus, keeper = lowest
    doc id; per-doc retained/dropped counts. One explode + one window
    shuffle + one agg (operators/dedup.py:segment_dedup_sql)."""
    from geografir_spark.operators import dedup

    return _sql_query(
        spark,
        sf_dir,
        dedup.segment_dedup_sql("documents", "doc_id", "text", "spark"),
        repartition=True,
    )


def _od_flows_sql(dialect: str) -> str:
    """Origin→destination cell transition matrix from per-host page
    sequences: geocode pages, order each url host's pages by page_id
    (crawl order), emit (prev cell → cell) moves, count flows. The
    trajectory-flow aggregation of a movement-analytics pipeline, over the
    same tiling the flagship uses. Window per host parallelizes across
    hosts; a mega-host is one partition's sort (same caveat + remedy as
    host_quota_sample: two-phase by (host, epoch) if hosts are Zipfian)."""
    base = _geocoded_base_sql(dialect)
    host = (
        "string_split(url, '/')[3]" if dialect == "duckdb" else "split(url, '/')[2]"
    )
    return f"""
    WITH g AS ({base}),
         l AS (SELECT host, cell,
                      lag(cell) OVER (PARTITION BY host ORDER BY page_id)
                        AS prev_cell
               FROM (SELECT {host} AS host, cell, page_id FROM g))
    SELECT prev_cell AS cell_from, cell AS cell_to,
           count(*) AS n_moves, count(DISTINCT host) AS n_hosts
    FROM l
    WHERE prev_cell IS NOT NULL AND prev_cell <> cell
    GROUP BY cell_from, cell_to
    """


@register("od_cell_flows", _od_flows_sql("duckdb"))
def q_od_cell_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix between tiles (see _od_flows_sql)."""
    return _sql_query(spark, sf_dir, _od_flows_sql("spark"))


def _triangles_sql(dialect: str) -> str:
    from geografir_spark.operators.graph import triangle_count_sql

    # co-purchase graph: parts sharing an order (the OD cell-flow graph is
    # measured star-shaped at sf0.01 — 136 wedges, zero closures — so it
    # can't exercise the closing join; co-occurrence graphs are
    # triangle-dense by construction)
    edges = (
        "(SELECT a.p AS pa, b.p AS pb"
        " FROM (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) a"
        " JOIN (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem) b"
        " ON a.o = b.o AND a.p < b.p)"
    )
    return triangle_count_sql(edges, "pa", "pb", dialect, min_weight=2)


@register("copurchase_triangles", _triangles_sql("duckdb"))
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the ROBUST part co-purchase graph (parts
    sharing >= 2 orders; the raw sf0.1 graph is near-complete — 1.2M
    edges on 2k nodes, ~10^9 wedges — so the support filter is what
    makes triangle enumeration sane, exactly as on production
    co-occurrence graphs) — counted once per canonical a<b<c
    orientation. Engine side uses the DataFrame form
    (operators/graph.py triangle_count): the deduped edge set is
    localCheckpointed once instead of re-derived under every CTE consumer
    (measured 10.4 s → ~2 s at sf0.1)."""
    from geografir_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    a = li.selectExpr("l_orderkey AS o", "l_partkey AS pa")
    b = li.selectExpr("l_orderkey AS o", "l_partkey AS pb")
    edges = a.join(b, "o").where("pa < pb").select("pa", "pb")
    return triangle_count(edges, "pa", "pb", min_weight=2)


def _trajectory_sql(dialect: str) -> str:
    """Per-host trajectory length over the geocoded page sequence — the
    movement-analytics companion of od_cell_flows (flows count WHERE
    hosts move; this measures HOW FAR). Planar lattice distance, like
    region_dissolve's coverage: resolution-honest and exact; the
    great-circle form composes via operators/radius_join's haversine
    fragment.

    Exactness: each segment's length is one fixed double chain whose
    only libm call is sqrt (IEEE-correctly-rounded), floored to 1e-3
    milli-degree units PER SEGMENT and BIGINT-summed — a raw double sum
    of segment lengths would be aggregation-order dependent."""
    base = _geocoded_base_sql(dialect)
    host = (
        "string_split(url, '/')[3]" if dialect == "duckdb" else "split(url, '/')[2]"
    )
    return f"""
    WITH g AS ({base}),
         l AS (SELECT host, lon, lat,
                      lag(lon) OVER (PARTITION BY host ORDER BY page_id) AS plon,
                      lag(lat) OVER (PARTITION BY host ORDER BY page_id) AS plat
               FROM (SELECT {host} AS host, lon, lat, page_id FROM g)),
         seg AS (SELECT host,
                        CAST(floor(sqrt((lon - plon) * (lon - plon)
                                        + (lat - plat) * (lat - plat))
                                   * 1000.0) AS BIGINT) AS seg_milli
                 FROM l WHERE plon IS NOT NULL)
    SELECT host, CAST(count(*) AS BIGINT) AS n_moves,
           CAST(sum(seg_milli) AS BIGINT) AS len_milli,
           CAST(max(seg_milli) AS BIGINT) AS max_seg_milli
    FROM seg GROUP BY host
    """


@register("host_trajectory_lengths", _trajectory_sql("duckdb"))
def q_host_trajectory_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host trajectory length/longest-hop over geocoded page
    sequences (quantized per-segment lattice distance — see
    _trajectory_sql)."""
    return _sql_query(spark, sf_dir, _trajectory_sql("spark"))


def _hll_distinct_sql(dialect: str) -> str:
    from geografir_spark.operators import sketch

    return sketch.hll_distinct_sql(
        _geocoded_base_sql(dialect),
        cells.parent_sql("cell", ROLLUP_RES),
        "url",
        dialect,
        group_name="parent_cell",
    )


@register("hll_distinct_urls", _hll_distinct_sql("duckdb"))
def q_hll_distinct_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-coarse-cell distinct-url HyperLogLog sketch, bit-identical in
    both engines (operators/sketch.py): mergeable integer registers from
    the shared md5 hash, exact distinct riding the same single pass, one
    final IEEE division for the estimate. The oracle verifies the sketch's
    full register state, not just row counts."""
    return _sql_query(spark, sf_dir, _hll_distinct_sql("spark"), repartition=True)


# ---------------------------------------------------------------------------
# Benchmark decontamination (round 3)
# ---------------------------------------------------------------------------

_BENCH_SPLIT = "doc_id % 5 = 0"  # deterministic stand-in benchmark set


def _decontaminate_sql(dialect: str) -> str:
    train = f"(SELECT * FROM documents WHERE NOT ({_BENCH_SPLIT}))"
    bench = f"(SELECT * FROM documents WHERE {_BENCH_SPLIT})"
    return _dedup_mod().decontaminate_sql(
        train, bench, "doc_id", "text", dialect, n=8
    )


@register("decontaminate_overlap", _decontaminate_sql("duckdb"))
def q_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any 8-token n-gram
    with the (deterministic doc_id%5) benchmark split, with per-doc overlap
    counts (operators/dedup.py:decontaminate_sql). The benchmark gram set
    broadcasts; the training side is one scan + explode — no train-side
    shuffle before the final sparse per-doc agg."""
    return _sql_query(
        spark,
        sf_dir,
        _decontaminate_sql("spark"),
        repartition=True,
    )


def _leakage_audit_sql(dialect: str) -> str:
    """Cross-split near-dup leakage audit. Split assignment is HOST-level
    (hash of ``source``, 10% eval) — the leakage-safe split rule real
    pipelines use so near-identical pages from one site can't straddle
    train/eval. What that rule cannot prevent is CROSS-site near-dups
    (mirrors, syndication) landing on opposite sides — exactly the
    contamination doc-level n-gram decontamination (``decontaminate_
    overlap``) also misses when texts are near- but not exact-overlapping.
    This audit surfaces them: MinHash-LSH candidate pairs (the scale-
    correct O(docs×bands) generator, operators/dedup.py:minhash_pairs_sql)
    joined to split labels, keeping pairs whose sides differ.

    Scale shape: the pair generator is the audited bucketed pipeline (one
    signature pass, one shuffle); the split join is two hash joins on
    doc_id against a map-side-computed label — no new shuffle class. The
    md5-based split hash and the full LSH pipeline are integer-exact in
    both dialects, so the audit is oracle-checked end-to-end."""
    from geografir_spark.operators import dedup
    from geografir_spark.operators.text import hash60_expr

    cand = dedup.minhash_pairs_sql("documents", "doc_id", "text", dialect)
    h = hash60_expr("source", dialect)
    return f"""
    WITH cand AS ({cand}),
         splits AS (SELECT doc_id, source,
                           CASE WHEN ({h}) % 10 = 0 THEN 'eval'
                                ELSE 'train' END AS split
                    FROM documents)
    SELECT c.doc_a, c.doc_b, a.source AS source_a, b.source AS source_b,
           a.split AS split_a, b.split AS split_b
    FROM cand c
      JOIN splits a ON a.doc_id = c.doc_a
      JOIN splits b ON b.doc_id = c.doc_b
    WHERE a.split <> b.split
    """


@register("split_leakage_pairs", _leakage_audit_sql("duckdb"))
def q_split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs that straddle a host-hash train/eval split — the
    cross-site leakage a host-level split can't prevent and exact n-gram
    decontamination misses (see _leakage_audit_sql)."""
    return _sql_query(
        spark,
        sf_dir,
        _leakage_audit_sql("spark"),
        repartition=True,
    )


def _countmin_sql(dialect: str) -> str:
    from geografir_spark.operators import sketch

    return sketch.countmin_sql(
        "SELECT user_id FROM events", "user_id", dialect
    )


@register("countmin_heavy_hitters", _countmin_sql("duckdb"))
def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters over event users: exact top-20 counts beside
    the 3×64 integer-register CMS estimates and their collision
    overestimates (operators/sketch.py:countmin_sql — bit-identical
    registers in both engines, zero float ops)."""
    return _sql_query(spark, sf_dir, _countmin_sql("spark"), views=("events",))


def _pagerank_tail_sql(flows: str, dialect: str) -> str:
    """5-round fixed-point PageRank over the cell-flow relation ``flows``
    (``_od_flows_sql``'s columns)."""
    from geografir_spark.operators import graph

    return graph.pagerank_sql(
        f"SELECT cell_from, cell_to, n_moves FROM {flows}",
        "cell_from", "cell_to", "n_moves", dialect, iters=5,
    )


@register(
    "pagerank_cells", _pagerank_tail_sql(f"({_od_flows_sql('duckdb')})", "duckdb")
)
def q_pagerank_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the origin→destination cell-flow graph — 5 rounds of
    integer fixed-point rank propagation (scale 10^12), bit-identical in
    both engines because every term is a BIGINT floor-division and integer
    sums are order-insensitive (operators/graph.py). Engine side: the flow
    matrix is localCheckpointed and the oracle's own unrolled tail runs
    over it — Spark inlines CTEs, so without the barrier every round
    re-derived the geocode and the per-host window."""
    cc = _sql_query(spark, sf_dir, _od_flows_sql("spark")).localCheckpoint()
    return spark.sql(_pagerank_tail_sql("{cc}", "spark"), cc=cc)


def _packing_sql(dialect: str) -> str:
    from geografir_spark.operators import packing

    return packing.pack_sequences_sql(
        "documents", "doc_id", "text", "source", dialect, seq_tokens=512
    )


@register("sequence_packing", _packing_sql("duckdb"))
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing manifest: concatenate each source shard's
    docs in doc_id order, cut into 512-token training sequences, report
    per-sequence doc/straddle/fill counts (operators/packing.py — all
    BIGINT window+floor-division arithmetic, per-shard parallel)."""
    return _sql_query(spark, sf_dir, _packing_sql("spark"), repartition=True)


def _rolling_7d_sql(dialect: str) -> str:
    """7-day rolling event volume per type via a RANGE window frame over
    the integer day number — the time-series smoothing primitive
    (alerting baselines, weekly seasonality removal). RANGE (not ROWS)
    is the correctness point: days with no events are absent from the
    daily rollup, and a ROWS frame would silently span gaps; the RANGE
    frame over the integer day key respects calendar distance with no
    gap-filling join. One daily pre-aggregation (partial map-side) makes
    the window input |types|×|days| rows, so the per-type window sort is
    trivially small at any corpus size; all sums are BIGINT."""
    day = (
        "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"
        if dialect == "duckdb"
        else "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
    )
    return f"""
    WITH d AS (SELECT event_type, CAST({day} AS BIGINT) AS daynum,
                      CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY event_type, {day})
    SELECT event_type, daynum, n,
           CAST(sum(n) OVER (PARTITION BY event_type ORDER BY daynum
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_7d,
           CAST(count(*) OVER (PARTITION BY event_type ORDER BY daynum
                               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS days_present_7d
    FROM d
    """


@register("rolling_7d_events", _rolling_7d_sql("duckdb"))
def q_rolling_7d_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 7-day rolling event volume via a RANGE frame on the
    integer day number (calendar-correct across gap days, unlike a ROWS
    frame — see _rolling_7d_sql)."""
    return _sql_query(spark, sf_dir, _rolling_7d_sql("spark"), views=("events",))


def _emerging_sql(dialect: str) -> str:
    """Emerging-hot-spot analysis (the space-time-cube statistic): per
    res-4 cell, the Mann-Kendall trend of DAILY event volume — rising /
    falling / flat spatial cells over time, the spatio-temporal
    companion to the static Gi* hot spots. Events are placed at their
    user's customer point (user_id ⊂ c_custkey by fixture).

    Exactness (r3 verdict item #9 — the EXACT tie-corrected test, no
    longer the untied screening heuristic): Mann-Kendall is integer-born —
    S = Σ_{d1<d2} sign(c_{d2} − c_{d1}) over each cell's observed day
    series, and Kendall's tie-corrected variance is
    Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18 with one tie
    group per repeated daily count. The two-sided α=0.05 cut with the
    standard continuity correction (Z = (S∓1)/√Var) stays ALL-INTEGER:
    rising  ⇔ S > 1 ∧ 11250·(S−1)² > 2401·V18,
    falling ⇔ S < −1 ∧ 11250·(S+1)² > 2401·V18,
    where V18 = 18·Var(S) (integer) and 2401/625 = 1.96², 625·18 = 11250.
    Scale shape: one (cell, day) rollup, a per-cell banded self-join over
    ≤ T(T−1)/2 day pairs (T = days in window, tiny), one extra
    (cell, count)-group agg for the tie term, partial-aggregated sums
    throughout."""
    day = (
        "date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"
        if dialect == "duckdb"
        else "datediff(CAST(ts AS DATE), DATE '1970-01-01')"
    )
    loc = cells.nested_sql(
        f"SELECT c_custkey AS user_id, {_CUST_LON} AS lon, {_CUST_LAT} AS lat"
        " FROM customer",
        cells.encode_steps("lon", "lat", ROLLUP_RES),
    )
    return f"""
    WITH ev AS (SELECT user_id, CAST({day} AS BIGINT) AS daynum FROM events),
         loc AS (SELECT user_id, cell FROM ({loc})),
         cd AS (SELECT loc.cell, ev.daynum, CAST(count(*) AS BIGINT) AS c
                FROM ev JOIN loc ON loc.user_id = ev.user_id
                GROUP BY loc.cell, ev.daynum),
         pr AS (SELECT a.cell,
                       CASE WHEN b.c > a.c THEN 1
                            WHEN b.c < a.c THEN -1 ELSE 0 END AS sg
                FROM cd a JOIN cd b
                  ON b.cell = a.cell AND a.daynum < b.daynum),
         mk AS (SELECT cell, CAST(sum(sg) AS BIGINT) AS mk_s,
                       CAST(count(*) AS BIGINT) AS n_pairs
                FROM pr GROUP BY cell),
         ties AS (SELECT cell,
                         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                           AS tie_adj
                  FROM (SELECT cell, c, CAST(count(*) AS BIGINT) AS t
                        FROM cd GROUP BY cell, c)
                  GROUP BY cell),
         nd AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_days,
                       CAST(sum(c) AS BIGINT) AS total
                FROM cd GROUP BY cell),
         v AS (SELECT nd.cell, nd.n_days, nd.total,
                      coalesce(mk.mk_s, 0) AS mk_s,
                      coalesce(mk.n_pairs, 0) AS n_pairs,
                      nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
                        - coalesce(ties.tie_adj, 0) AS v18
               FROM nd LEFT JOIN mk ON mk.cell = nd.cell
                       LEFT JOIN ties ON ties.cell = nd.cell)
    SELECT cell, n_days, total, mk_s, n_pairs,
           CAST(v18 AS BIGINT) AS var18,
           CASE WHEN mk_s > 1
                     AND 11250 * (mk_s - 1) * (mk_s - 1) > 2401 * v18
                  THEN 'rising'
                WHEN mk_s < -1
                     AND 11250 * (mk_s + 1) * (mk_s + 1) > 2401 * v18
                  THEN 'falling'
                ELSE 'flat' END AS trend
    FROM v
    """


@register("emerging_hotspots", _emerging_sql("duckdb"))
def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell Mann-Kendall trend of daily event volume — emerging /
    fading spatial hot spots, integer-exact (see _emerging_sql)."""
    return _sql_query(
        spark, sf_dir, _emerging_sql("spark"), views=("events", "customer")
    )


def _retention_sql(dialect: str) -> str:
    """Cohort retention matrix: users grouped by first-seen day, activity
    counted per day offset — the standard growth-analytics rollup. Two
    scans of events (first-seen agg + distinct activity), one equi-join on
    user_id, integer day arithmetic only."""
    diff = (
        "date_diff('day', f.cohort, a.d)"
        if dialect == "duckdb"
        else "datediff(a.d, f.cohort)"
    )
    return f"""
    WITH f AS (SELECT user_id, min(date_trunc('day', ts)) AS cohort
               FROM events GROUP BY user_id),
         a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
               FROM events)
    SELECT CAST(CAST(f.cohort AS DATE) AS STRING) AS cohort_day,
           CAST({diff} AS BIGINT) AS day_offset,
           count(*) AS n_active
    FROM a JOIN f ON a.user_id = f.user_id
    GROUP BY cohort_day, day_offset
    """


@register("cohort_retention", _retention_sql("duckdb"))
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over events (see _retention_sql): first-seen
    day cohorts × active-day offsets. Both aggs partial map-side; the join
    key is user_id (broadcastable per-user first-seen relation)."""
    return _sql_query(spark, sf_dir, _retention_sql("spark"), views=("events",))


# ---------------------------------------------------------------------------
# Round-4 additions: training-pipeline + tiling ops (all dual-dialect)
# ---------------------------------------------------------------------------

def _stratified_split_sql(dialect: str) -> str:
    """Deterministic hash split train/val/test (80/10/10) stratified
    per-language report — THE reproducible split every training pipeline
    needs. The assignment is hash60(doc_id) % 100 (same rows in every
    engine, cluster, and rerun — TABLESAMPLE is partition-dependent); the
    only shuffle is the final (lang, split) agg. At 100 TB this is a
    map-only projection + one tiny agg."""
    from geografir_spark.operators.text import hash60_expr

    h = hash60_expr("CAST(doc_id AS STRING)", dialect)
    return f"""
    SELECT lang, split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM (SELECT doc_id, lang, n_chars,
                 CASE WHEN ({h}) % 100 < 80 THEN 'train'
                      WHEN ({h}) % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents)
    GROUP BY lang, split
    """


@register("stratified_split", _stratified_split_sql("duckdb"))
def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, split) stats of the deterministic 80/10/10 hash split
    (see _stratified_split_sql)."""
    return _sql_query(spark, sf_dir, _stratified_split_sql("spark"))


def _funnel_sql(dialect: str) -> str:
    """Gopher-style quality-filter funnel with per-stage survivor counts —
    the standard curation report (how many docs each rule removes).
    Stages are CUMULATIVE (a doc reaches stage k only by passing 1..k-1):
    1. 5 ≤ n_tokens ≤ 1000
    2. mean token length in [2, 12]  (integer form: 10·len_nospace
       between 20·n_tok and 120·n_tok)
    3. distinct-token ratio ≥ 0.2    (integer form: 5·n_distinct ≥ n_tok)
    4. contains a stopword ('the' or 'a')
    One scan, map-only depth computation, one 1-row agg — no shuffle of
    document rows at any scale."""
    from geografir_spark.operators.text import (
        n_tokens_expr,
        regexp_strip_expr,
        tokens_expr,
    )

    toks = tokens_expr("text", dialect)
    n_tok = n_tokens_expr("text", dialect)
    nospace = f"length({regexp_strip_expr('text', ' ', dialect)})"
    if dialect == "spark":
        n_distinct = f"size(array_distinct({toks}))"
        has_stop = f"arrays_overlap({toks}, array('the', 'a'))"
    else:
        n_distinct = f"len(list_distinct({toks}))"
        has_stop = (
            f"len(list_intersect({toks}, ['the', 'a'])) > 0"
        )
    return f"""
    SELECT count(*) AS n_total,
           CAST(sum(CASE WHEN depth >= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS pass_len,
           CAST(sum(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS pass_wordlen,
           CAST(sum(CASE WHEN depth >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS pass_distinct,
           CAST(sum(CASE WHEN depth >= 4 THEN 1 ELSE 0 END) AS BIGINT)
             AS pass_stopword,
           CAST(sum(CASE WHEN depth >= 4 THEN n_chars ELSE 0 END) AS BIGINT)
             AS surviving_chars
    FROM (SELECT n_chars,
                 CASE WHEN NOT (nt BETWEEN 5 AND 1000) THEN 0
                      WHEN NOT (10 * ns BETWEEN 20 * nt AND 120 * nt) THEN 1
                      WHEN NOT (5 * nd >= nt) THEN 2
                      WHEN NOT st THEN 3
                      ELSE 4 END AS depth
          FROM (SELECT n_chars, {n_tok} AS nt, {nospace} AS ns,
                       {n_distinct} AS nd, {has_stop} AS st
                FROM documents))
    """


@register("quality_filter_funnel", _funnel_sql("duckdb"))
def q_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative quality-filter funnel over documents (see _funnel_sql)."""
    return _sql_query(spark, sf_dir, _funnel_sql("spark"), repartition=True)


def _token_hist_sql(dialect: str) -> str:
    """Per-language token-count histogram in power-of-2 buckets — the
    length profile used to choose packing/truncation lengths. bucket_lo =
    2^floor(log2(n_tokens)) is exact in both engines (log2 of an integer
    < 2^20 never lands a representable double on the wrong side of an
    integer). Map-only + one small agg."""
    n_tok = __import__(
        "geografir_spark.operators.text", fromlist=["n_tokens_expr"]
    ).n_tokens_expr("text", dialect)
    return f"""
    SELECT lang,
           CAST(pow(2, floor(log2(greatest({n_tok}, 1)))) AS BIGINT)
             AS bucket_lo,
           count(*) AS n_docs,
           CAST(sum({n_tok}) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY lang, bucket_lo
    """


@register("token_length_histogram", _token_hist_sql("duckdb"))
def q_token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram in log2 buckets per lang (_token_hist_sql)."""
    return _sql_query(spark, sf_dir, _token_hist_sql("spark"))


_XYZ_ZOOM = 6


def _xyz_tiles_sql(dialect: str, zoom: int = _XYZ_ZOOM) -> str:
    """Slippy-map XYZ tile assignment (the OSM/web-map tiling standard,
    EPSG:3857 quadtree) for the geocoded pages + Bing-style quadkey:
    x = ⌊(lon+180)/360·2^z⌋, y = ⌊(1 − asinh(tan φ)/π)/2·2^z⌋, quadkey
    digit k = y-bit·2 + x-bit at level k. asinh(tan φ) is the exact
    Mercator form (both engines evaluate IEEE doubles; the fixture's
    milli-degree lattice sits far from tile boundaries). Top-20 tiles by
    page count — the tile-server heatmap query."""
    n = 1 << zoom
    base = _geocoded_base_sql(dialect)
    # clamp to the Web-Mercator domain FIRST (the standard ±85.05112878°
    # tile clamp — at lat −90 the fixture produces tan+sec → 0 and ln
    # overflows), then clamp the tile index
    lat_c = "least(greatest(lat, -85.05112878), 85.05112878)"
    ye = (
        f"CAST(least(greatest(floor((1.0 - ln(tan(radians({lat_c}))"
        f" + 1.0 / cos(radians({lat_c}))) / pi()) / 2.0 * {n}), 0), {n - 1})"
        f" AS BIGINT)"
    )
    xe = (
        f"CAST(least(greatest(floor((lon + 180.0) / 360.0 * {n}), 0),"
        f" {n - 1}) AS BIGINT)"
    )
    shr = (lambda e, k: f"({e} >> {k})") if dialect == "duckdb" else (
        lambda e, k: f"shiftright({e}, {k})"
    )
    digits = " || ".join(
        f"CAST({shr('ty', zoom - k)} % 2 * 2 + {shr('tx', zoom - k)} % 2"
        " AS STRING)"
        for k in range(1, zoom + 1)
    )
    return f"""
    SELECT tx, ty, {digits} AS quadkey, count(*) AS n_pages
    FROM (SELECT {xe} AS tx, {ye} AS ty FROM ({base}))
    GROUP BY tx, ty
    ORDER BY n_pages DESC, tx, ty LIMIT 20
    """


@register("xyz_tile_counts", _xyz_tiles_sql("duckdb"))
def q_xyz_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 z6 slippy tiles of the geocoded pages with quadkeys
    (see _xyz_tiles_sql)."""
    return _sql_query(spark, sf_dir, _xyz_tiles_sql("spark"), repartition=True)


_SMOOTH_RES = 5


def _ring_smooth_sql(dialect: str, res: int = _SMOOTH_RES) -> str:
    """3×3 k-ring smoothing of the per-cell page counts on the integer
    (cx, cy) grid — the focal-mean the tiling layer applies before
    rendering heatmaps (the vector analog of raster focal_stats). Shape:
    one grid agg, then a 9-row offsets cross join + re-agg — shuffle is
    O(occupied cells), never O(pages). ring_n counts OCCUPIED neighbor
    cells; smoothed_milli = floor(1000·ring_sum/ring_n) stays integer.
    Ring rows are clamped to the valid [0, 2^res-1] grid domain in BOTH
    dialects (r5, ADVICE): offsets from edge cells would otherwise mint
    phantom cells at cx/cy = -1 or 2^res with deflated ring_n."""
    n = 1 << res
    base = _geocoded_base_sql(dialect)
    cx = f"CAST(least(greatest(floor((lon + 180.0) / 360.0 * {n}), 0), {n - 1}) AS BIGINT)"
    cy = f"CAST(least(greatest(floor((90.0 - lat) / 180.0 * {n}), 0), {n - 1}) AS BIGINT)"
    pairs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    if dialect == "spark":
        structs = ", ".join(
            "named_struct('dx', CAST({0} AS BIGINT), 'dy', CAST({1} AS"
            " BIGINT))".format(dx, dy)
            for dx, dy in pairs
        )
        off_rel = f"(SELECT inline(array({structs})))"
    else:
        offsets = ", ".join(f"({dx}, {dy})" for dx, dy in pairs)
        off_rel = (
            "(SELECT CAST(dx AS BIGINT) AS dx, CAST(dy AS BIGINT) AS dy"
            f" FROM (VALUES {offsets}) t(dx, dy))"
        )
    return f"""
    WITH grid AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS n
                  FROM (SELECT {cx} AS cx, {cy} AS cy FROM ({base}))
                  GROUP BY cx, cy),
         ring AS (SELECT g.cx + o.dx AS cx, g.cy + o.dy AS cy,
                         g.n AS contrib
                  FROM grid g, {off_rel} o)
    SELECT r.cx, r.cy,
           coalesce(g.n, 0) AS n_pages,
           CAST(sum(r.contrib) AS BIGINT) AS ring_sum,
           CAST(count(*) AS BIGINT) AS ring_n,
           CAST(floor(1000.0 * sum(r.contrib) / count(*)) AS BIGINT)
             AS smoothed_milli
    FROM ring r LEFT JOIN grid g ON g.cx = r.cx AND g.cy = r.cy
    WHERE r.cx BETWEEN 0 AND {n - 1} AND r.cy BETWEEN 0 AND {n - 1}
    GROUP BY r.cx, r.cy, g.n
    ORDER BY smoothed_milli DESC, r.cx, r.cy LIMIT 20
    """


@register("cell_ring_smoothing", _ring_smooth_sql("duckdb"))
def q_cell_ring_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 3×3-ring-smoothed grid cells (see _ring_smooth_sql)."""
    return _sql_query(
        spark, sf_dir, _ring_smooth_sql("spark"), repartition=True
    )


def _cross_source_dup_sql(dialect: str) -> str:
    """Exact-duplicate groups that SPAN sources — the contamination-style
    dedup analytic (same bytes syndicated across crawls/sources). One
    md5 groupBy; integer outputs only."""
    return """
    SELECT count(*) AS n_groups,
           CAST(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_cross_source_groups,
           CAST(sum(CASE WHEN n_sources > 1 THEN n_docs ELSE 0 END)
                AS BIGINT) AS n_docs_in_cross,
           CAST(sum(n_docs) AS BIGINT) AS n_docs_total
    FROM (SELECT md5(text) AS h,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 count(DISTINCT source) AS n_sources
          FROM documents GROUP BY h)
    """


@register("cross_source_dup_rate", _cross_source_dup_sql("duckdb"))
def q_cross_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup group stats split by whether the group spans >1 source
    (see _cross_source_dup_sql)."""
    return _sql_query(
        spark, sf_dir, _cross_source_dup_sql("spark"), repartition=True
    )


def _unigram_logprob_sql(dialect: str) -> str:
    """Unigram log-probability quality proxy (the KenLM-lite filter):
    corpus unigram counts → per-doc mean −ln p(token), floored to milli
    units per doc before the per-lang rollup (irrational ln values sit
    ~1e13 ulps from milli boundaries, so the floor is engine-stable).
    Scale shape: token counts are one hash agg; the re-score is a
    broadcast-join of the count relation against exploded tokens (at web
    scale: the counted vocab relation shuffles once, O(vocab), and docs
    re-score map-side)."""
    from geografir_spark.operators.text import tokens_expr

    toks = tokens_expr("text", dialect)
    if dialect == "spark":
        tok_rows = (
            "SELECT doc_id, lang, tok FROM documents"
            f" LATERAL VIEW explode({toks}) AS tok"
        )
    else:
        tok_rows = f"SELECT doc_id, lang, unnest({toks}) AS tok FROM documents"
    return f"""
    WITH tr AS ({tok_rows}),
         tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tr
                GROUP BY tok),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
         ds AS (SELECT tr.doc_id, tr.lang,
                       CAST(floor(1000.0 * avg(ln(CAST(tot.n AS DOUBLE)
                                                  / CAST(tc.c AS DOUBLE))))
                            AS BIGINT) AS nll_milli
                FROM tr JOIN tc ON tc.tok = tr.tok, tot
                GROUP BY tr.doc_id, tr.lang)
    SELECT lang, count(*) AS n_docs,
           CAST(min(nll_milli) AS BIGINT) AS min_nll,
           CAST(max(nll_milli) AS BIGINT) AS max_nll,
           CAST(sum(nll_milli) AS BIGINT) AS sum_nll
    FROM ds GROUP BY lang
    """


@register("unigram_logprob_quality", _unigram_logprob_sql("duckdb"))
def q_unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang stats of the per-doc mean unigram −ln p quality score
    (see _unigram_logprob_sql)."""
    return _sql_query(
        spark, sf_dir, _unigram_logprob_sql("spark"), repartition=True,
    )
