"""Filter-refine point-in-polygon spatial join.

Strategy (BASELINE.json north_star: "broadcast/partitioned point-in-polygon
joins with ... exact PIP test"):

1. **cover** — each polygon is decomposed into covering cells at ``res``
   with a full/partial flag, its bbox and its ring edges (mapInPandas UDTF
   on the small side; geo.kernels.cover_geometry, one WKT parse per
   polygon).
2. **equi-join** — points (with a ``cell`` column from geo.cells.with_cell)
   join the broadcast cover on the integer cell key, once.
3. **refine** — one native filter on the joined rows: a row in a *full*
   cell is accepted as is; a row in a partial (boundary) cell must pass
   the bbox prefilter and then the exact even-odd crossing test
   (geo.kernels.even_odd_sql, a higher-order SQL expression over the edge
   arrays). The point side never runs Python.

At scale the full/partial split is the whole ballgame: interior cells of
large polygons never evaluate the crossing test, so it sees only the
O(perimeter) boundary slice.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geografir_spark.geo import kernels

EDGE_COLS = ("ex0", "ey0", "ex1", "ey1")


def cover_cells(
    polys: DataFrame, wkt_col: str, res: int, *, compact: bool = False
) -> DataFrame:
    """Explode polygons into covering cells: all input columns +
    (cell bigint, cell_full boolean, pminx..pmaxy double, ex0, ey0, ex1,
    ey1 array<double>). The ``ex*``/``ey*`` arrays are the polygon's ring
    edges (geo.kernels.polygon_edges), repeated on every cover row.

    ``compact=True`` compacts the FULL subset of each polygon's cover into
    its minimal multi-resolution set (geo.cells.compact_np). This is exact:
    four full siblings tile their parent, so the parent is itself entirely
    inside the polygon. Partial (boundary) cells stay at base ``res`` —
    they feed the exact refine. A continent-scale zone's broadcast shrinks
    from O(area/cell²) to O(perimeter/cell + interior quadtree nodes)."""
    out_schema = T.StructType(
        list(polys.schema.fields)
        + [
            T.StructField("cell", T.LongType()),
            T.StructField("cell_full", T.BooleanType()),
            T.StructField("pminx", T.DoubleType()),
            T.StructField("pminy", T.DoubleType()),
            T.StructField("pmaxx", T.DoubleType()),
            T.StructField("pmaxy", T.DoubleType()),
        ]
        + [T.StructField(c, T.ArrayType(T.DoubleType())) for c in EDGE_COLS]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from geografir_spark.geo import wkt as wktmod
        from geografir_spark.geo.cells import compact_np

        for pdf in batches:
            parts = []
            for i in range(len(pdf)):
                geom = wktmod.parse_wkt(pdf[wkt_col].iloc[i])
                cover, full = kernels.cover_geometry(geom, res)
                if len(cover) == 0:
                    continue
                if compact and full.any():
                    cfull = compact_np(cover[full])
                    cover = np.concatenate([cfull, cover[~full]])
                    full = np.concatenate(
                        [np.ones(len(cfull), bool), np.zeros((~full).sum(), bool)]
                    )
                rep = pdf.iloc[[i] * len(cover)].reset_index(drop=True)
                rep["cell"] = cover
                rep["cell_full"] = full
                rep["pminx"], rep["pminy"], rep["pmaxx"], rep["pmaxy"] = wktmod.bounds(geom)
                for c, e in zip(EDGE_COLS, kernels.polygon_edges(geom)):
                    rep[c] = [e] * len(cover)
                parts.append(rep)
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return polys.mapInPandas(gen, schema=out_schema)


def spatial_join_pip(
    points: DataFrame,
    polys: DataFrame,
    *,
    res: int,
    lon: str = "lon",
    lat: str = "lat",
    wkt_col: str = "geom_wkt",
    cell_col: str = "cell",
    compact_cover: bool = False,
) -> DataFrame:
    """Inner PIP join: result = points ⋈ polys where point ∈ polygon.

    ``points`` must already carry ``cell_col`` at the same ``res``
    (geo.cells.with_cell). Output: all point columns + all polygon columns
    except the wkt/internal ones.

    ``compact_cover=True`` is the multi-resolution variant: the full-cell
    half of each cover is compacted (exact — see cover_cells), and each
    point explodes to its ancestor cell at every level of the cover (the
    compacted full-cell levels ∪ {res}; native parent bit math) before the
    same single join. A polygon's compacted cover cells are disjoint, so a
    point still meets each polygon at most once. Same rows out; the
    broadcast cover for a large zone drops ~100×. The level list is
    polygon-side metadata (≤ res+1 values, collected from the small side).
    """
    from geografir_spark.geo.cells import RES_BITS, RES_MASK

    cov = cover_cells(polys, wkt_col, res, compact=compact_cover).withColumnRenamed(
        "cell", "__poly_cell"
    )
    levels = [res]
    if compact_cover:
        levels = sorted(
            {res}
            | {
                r["r"]
                for r in cov.filter(F.col("cell_full"))
                .selectExpr(f"CAST(__poly_cell & {RES_MASK} AS INT) AS r")
                .distinct()
                .collect()
            }
        )
    pts, key = points, cell_col
    if len(levels) > 1:
        # one scan of the big side: L-way row inflation, map-side and
        # shuffle-free (variable-resolution parent is plain bit math)
        pts = points.selectExpr(
            "*", f"explode(array({', '.join(map(str, levels))})) AS __lvl"
        ).selectExpr(
            "*",
            f"((((({cell_col}) >> {RES_BITS}) >> (2 * ((({cell_col}) & {RES_MASK})"
            f" - __lvl))) << {RES_BITS}) | __lvl) AS __pc",
        )
        key = "__pc"

    inside = F.col("cell_full") | (
        (F.col(lon) >= F.col("pminx"))
        & (F.col(lon) <= F.col("pmaxx"))
        & (F.col(lat) >= F.col("pminy"))
        & (F.col(lat) <= F.col("pmaxy"))
        & F.expr(kernels.even_odd_sql(f"`{lon}`", f"`{lat}`", *EDGE_COLS))
    )
    out_cols = points.columns + [c for c in polys.columns if c != wkt_col]
    return (
        pts.join(F.broadcast(cov), pts[key] == cov["__poly_cell"], "inner")
        .filter(inside)
        .select(*out_cols)
    )
