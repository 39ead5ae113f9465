"""Raster↔vector zonal statistics (north_rule: "raster↔vector zonal stats
over windowed COG tiles").

Shape: tiles are cell-aligned (one tile row per Z-order cell, pixels
covering the cell's extent); zones are polygons/rectangles with a covering
cell set. The join is a plain int64 cell equi-join (tile.cell == zone cover
cell); the kernel computes masked per-zone pixel statistics for each
(tile × zone) pair over pixel CENTERS (the rasterization convention the
reference's conform kernel uses — pixel ownership by center point); the
final groupBy(zone).agg sums the partials. Mask semantics = the reference's
nodata rule (NaN→isnan else equality, raster_array.py:106-118).

Scale: tiles never move (the equi-join ships only the small zone-cover
side); the kernel is Arrow-batched numpy; partial stats per (tile, zone)
keep the shuffle at O(pairs), not O(pixels).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geografir_spark.geo import cells
from geografir_spark.raster.model import mask_np, pixels_to_array


def _zonal(tiles: DataFrame, zc: DataFrame, inside, zone_id: str) -> DataFrame:
    """Per-zone stats of the (tile × zone cover) pairs: ``zc`` carries the
    zone key ``__zid`` and cover cell ``__zcell``. The Arrow kernel decodes
    band 1 of each pair's tile and keeps the non-nodata pixels for which
    ``inside(col, i, gx, gy)`` is true (``col`` maps each pair column to
    its array, ``i`` is the pair, gx/gy its pixel-centre grid), recording
    one partial per pair; the grouped agg sums them. A pair with no pixel
    left records ``n_pixels`` 0 and NULL min/max."""
    pairs = tiles.join(F.broadcast(zc), tiles["cell"] == zc["__zcell"], "inner")

    out_schema = (
        "zone_key bigint, n_pixels bigint, sum_val double,"
        " min_val double, max_val double"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            recs = []
            col = {c: pdf[c].to_numpy() for c in pdf.columns}
            for i in range(len(pdf)):
                arr = pixels_to_array(
                    col["pixels"][i], col["count"][i], col["height"][i],
                    col["width"][i], col["dtype"][i],
                )[0].astype(np.float64)
                h, w = arr.shape
                minx, miny, maxx, maxy = (
                    float(v) for v in cells.cell_bounds_np(np.asarray([col["cell"][i]]))
                )
                # pixel centers (same associativity as the oracle SQL:
                # minx + (c + 0.5) * ((maxx - minx) / w))
                cw = (maxx - minx) / w
                ch = (maxy - miny) / h
                cx = minx + (np.arange(w) + 0.5) * cw
                cy = maxy - (np.arange(h) + 0.5) * ch  # row 0 = top
                gx, gy = np.meshgrid(cx, cy)
                valid = inside(col, i, gx, gy) & ~mask_np(arr, col["nodata"][i])
                n = int(valid.sum())
                if n == 0:
                    recs.append((col["__zid"][i], 0, 0.0, None, None))
                else:
                    v = arr[valid]
                    recs.append(
                        (col["__zid"][i], n, float(v.sum()), float(v.min()), float(v.max()))
                    )
            yield pd.DataFrame.from_records(
                recs, columns=["zone_key", "n_pixels", "sum_val", "min_val", "max_val"]
            )

    partial = pairs.mapInPandas(kernel, schema=out_schema)
    return (
        partial.groupBy("zone_key")
        .agg(
            F.sum("n_pixels").alias("n_pixels"),
            F.sum("sum_val").alias("sum_val"),
            F.min("min_val").alias("min_val"),
            F.max("max_val").alias("max_val"),
        )
        .withColumnRenamed("zone_key", zone_id)
    )


def zonal_stats(
    tiles: DataFrame,
    zone_cover: DataFrame,
    *,
    zone_id: str = "zone_id",
    zminx: str = "minx",
    zminy: str = "miny",
    zmaxx: str = "maxx",
    zmaxy: str = "maxy",
) -> DataFrame:
    """Per-zone stats over all tiles intersecting the zone's cover cells.

    ``tiles``: TILE_SCHEMA rows (band 1 is aggregated).
    ``zone_cover``: (zone_id, minx..maxy, cell) — one row per covering cell
    (from operators.bbox_join.cover_bbox_cells or a polygon cover).

    Returns (zone_id, n_pixels, sum_val, min_val, max_val) over non-nodata
    pixels whose centers fall inside the zone rectangle (edges inclusive).
    Every zone whose cover meets a tile is returned: one with no pixel
    center inside has ``n_pixels`` 0 and NULL min/max.
    """
    zc = zone_cover.select(
        F.col(zone_id).alias("__zid"),
        F.col(zminx).alias("__zminx"),
        F.col(zminy).alias("__zminy"),
        F.col(zmaxx).alias("__zmaxx"),
        F.col(zmaxy).alias("__zmaxy"),
        F.col("cell").alias("__zcell"),
    )

    def inside(col, i, gx, gy):
        return (
            (gx >= col["__zminx"][i]) & (gx <= col["__zmaxx"][i])
            & (gy >= col["__zminy"][i]) & (gy <= col["__zmaxy"][i])
        )

    return _zonal(tiles, zc, inside, zone_id)


def zonal_stats_polygon(
    tiles: DataFrame,
    zones: DataFrame,
    *,
    res: int,
    zone_id: str = "zone_id",
    wkt_col: str = "geom_wkt",
) -> DataFrame:
    """Zonal statistics over TRUE POLYGON zones (the north_star's
    raster↔vector form): zones decompose into covering cells with
    full/partial flags (geo.kernels.cover_geometry), tiles equi-join the
    cover on the int64 cell, and the kernel takes every non-nodata pixel
    of a FULL cell without any geometry work while PARTIAL cells run the
    exact even-odd PIP test on pixel centers — the same filter-refine
    split as the PIP point join, lifted to rasters. Per-(tile, zone)
    partials keep the shuffle at O(pairs). Zones with no pixel inside are
    dropped."""
    from geografir_spark.geo import kernels as gk
    from geografir_spark.operators.pip_join import EDGE_COLS, cover_cells

    zc = cover_cells(zones, wkt_col, res).select(
        F.col(zone_id).alias("__zid"),
        F.col("cell").alias("__zcell"),
        F.col("cell_full").alias("__zfull"),
        *EDGE_COLS,
    )

    def inside(col, i, gx, gy):
        if col["__zfull"][i]:
            return np.ones(gx.shape, dtype=bool)
        edges = (col[c][i] for c in EDGE_COLS)
        return gk.even_odd_np(gx.ravel(), gy.ravel(), *edges).reshape(gx.shape)

    return _zonal(tiles, zc, inside, zone_id).filter(F.col("n_pixels") > 0)
