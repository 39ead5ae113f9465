"""Focal (neighborhood) raster statistics over a tiled mosaic — the
distributed pattern behind slope / hillshade / focal-mean map algebra.

A 3×3 focal kernel at a tile-edge pixel needs pixels from the adjacent
tile, so the operator performs an explicit **halo exchange**: every tile
sends its 4 one-pixel border strips and 4 corner pixels to the 8 grid
neighbors (O(perimeter) rows — 28 values per 8×8 tile vs 64 interior; at
the engine's 512² production tile size that is 2k border pixels vs 262k
interior, a 0.8% shuffle), the receiver assembles a (h+2)×(w+2) padded
array in one Arrow-batched kernel and computes the focal statistic for its
own pixels only. No tile's full pixel payload ever crosses the shuffle.

Semantics (exact, oracle-checkable):
- a pixel is SUPPORTED when its full 3×3 neighborhood exists inside the
  global mosaic (pixels beyond the mosaic edge → unsupported, matching the
  "full kernel support" contract of map-algebra focal ops);
- ``focal(p) = Σ value(q) for q in 3×3(p) where value(q) != nodata`` — the
  reference's mask rule (raster_array.py:106-118 NaN-vs-eq) applied to the
  neighborhood sum;
- per-tile outputs: supported-pixel count, sum and max of focal sums. All
  arithmetic is integer-valued doubles, so engines agree bit-for-bit.

The reference has no focal ops (absent under /root/reference/ — its raster
surface is per-array conform/mask, raster_array.py); this is an ENGINE
operator required by the map-algebra workloads the north_star's zonal
path implies.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (sender-relative-position sx, sy) → SQL expr extracting the sender strip
# adjacent to the receiver. Sender north (sy=+1) contributes its BOTTOM row
# (r=7); sender east (sx=+1) its WEST column (c=0); corners one pixel.
# pixels is 8×8 row-major TOP-DOWN (r = i // 8 from the north edge).
_STRIPS = [
    (0, 1, "slice(pixels, 57, 8)"),                                  # N edge
    (0, -1, "slice(pixels, 1, 8)"),                                  # S edge
    (1, 0, "transform(sequence(0, 7), r -> element_at(pixels, r * 8 + 1))"),  # E
    (-1, 0, "transform(sequence(0, 7), r -> element_at(pixels, r * 8 + 8))"), # W
    (1, 1, "array(element_at(pixels, 57))"),                         # NE corner
    (-1, 1, "array(element_at(pixels, 64))"),                        # NW corner
    (1, -1, "array(element_at(pixels, 1))"),                         # SE corner
    (-1, -1, "array(element_at(pixels, 8))"),                        # SW corner
]


def halo_messages(tiles: DataFrame) -> DataFrame:
    """(to_xi, to_yi, sx, sy, vals): the 8 border messages per tile.
    ``tiles`` must carry xi, yi (grid indices) and pixels (64 doubles,
    row-major top-down). Receiver grid coords: R = S + (-sx, -sy)."""
    structs = ", ".join(
        f"named_struct('sx', {sx}, 'sy', {sy}, 'vals', {expr})"
        for sx, sy, expr in _STRIPS
    )
    return tiles.selectExpr(
        "xi", "yi", f"explode(array({structs})) AS m"
    ).selectExpr(
        "xi - m.sx AS to_xi",
        "yi - m.sy AS to_yi",
        "m.sx AS sx",
        "m.sy AS sy",
        "m.vals AS vals",
    )


def _halo_stats(tiles: DataFrame, n: int, schema: str, stat) -> DataFrame:
    """One row per tile: its ``cell`` followed by ``stat(padded)``, where
    ``padded`` is the tile's (n+2)×(n+2) array: its own pixels framed by
    its neighbors' halo strips, NaN where the mosaic has no neighbor.
    ``schema`` names the output columns, ``cell`` first."""
    msgs = halo_messages(tiles).groupBy("to_xi", "to_yi").agg(
        F.collect_list(F.struct("sx", "sy", "vals")).alias("halos")
    )
    joined = tiles.join(
        msgs,
        (tiles["xi"] == msgs["to_xi"]) & (tiles["yi"] == msgs["to_yi"]),
        "left",
    ).select("cell", "pixels", "halos")
    out_cols = [f.split()[0] for f in schema.split(",")]

    def padded_array(pixels, halos) -> np.ndarray:
        padded = np.full((n + 2, n + 2), np.nan)
        padded[1 : n + 1, 1 : n + 1] = np.asarray(pixels, dtype=np.float64).reshape(n, n)
        for h in halos if halos is not None else ():
            sx, sy, vals = h["sx"], h["sy"], np.asarray(h["vals"], dtype=np.float64)
            ri = 0 if sy == 1 else (n + 1 if sy == -1 else None)
            ci = n + 1 if sx == 1 else (0 if sx == -1 else None)
            if ri is not None and ci is not None:
                padded[ri, ci] = vals[0]
            elif ri is not None:
                padded[ri, 1 : n + 1] = vals
            else:
                padded[1 : n + 1, ci] = vals
        return padded

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            recs = [
                (cell, *stat(padded_array(pixels, halos)))
                for cell, pixels, halos in zip(pdf["cell"], pdf["pixels"], pdf["halos"])
            ]
            yield pd.DataFrame.from_records(recs, columns=out_cols)

    return joined.mapInPandas(kernel, schema=schema)


def focal_stats_tiles(
    tiles: DataFrame,
    *,
    nodata: float = -1.0,
    tile_px: int = 8,
) -> DataFrame:
    """Per-tile 3×3 focal-sum statistics with halo exchange.

    ``tiles``: (cell, xi, yi, pixels array<double> of tile_px², row-major
    top-down). Returns (cell, n_px, sum_focal, max_focal) — supported
    pixels only (full in-mosaic 3×3); max_focal is null for a tile with no
    supported pixel (cannot happen for tile_px ≥ 2 mosaics ≥ 2×2 tiles).

    One shuffle: the O(perimeter) message exchange + the tile-keyed
    collect_list; the focal compute itself is an Arrow-batched numpy
    kernel over (tile, halos) rows.
    """
    n = tile_px

    def focal_sum(padded):
        nanmask = np.isnan(padded)
        contrib = np.where(nanmask | (padded == nodata), 0.0, padded)
        focal = np.zeros((n, n))
        support = np.ones((n, n), dtype=bool)
        for dr in range(3):
            for dc in range(3):
                focal += contrib[dr : dr + n, dc : dc + n]
                support &= ~nanmask[dr : dr + n, dc : dc + n]
        n_px = int(support.sum())
        return (
            n_px,
            float(focal[support].sum()) if n_px else 0.0,
            float(focal[support].max()) if n_px else None,
        )

    return _halo_stats(
        tiles, n, "cell bigint, n_px bigint, sum_focal double, max_focal double", focal_sum
    )


# Horn 3×3 gradient kernels (row 0 = NORTH in the padded array).
# gx: west→east differences; gy: north−south (gy increases northward).
_HORN_X = np.array([[-1, 0, 1], [-2, 0, 2], [-1, 0, 1]], dtype=np.float64)
_HORN_Y = np.array([[1, 2, 1], [0, 0, 0], [-1, -2, -1]], dtype=np.float64)


def slope_stats_tiles(
    tiles: DataFrame,
    *,
    nodata: float = -1.0,
    tile_px: int = 8,
) -> DataFrame:
    """Per-tile Horn-gradient (slope) statistics with halo exchange —
    the slope/hillshade map-algebra primitive, INTEGER-EXACT: on
    integer-valued pixels the Horn numerators gx = (c+2f+i)−(a+2d+g) and
    gy = (a+2b+c)−(g+2h+i) are exact integers, and the reported
    statistic is the squared gradient magnitude gx²+gy² (monotone in
    slope for a fixed pixel pitch), so no libm trig enters the contract
    and both engines hash identically. Real hillshade = one extra
    atan2/cos pass over these two numerators — deliberately outside the
    oracle-checked surface.

    Support rule (stricter than focal sum, correct for derivatives): a
    pixel is reported only when its full 3×3 window is inside the mosaic
    AND contains no nodata — a gradient over a zeroed hole would be a
    fabricated cliff, so holes void the window instead.

    Output: (cell, n_px, sum_slope2, max_slope2) as BIGINTs. Same
    O(perimeter) halo shuffle + Arrow kernel shape as focal_stats_tiles.
    """
    n = tile_px

    def slope(padded):
        bad = np.isnan(padded) | (padded == nodata)
        vals9 = np.where(bad, 0.0, padded)
        gx = np.zeros((n, n))
        gy = np.zeros((n, n))
        support = np.ones((n, n), dtype=bool)
        for dr in range(3):
            for dc in range(3):
                w = vals9[dr : dr + n, dc : dc + n]
                gx += _HORN_X[dr, dc] * w
                gy += _HORN_Y[dr, dc] * w
                support &= ~bad[dr : dr + n, dc : dc + n]
        slope2 = gx * gx + gy * gy  # integer-valued doubles < 2^53
        n_px = int(support.sum())
        return (
            n_px,
            int(slope2[support].sum()) if n_px else 0,
            int(slope2[support].max()) if n_px else None,
        )

    return _halo_stats(
        tiles, n, "cell bigint, n_px bigint, sum_slope2 bigint, max_slope2 bigint", slope
    )
