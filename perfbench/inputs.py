"""Inputs of the benchmark.

The star schema the registry queries read (``region``, ``nation``,
``customer``, ``supplier``, ``part``, ``orders``, ``lineitem``, ``events``,
``documents``, ``embeddings``) is the repository's sf0.01 and sf0.001 test
data, copied unchanged under ``data/`` (``DATA``). The pages and
tiles are generated here, under the run's own work directory, from
``--seed`` alone: the same seed gives byte-identical files. Row counts never
depend on the seed, so runs with different seeds do the same amount of work.

- ``write_pages``: Common-Crawl-shaped pages in the ``documents`` layout that
  ``geografir_spark.sources.pages.load_pages`` reads. About half the texts
  carry a ``lat, lon`` pair; ``hot_frac`` of all pages carry a pair inside
  one res-6 "city" cell, which is the spatial skew the join layer must absorb.
- ``write_tiles``: raster tiles in ``raster.model.TILE_SCHEMA`` with nodata.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
# A res-6 cell is 5.625 deg x 2.8125 deg; this one holds Paris.
HOT_CELL_LON = (0.0, 5.625)
HOT_CELL_LAT = (47.8125, 50.625)
PAGE_FILES = 16  # part files per pages table
TILE_GRID_RES = 6  # cell resolution of the raster tiles
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def page_coords(n_pages: int, seed: int, hot_frac: float = 0.0):
    """(ids, lat_milli, lon_milli, has_pair, rng) of the pages ``write_pages``
    writes; ``rng`` continues the stream for the other columns. Coordinates
    are whole thousandths of a degree, so a parsed text pair equals ``milli / 1000`` exactly and never lies on a zone edge (the
    zones' edges end in ...5 ten-thousandths)."""
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(n_pages, dtype=np.int64)
    lat = rng.integers(-89_000, 89_001, n_pages)
    lon = rng.integers(-179_000, 179_001, n_pages)
    has_pair = rng.random(n_pages) < 0.5
    hot = rng.random(n_pages) < hot_frac
    k = int(hot.sum())
    lat[hot] = rng.integers(int(HOT_CELL_LAT[0] * 1000) + 10, int(HOT_CELL_LAT[1] * 1000) - 10, k)
    lon[hot] = rng.integers(int(HOT_CELL_LON[0] * 1000) + 10, int(HOT_CELL_LON[1] * 1000) - 10, k)
    return ids, lat, lon, has_pair | hot, rng


def write_pages(out_dir: str, n_pages: int, seed: int, hot_frac: float = 0.0) -> None:
    """``n_pages`` pages as ``<out_dir>/documents.parquet``, a directory of
    ``PAGE_FILES`` part files, as a crawl table is many files rather than one.

    Texts read like ``order 17 line 3 at 48.857, 2.352 qty 12``: half the
    pages carry a coordinate pair, the rest fall back to the geocoder's
    seeded pseudo-coordinate. With ``hot_frac`` > 0 that share of pages
    carries a pair inside the hot res-6 cell."""
    ids, lat, lon, has_pair, rng = page_coords(n_pages, seed, hot_frac)
    qty = rng.integers(1, 51, n_pages)
    line = rng.integers(1, 8, n_pages)
    text = [
        f"order {i} line {ln} at {la / 1000:.3f}, {lo / 1000:.3f} qty {q}" if g
        else f"order {i} line {ln} plain text qty {q}"
        for i, ln, la, lo, q, g in zip(ids, line, lat, lon, qty, has_pair)
    ]
    table = pa.table({
        "doc_id": ids,
        "text": text,
        "lang": LANGS[rng.choice(5, n_pages, p=LANG_P)],
        "source": [f"src{i}" for i in ids % 20],
        "n_chars": np.fromiter((len(t) for t in text), np.int64, n_pages),
    })
    part_dir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(part_dir, exist_ok=True)
    step = -(-n_pages // PAGE_FILES)
    for k, lo in enumerate(range(0, n_pages, step)):
        pq.write_table(table.slice(lo, step), os.path.join(part_dir, f"part-{k:05d}.parquet"))


def tile_grid(n_tiles: int) -> tuple[np.ndarray, np.ndarray]:
    """(xi, yi) of ``n_tiles`` cells at ``TILE_GRID_RES``: a square block of
    the grid around the equator and prime meridian, wide enough to meet many
    zones."""
    side = int(np.ceil(np.sqrt(n_tiles)))
    half = 1 << (TILE_GRID_RES - 1)
    k = np.arange(n_tiles)
    return (half - side // 2 + k % side).astype(np.int64), (half - side // 2 + k // side).astype(np.int64)


def write_tiles(
    path: str, n_tiles: int, size: int, seed: int, *, stream: int = 3, shift: float = 0.0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """``n_tiles`` single-band float64 tiles of ``size``×``size`` on the
    ``TILE_GRID_RES`` cell grid, ~5% nodata (-9999), as one parquet file. ``shift``
    moves each tile's origin by that many pixels east and south, so a
    shifted set is a reference grid that needs real resampling. Returns the
    (cell, transform, pixels) arrays written."""
    from geografir_spark.geo import cells

    rng = np.random.default_rng([seed, stream])
    xi, yi = tile_grid(n_tiles)
    cell = cells.encode_idx_np(xi, yi, TILE_GRID_RES)
    minx, miny, maxx, maxy = cells.cell_bounds_np(cell)
    px = rng.normal(100.0, 25.0, (n_tiles, size * size))
    px[rng.random(px.shape) < 0.05] = -9999.0
    transform = np.stack(
        [(maxx - minx) / size, np.zeros(n_tiles), minx + shift * (maxx - minx) / size,
         np.zeros(n_tiles), -(maxy - miny) / size, maxy - shift * (maxy - miny) / size],
        axis=1,
    )
    pq.write_table(pa.table({
        "tile_id": np.arange(n_tiles, dtype=np.int64),
        "cell": cell.astype(np.int64),
        "crs": ["EPSG:4326"] * n_tiles,
        "count": pa.array(np.ones(n_tiles), pa.int32()),
        "width": pa.array(np.full(n_tiles, size), pa.int32()),
        "height": pa.array(np.full(n_tiles, size), pa.int32()),
        "dtype": ["float64"] * n_tiles,
        "nodata": np.full(n_tiles, -9999.0),
        "transform": pa.array(list(transform), pa.list_(pa.float64())),
        "pixels": pa.array(list(px), pa.list_(pa.float64())),
    }), path)
    return cell, transform, px
