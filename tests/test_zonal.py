"""The zonal path: the native bbox cover against ``cells.cover_bbox_np``,
the plans it leaves, and the two zonal output contracts (a zone whose
cover meets a tile but holds no pixel centre)."""

from __future__ import annotations

import numpy as np
import pytest

from geografir_spark.geo import cells

SF_DIR = "/root/testdata/sf0.001"
BOX_SCHEMA = "id BIGINT, minx DOUBLE, miny DOUBLE, maxx DOUBLE, maxy DOUBLE"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _native_cover(spark, boxes, res) -> list[tuple[int, int]]:
    from geografir_spark.operators.bbox_join import cover_bbox_cells

    df = spark.createDataFrame(boxes, BOX_SCHEMA)
    return sorted((r.id, r.cell) for r in cover_bbox_cells(df, res).select("id", "cell").collect())


def _np_cover(boxes, res) -> list[tuple[int, int]]:
    return sorted(
        (i, int(c)) for i, *box in boxes for c in cells.cover_bbox_np(*box, res)
    )


def _boxes(res: int, n: int, seed: int) -> list[tuple]:
    """``n`` random boxes (some reaching past the lattice, some inverted)
    and ``n`` boxes whose edges lie on the res-``res`` cell lattice."""
    rng = np.random.default_rng(seed)
    cw, ch = cells.cell_size(res)
    x0 = rng.uniform(-200.0, 200.0, n)
    y0 = rng.uniform(-100.0, 100.0, n)
    w = rng.uniform(-5.0, 60.0, n)
    h = rng.uniform(-5.0, 30.0, n)
    kx = rng.integers(-2, (1 << res) + 2, n)
    ky = rng.integers(-2, (1 << res) + 2, n)
    nx = rng.integers(0, 4, n)
    ny = rng.integers(0, 4, n)
    rand = [(i, x0[i], y0[i], x0[i] + w[i], y0[i] + h[i]) for i in range(n)]
    aligned = [
        (n + i, -180.0 + kx[i] * cw, -90.0 + ky[i] * ch,
         -180.0 + (kx[i] + nx[i]) * cw, -90.0 + (ky[i] + ny[i]) * ch)
        for i in range(n)
    ]
    return [tuple(float(v) if j else int(v) for j, v in enumerate(b)) for b in rand + aligned]


@pytest.mark.parametrize("res", [2, 4, 6])
def test_native_cover_matches_numpy(spark, res):
    boxes = _boxes(res, 150, seed=res)
    got = _native_cover(spark, boxes, res)
    assert got == _np_cover(boxes, res)
    assert len({i for i, _ in got}) > 150  # most boxes got cells


def test_native_cover_inverted_and_null_boxes(spark):
    res = 4
    cw, _ = cells.cell_size(res)
    inverted = (1, 10.0, 10.0, -10.0, 20.0)  # max index below min index
    one_index = (2, 0.7 * cw, 10.0, 0.3 * cw, 10.0)  # inverted within one index
    assert len(cells.cover_bbox_np(*inverted[1:], res)) == 0
    assert len(cells.cover_bbox_np(*one_index[1:], res)) == 1
    got = _native_cover(spark, [inverted, one_index], res)
    assert got == _np_cover([inverted, one_index], res)
    assert [i for i, _ in got] == [2]
    # a null bbox column gives no cells (not the clamped index 0)
    nulls = [(3, None, 10.0, 20.0, 20.0), (4, 10.0, None, 20.0, 20.0),
             (5, 10.0, 10.0, None, 20.0), (6, 10.0, 10.0, 20.0, None)]
    assert _native_cover(spark, nulls, res) == []


def test_cover_plans_stay_native(spark):
    from geografir_spark.queries import QUERIES

    plan = _plan(QUERIES["bbox_zone_pairs"].fn(spark, SF_DIR))
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" in plan
    # the zonal kernel is the only Python node of zonal_stats
    assert _plan(QUERIES["zonal_stats"].fn(spark, SF_DIR)).count("MapInPandas") == 1


def test_bbox_join_condition_compares_indexes(spark):
    """The reference-point dedup compares integer axis indexes: no grid
    encode (FLOOR) is evaluated per candidate pair in the join."""
    from geografir_spark.queries import QUERIES

    plan = _plan(QUERIES["bbox_zone_pairs"].fn(spark, SF_DIR))
    joins = [ln for ln in plan.splitlines() if "Join " in ln]
    assert joins, plan
    assert not any("FLOOR" in ln.upper() for ln in joins), joins


@pytest.fixture(scope="module")
def mosaic(spark):
    from geografir_spark.queries import _mosaic

    return _mosaic(spark).drop("xi", "yi")


# tile (xi, yi) = (5, 5) spans lon [-67.5, -45], lat [-33.75, -22.5]; its
# pixel centres sit 1.40625 / 0.703125 in from the west / south edges
_EMPTY = (-67.4, -33.7, -67.0, -33.5)  # inside the tile, between centres
_TILE = (-67.5, -33.75, -45.0, -22.5)


def _wkt(minx, miny, maxx, maxy) -> str:
    return (f"POLYGON (({minx} {miny}, {maxx} {miny}, {maxx} {maxy},"
            f" {minx} {maxy}, {minx} {miny}))")


def test_zonal_contracts_for_a_zone_without_pixel_centres(spark, mosaic):
    """``zonal_stats`` keeps a zone whose cover meets a tile but holds no
    pixel centre (n_pixels 0, NULL min/max); ``zonal_stats_polygon`` drops
    it. Both agree on the zone that holds the tile's 59 valid pixels."""
    from geografir_spark.operators.bbox_join import cover_bbox_cells
    from geografir_spark.raster.zonal import zonal_stats, zonal_stats_polygon

    zones = spark.createDataFrame([(1, *_EMPTY), (2, *_TILE)], BOX_SCHEMA).withColumnRenamed(
        "id", "zone_id"
    )
    rect = {r.zone_id: r for r in zonal_stats(mosaic, cover_bbox_cells(zones, 4)).collect()}
    assert set(rect) == {1, 2}
    assert (rect[1].n_pixels, rect[1].sum_val, rect[1].min_val, rect[1].max_val) == (
        0, 0.0, None, None
    )
    assert rect[2].n_pixels == 64 - 5  # i % 13 == 0 is nodata

    polys = spark.createDataFrame(
        [(1, _wkt(*_EMPTY)), (2, _wkt(*_TILE))], "zone_id BIGINT, geom_wkt STRING"
    )
    poly = {r.zone_id: r for r in zonal_stats_polygon(mosaic, polys, res=4).collect()}
    assert set(poly) == {2}
    assert poly[2].asDict() == rect[2].asDict()
