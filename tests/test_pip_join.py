"""The PIP join's plan and its native refine: one broadcast join, one
point scan and no Python on the point side; ``even_odd_sql`` agrees with
``kernels.points_in_polygon`` bit for bit, boundary points included."""

from __future__ import annotations

import numpy as np
import pytest
from conftest import SF_DIR

from geografir_spark.geo import kernels, wkt


def _final_plan(df) -> str:
    """The executed plan after the frame ran: AQE's final plan when AQE
    wraps it, without the initial-plan section."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


@pytest.mark.parametrize(
    "name", ["pip_zone_counts", "pip_zone_counts_compact", "pip_zone_counts_concave"]
)
def test_pip_plan_is_one_join_and_one_point_scan(spark, name):
    from geografir_spark.queries import QUERIES

    plan = _final_plan(QUERIES[name].fn(spark, SF_DIR))
    lines = plan.splitlines()
    assert plan.count("MapInPandas") == 1, plan  # the cover, on the broadcast side
    mip = next(i for i, ln in enumerate(lines) if "MapInPandas" in ln)
    assert any("BroadcastExchange" in ln for ln in lines[:mip]), plan
    assert sum("FileScan" in ln and "customer.parquet" in ln for ln in lines) == 1, plan
    assert "Union" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def _parity_polygons() -> list[str]:
    # the registry's concave L-zone and triangle of nation key 0
    # (queries._L_X0/_L_Y0 and _TRI_X0/_TRI_Y0 at n_nationkey = 0)
    lx, ly = -165.9375, -60.46875
    tx, ty = -63.75, -30.9375
    ring = lambda pts: "(" + ", ".join(f"{x!r} {y!r}" for x, y in pts + pts[:1]) + ")"
    l_zone = [(lx, ly), (lx + 45.0, ly), (lx + 45.0, ly + 11.25), (lx + 22.5, ly + 11.25),
              (lx + 22.5, ly + 22.5), (lx, ly + 22.5)]
    tri = [(tx, ty), (tx + 28.125, ty + 5.625), (tx + 9.375, ty + 19.6875)]
    return [
        f"POLYGON ({ring(l_zone)})",
        f"POLYGON ({ring(tri)})",
        "POLYGON ((0 0, 100 0, 100 100, 0 100, 0 0), (30 30, 70 30, 50 80, 30 30))",
        "MULTIPOLYGON (((200 200, 210 200, 205 215, 200 200)),"
        " ((40 40, 60 40, 60 60, 40 60, 40 40), (45 45, 55 45, 55 55, 45 55, 45 45)))",
    ]


def test_even_odd_sql_matches_numpy(spark):
    """Random points over each polygon's bbox, plus every vertex and every
    edge midpoint, through the SQL twin and the numpy kernel."""
    rng = np.random.default_rng(15)
    rows, want = [], []
    for w in _parity_polygons():
        g = wkt.parse_wkt(w)
        x0, y0, x1, y1 = kernels.polygon_edges(g)
        minx, miny, maxx, maxy = wkt.bounds(g)
        px = np.concatenate([rng.uniform(minx - 1, maxx + 1, 1500), x0, (x0 + x1) / 2.0])
        py = np.concatenate([rng.uniform(miny - 1, maxy + 1, 1500), y0, (y0 + y1) / 2.0])
        want.extend(kernels.points_in_polygon(px, py, g).tolist())
        edges = [e.tolist() for e in (x0, y0, x1, y1)]
        base = len(rows)
        rows.extend((base + k, float(a), float(b), *edges) for k, (a, b) in enumerate(zip(px, py)))
    df = spark.createDataFrame(
        rows,
        "id bigint, px double, py double, ex0 array<double>, ey0 array<double>,"
        " ex1 array<double>, ey1 array<double>",
    )
    sql = kernels.even_odd_sql("px", "py", "ex0", "ey0", "ex1", "ey1")
    got = [r.inside for r in df.selectExpr("id", f"{sql} AS inside").orderBy("id").collect()]
    assert got == want
    assert 0 < sum(want) < len(want)
    # an edgeless ring counts no crossing instead of failing
    empty = spark.range(1).selectExpr(
        "0.0 AS px", "0.0 AS py", *(f"CAST(array() AS array<double>) AS {c}"
                                    for c in ("ex0", "ey0", "ex1", "ey1"))
    )
    assert empty.selectExpr(f"{sql} AS inside").collect()[0].inside is False
