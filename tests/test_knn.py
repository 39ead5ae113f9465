"""knn_join exactness and round count: the per-query start radius must give
the numpy brute force's answer on skewed data, finish benchmark-density
queries in one ring round, and keep the plan free of Python workers."""

from __future__ import annotations

import numpy as np
import pytest
# the session's DataFrame class: patching pyspark.sql.DataFrame would miss
# the classic implementation's own localCheckpoint
from pyspark.sql.classic.dataframe import DataFrame

from geografir_spark.geo import cells
from geografir_spark.operators.knn import knn_join

QSCHEMA = "qid bigint, qx double, qy double"
TSCHEMA = "tid bigint, tx double, ty double"


def _brute(qs, ts, k):
    """Per query: [(tid, dist)] nearest first, ties broken by tid."""
    tid = np.array([t[0] for t in ts], dtype=np.int64)
    tx = np.array([t[1] for t in ts], dtype=np.float64)
    ty = np.array([t[2] for t in ts], dtype=np.float64)
    out = {}
    for q, x, y in qs:
        d = ((x - tx) * (x - tx)) + ((y - ty) * (y - ty))
        order = np.lexsort((tid, d))[:k]
        out[q] = [(int(tid[i]), float(d[i])) for i in order]
    return out


def _by_query(rows):
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append((r["tid"], r["dist"]))
    return got


@pytest.fixture(scope="module")
def skewed():
    """A 5k-target cluster in one res-6 cell, sparse targets east of
    lon -60, and an empty west: queries inside the cluster, in the sparse
    part, and in the empty west (which only the terminal round answers)."""
    rng = np.random.default_rng(11)
    cw, ch = cells.cell_size(6)
    x0, y0 = -180.0 + 34 * cw, -90.0 + 48 * ch  # res-6 cell (34, 48)
    # coordinates rounded to 0.01 degree, plus exact copies: distance ties
    cx = np.round(x0 + rng.uniform(0.05, cw - 0.05, 5000), 2)
    cy = np.round(y0 + rng.uniform(0.05, ch - 0.05, 5000), 2)
    cx[-40:], cy[-40:] = cx[:40], cy[:40]
    sx = rng.uniform(-60.0, 180.0, 400)
    sy = rng.uniform(-80.0, 80.0, 400)
    xs, ys = np.concatenate([cx, sx]), np.concatenate([cy, sy])
    ts = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))]
    qs = (
        [(i, float(x0 + rng.uniform(0, cw)), float(y0 + rng.uniform(0, ch))) for i in range(10)]
        + [(10 + i, float(rng.uniform(-50, 170)), float(rng.uniform(-70, 70))) for i in range(10)]
        + [(20 + i, float(rng.uniform(-180, -150)), float(rng.uniform(-85, 85))) for i in range(5)]
    )
    return qs, ts


def test_knn_matches_brute_force_on_skewed_targets(spark, skewed):
    qs, ts = skewed
    out = knn_join(
        spark.createDataFrame(qs, QSCHEMA), spark.createDataFrame(ts, TSCHEMA),
        k=7, res=6,
    )
    assert _by_query(out.collect()) == _brute(qs, ts, 7)


def test_knn_k_beyond_target_count_matches_brute_force(spark, skewed):
    qs, ts = skewed
    few = ts[:2] + ts[-2:]
    out = knn_join(
        spark.createDataFrame(qs, QSCHEMA), spark.createDataFrame(few, TSCHEMA),
        k=6, res=6,
    )
    got = _by_query(out.collect())
    assert got == _brute(qs, few, 6)
    assert all(len(v) == 4 for v in got.values())


def test_knn_one_ring_round_at_benchmark_density(spark, monkeypatch):
    """Uniform targets at 0.19 per res-9 cell, k = 5: each query's start
    radius already covers its top 5, so the join checkpoints once. Ring
    doubling from radius 1 needs at least 3 rounds here."""
    calls = []
    real = DataFrame.localCheckpoint

    def spy(self, eager=True):
        calls.append(1)
        return real(self, eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    rng = np.random.default_rng(5)
    # one res-3 cell, lon [0, 45) x lat [0, 22.5): 64 x 64 res-9 cells
    n_t = round(0.19 * 64 * 64)
    ts = [(i, float(x), float(y)) for i, (x, y) in
          enumerate(zip(rng.uniform(0, 45, n_t), rng.uniform(0, 22.5, n_t)))]
    qs = [(i, float(x), float(y)) for i, (x, y) in
          enumerate(zip(rng.uniform(10, 35, 25), rng.uniform(5, 17.5, 25)))]
    out = knn_join(
        spark.createDataFrame(qs, QSCHEMA), spark.createDataFrame(ts, TSCHEMA),
        k=5, res=9,
    )
    assert len(calls) == 1
    assert _by_query(out.collect()) == _brute(qs, ts, 5)


def test_knn_plan_has_no_python_worker(spark, monkeypatch, skewed):
    """With localCheckpoint stubbed to identity, every round (ring rounds
    and the terminal one) stays in one lazy plan the assertion can see."""
    monkeypatch.setattr(DataFrame, "localCheckpoint", lambda self, eager=True: self)
    qs, ts = skewed
    out = knn_join(
        spark.createDataFrame(qs[:12] + qs[-2:], QSCHEMA),
        spark.createDataFrame(ts, TSCHEMA),
        k=3, res=6,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan
