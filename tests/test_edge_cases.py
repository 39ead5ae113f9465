"""Degenerate-input behavior: empty relations, k larger than the corpus,
zero polygons — the shapes a long-running pipeline inevitably feeds an
operator at some point."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geografir_spark.geo import cells


@pytest.fixture(scope="module")
def empty_points(spark):
    df = spark.createDataFrame([], "page_id bigint, lon double, lat double")
    return cells.with_cell(df, "lon", "lat", 6)


@pytest.fixture(scope="module")
def some_points(spark):
    df = spark.range(20).selectExpr(
        "id AS page_id",
        "CAST(id AS DOUBLE) * 3.0 - 30.0 AS lon",
        "CAST(id AS DOUBLE) * 1.5 - 15.0 AS lat",
    )
    return cells.with_cell(df, "lon", "lat", 6)


def test_pip_join_empty_sides(spark, empty_points, some_points):
    from geografir_spark.operators.pip_join import spatial_join_pip

    zones = spark.createDataFrame(
        [(1, "POLYGON ((-40 -20, 40 -20, 40 20, -40 20, -40 -20))")],
        "zone_id bigint, geom_wkt string",
    )
    no_zones = spark.createDataFrame([], "zone_id bigint, geom_wkt string")

    assert spatial_join_pip(empty_points, zones, res=6).count() == 0
    assert spatial_join_pip(some_points, no_zones, res=6).count() == 0
    # sanity: non-degenerate case finds the interior points
    assert spatial_join_pip(some_points, zones, res=6).count() > 0


def test_knn_k_exceeds_targets(spark, some_points):
    from geografir_spark.operators.knn import knn_join

    qs = spark.createDataFrame([(100, 0.0, 0.0)], "qid bigint, qx double, qy double")
    ts = some_points.selectExpr("page_id AS tid", "lon AS tx", "lat AS ty").limit(3)
    got = knn_join(qs, ts, k=10, res=6).collect()
    # only 3 targets exist: all are returned, ranks 1..3, no padding rows
    assert sorted(r["rank"] for r in got) == [1, 2, 3]


def test_knn_empty_targets(spark):
    from geografir_spark.operators.knn import knn_join

    qs = spark.createDataFrame([(1, 0.0, 0.0)], "qid bigint, qx double, qy double")
    ts = spark.createDataFrame([], "tid bigint, tx double, ty double")
    assert knn_join(qs, ts, k=5, res=6).count() == 0


def test_knn_straggler_no_cartesian(spark, monkeypatch):
    """r4 verdict weak flag #2: a straggler cohort (queries in an empty
    region whose rings must expand to full grid coverage) must finish via
    the cell-key hash equi-join — never a BroadcastNestedLoopJoin /
    cartesian over the full target table. localCheckpoint is stubbed to
    identity so the WHOLE multi-round pipeline stays in one lazy plan the
    assertion can see."""
    from pyspark.sql.classic.dataframe import DataFrame

    from geografir_spark.operators.knn import knn_join

    # the classic DataFrame overrides localCheckpoint, so the stub goes on it
    monkeypatch.setattr(
        DataFrame, "localCheckpoint", lambda self, eager=True: self
    )
    # one query in an empty corner, targets clustered in the far corner:
    # no ring short-circuits, the full-coverage round does the work
    qs = spark.createDataFrame(
        [(1, -170.0, -80.0)], "qid bigint, qx double, qy double"
    )
    ts = spark.createDataFrame(
        [(i, 150.0 + i * 0.1, 70.0) for i in range(5)],
        "tid bigint, tx double, ty double",
    )
    out = knn_join(qs, ts, k=3, res=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["rank"] for r in got] == [1, 2, 3]
    assert [r["tid"] for r in got] == [0, 1, 2]  # nearest-first by distance


def test_knn_disk_budget_skips_to_bucketed_coverage(spark):
    """A ring whose explode would blow max_disk_cells skips straight to
    the terminal full-coverage round, which replicates stragglers over
    bucket keys instead of minting 2^(2 res) cells per straggler (r5:
    previously this raised; the terminal round's grid explode was the
    reason). Results stay exact and the plan stays an equi-join."""
    from geografir_spark.operators.knn import knn_join

    qs = spark.createDataFrame(
        [(1, -170.0, -80.0)], "qid bigint, qx double, qy double"
    )
    ts = spark.createDataFrame(
        [(7, 150.0, 70.0), (8, 150.5, 70.0), (9, 151.0, 70.5)],
        "tid bigint, tx double, ty double",
    )
    out = knn_join(qs, ts, k=2, res=6, max_disk_cells=1000,
                   coverage_buckets=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["tid"] for r in got] == [7, 8]  # exact nearest-first


def test_knn_releases_target_index_when_a_round_raises(spark):
    """A caller that turns warnings into errors gets the budget-skip
    warning raised from inside the rounds; the persisted target index is
    still released, so the session's cache is empty afterwards."""
    import warnings

    from geografir_spark.operators.knn import knn_join

    qs = spark.createDataFrame(
        [(1, -170.0, -80.0)], "qid bigint, qx double, qy double"
    )
    ts = spark.createDataFrame(
        [(7, 150.0, 70.0), (8, 150.5, 70.0)], "tid bigint, tx double, ty double"
    )
    spark.catalog.clearCache()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        with pytest.raises(RuntimeWarning, match="max_disk_cells"):
            knn_join(qs, ts, k=2, res=6, max_disk_cells=1000)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_dedup_on_empty_documents(spark):
    from geografir_spark.operators import dedup

    spark.createDataFrame([], "doc_id bigint, text string").createOrReplaceTempView(
        "documents"
    )
    assert spark.sql(
        dedup.exact_dedup_sql("documents", "doc_id", "text", "spark")
    ).count() == 0
    assert spark.sql(
        dedup.simhash_sql("documents", "doc_id", "text", "spark")
    ).count() == 0


def test_embedding_pairs_empty_and_single(spark):
    from geografir_spark.operators.similarity import embedding_near_dup_pairs

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert embedding_near_dup_pairs(empty, tau=0.5).count() == 0
    one = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    assert embedding_near_dup_pairs(one, tau=0.5).count() == 0


def test_cover_degenerate_polygon(spark):
    """A zero-area (point-like) polygon still covers exactly one cell."""
    from geografir_spark.operators.pip_join import cover_cells

    z = spark.createDataFrame(
        [(1, "POLYGON ((3.1 7.2, 3.1 7.2, 3.1 7.2, 3.1 7.2))")],
        "zone_id bigint, geom_wkt string",
    )
    rows = cover_cells(z, "geom_wkt", 8).collect()
    assert len(rows) == 1
    import numpy as np

    exp = int(cells.encode_np(np.array([3.1]), np.array([7.2]), 8)[0])
    assert rows[0]["cell"] == exp


def test_rare_ngram_short_docs_match_oracle(spark, tmp_path):
    """ADVICE r2: texts of length <= 1 must yield ZERO bigrams in both
    dialects — Spark's unguarded sequence(1, length-1) generated a
    DESCENDING [1, 0] (spurious 1-char "bigrams") while DuckDB's
    range(1, length(text)) was empty. Parity on a corpus of empty/1-char/
    normal docs is the regression gate."""
    import duckdb
    import pandas as pd

    from geografir_spark.queries import _rare_ngram_sql

    rows = [
        (1, "", "a"),
        (2, "x", "a"),
        (3, "ab", "b"),
        (4, "hello world", "b"),
        (5, " ", "c"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    p = str(tmp_path / "documents.parquet")
    pdf.to_parquet(p)

    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    got = (
        spark.sql(_rare_ngram_sql("spark"))
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
    exp = (
        con.execute(_rare_ngram_sql("duckdb"))
        .fetchdf()
        .sort_values("source")
        .reset_index(drop=True)
    )
    con.close()
    spark.catalog.dropTempView("documents")
    assert list(got["source"]) == list(exp["source"])
    for c in ("n_docs", "total_rare", "max_rare", "n_flagged"):
        assert [int(v) for v in got[c]] == [int(v) for v in exp[c]], c


def test_rolling_range_frame_respects_calendar_gaps(spark):
    """RANGE (not ROWS): a day more than 6 days after its predecessor
    must NOT include it in the rolling sum even though it is the
    adjacent row."""
    import datetime as dt

    from geografir_spark.queries import _rolling_7d_sql

    rows = []
    for day, n in [(1, 5), (3, 2), (20, 7), (24, 1)]:
        for i in range(n):
            rows.append((len(rows), dt.datetime(2024, 1, day, 12, 0), 1, "e", 0.0, "{}"))
    spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    ).createOrReplaceTempView("events")
    out = {r["daynum"]: (r["n_7d"], r["days_present_7d"])
           for r in spark.sql(_rolling_7d_sql("spark")).collect()}
    base = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days
    assert out[base] == (5, 1)            # day 1 alone
    assert out[base + 2] == (7, 2)        # day 3 sees day 1 (2 days back)
    assert out[base + 19] == (7, 1)       # day 20: 17-day gap -> alone
    assert out[base + 23] == (8, 2)       # day 24 sees day 20 (4 back)


def test_idw_nearer_source_dominates_and_cap(spark):
    """IDW semantics on a hand-built pair of sources: the estimate at a
    target near source A approaches A's value, and the weight cap bounds
    a near-coincident source's influence deterministically."""
    import duckdb

    sql = """
    WITH spend AS (SELECT * FROM (VALUES (0.5, 0.0, 100), (10.0, 0.0, 900))
                   s(lon, lat, v)),
         tgt AS (SELECT 0 AS xi, 0 AS yi, 0.0 AS tx, 0.0 AS ty),
         pairs AS (SELECT t.xi, t.yi, s.v,
                          least(CAST(floor(1000000.0 /
                              greatest((s.lon - t.tx) * (s.lon - t.tx)
                                       + (s.lat - t.ty) * (s.lat - t.ty),
                                       0.000001)) AS BIGINT),
                                100000000) AS wq
                   FROM spend s, tgt t)
    SELECT CAST(sum(v * wq) AS BIGINT) AS num, CAST(sum(wq) AS BIGINT) AS den,
           CAST(sum(v * wq) AS DOUBLE) / CAST(sum(wq) AS DOUBLE) AS idw
    FROM pairs
    """
    got_s = spark.sql(sql).collect()[0]
    got_d = duckdb.connect().execute(sql).fetchone()
    assert (got_s["num"], got_s["den"]) == (got_d[0], got_d[1])
    # source A (v=100) at distance 0.5 has weight 4e6 vs B's 1e4: estimate
    # sits within 1% of A's value but strictly between the two
    assert 100 < got_s["idw"] < 103
    # cap: a source at the minimum clamped distance cannot exceed 1e8 weight
    capped = spark.sql(
        "SELECT least(CAST(floor(1000000.0 / greatest(0.0000000001, 0.000001))"
        " AS BIGINT), 100000000) AS wq"
    ).collect()[0]["wq"]
    assert capped == 100000000


def test_getis_ord_hotspot_ranks_dense_cluster_first(spark):
    """Gi* semantics on a hand-built lattice: a 3x3 block of heavy cells
    must out-score an equally-heavy isolated cell (neighborhood sums,
    not raw counts, drive the statistic)."""
    import duckdb

    from geografir_spark.geo import cells as C
    from geografir_spark.queries import _getis_tail_sql

    rows = []
    # dense cluster around (5,5); one isolated heavy cell at (12, 12);
    # background singletons
    for xi in range(4, 7):
        for yi in range(4, 7):
            rows.append((xi, yi, 50))
    rows.append((12, 12, 50))
    for xi, yi in [(1, 1), (2, 9), (9, 2), (14, 3), (3, 14)]:
        rows.append((xi, yi, 1))
    con = duckdb.connect()
    con.execute("CREATE TABLE grid (xi BIGINT, yi BIGINT, c BIGINT)")
    con.executemany("INSERT INTO grid VALUES (?,?,?)", rows)
    enc = C.nested_sql(
        "SELECT xi, yi, c FROM grid", C.encode_idx_steps("xi", "yi", 4, out="pcell")
    )
    out = con.execute(
        _getis_tail_sql(f"(SELECT pcell, c FROM ({enc}))", "duckdb", k=12)
    ).fetchdf()
    con.close()
    top = out.iloc[0]
    assert (top.xi, top.yi) == (5, 5)          # cluster centre is the top spot
    gi = {(r.xi, r.yi): r.gi_star for r in out.itertuples()}
    assert gi[(5, 5)] > gi.get((12, 12), -99)  # beats the isolated heavy cell
    assert top.n_nb == 9 and top.nb_sum == 450


def test_knn_null_coordinate_targets_never_surface(spark):
    """r5 review: null-coordinate targets (null cell) were unreachable
    through the ring equi-joins but xxhash64(NULL) is non-null, so the
    bucketed terminal round could return them at rank 1 with a null
    distance. They are filtered at index time now."""
    from geografir_spark.operators.knn import knn_join

    qs = spark.createDataFrame(
        [(1, -170.0, -80.0)], "qid bigint, qx double, qy double"
    )
    ts = spark.createDataFrame(
        [(7, 150.0, 70.0), (8, 150.5, 70.0), (9, None, None)],
        "tid bigint, tx double, ty double",
    )
    out = knn_join(qs, ts, k=2, res=6, max_disk_cells=1000,
                   coverage_buckets=8)
    got = sorted(out.collect(), key=lambda r: r["rank"])
    assert [r["tid"] for r in got] == [7, 8]
    assert all(r["dist"] is not None for r in got)


def test_knn_budget_skip_warns_with_straggler_count(spark):
    import pytest as _pytest

    from geografir_spark.operators.knn import knn_join

    qs = spark.createDataFrame(
        [(1, -170.0, -80.0)], "qid bigint, qx double, qy double"
    )
    ts = spark.createDataFrame(
        [(7, 150.0, 70.0)], "tid bigint, tx double, ty double"
    )
    with _pytest.warns(RuntimeWarning, match="1 straggler"):
        knn_join(qs, ts, k=1, res=6, max_disk_cells=1000).collect()


def test_knn_null_coordinate_queries_emit_zero_rows(spark):
    """Symmetric to the null-target fix: an unlocatable query (null
    coords) gets ZERO output rows, never k garbage NULL-distance rows
    minted by the terminal round."""
    from geografir_spark.operators.knn import knn_join

    qs = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, None, None)],
        "qid bigint, qx double, qy double",
    )
    ts = spark.createDataFrame(
        [(7, 10.5, 10.0), (8, 11.0, 10.0)],
        "tid bigint, tx double, ty double",
    )
    out = knn_join(qs, ts, k=2, res=6).collect()
    assert sorted(r["qid"] for r in out) == [1, 1]
    assert all(r["dist"] is not None for r in out)
