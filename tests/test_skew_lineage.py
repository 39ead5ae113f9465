"""Skew handling + checkpoint/resume lineage tests."""

from __future__ import annotations

import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR


@pytest.fixture()
def skewed_df(spark):
    from geografir_spark.geo import cells

    # 5000 rows in one hot res-9 cell (width 0.703°), jittered within it,
    # 500 spread over others
    hot = spark.range(5000).selectExpr(
        "id AS page_id",
        "0.36 + CAST(id % 100 AS DOUBLE) * 0.003 AS lon",
        "0.06 + CAST(id % 80 AS DOUBLE) * 0.003 AS lat",
    )
    cold = spark.range(500).selectExpr(
        "id + 10000 AS page_id",
        "CAST((id % 300) - 150 AS DOUBLE) + 0.5 AS lon",
        "CAST((id % 140) - 70 AS DOUBLE) + 0.5 AS lat",
    )
    return cells.with_cell(hot.unionByName(cold), "lon", "lat", 9)


def test_salt_hot_cells(spark, skewed_df):
    from geografir_spark.operators.skew import salt_hot_cells

    salted = salt_hot_cells(
        skewed_df, threshold=1000, n_salts=8, hash_col="page_id"
    )
    agg = salted.groupBy("cell", "salt").agg(F.count("*").alias("n"))
    per_cell = agg.groupBy("cell").agg(
        F.count("*").alias("n_salts"), F.sum("n").alias("n")
    )
    hot_row = per_cell.orderBy(F.desc("n")).first()
    assert hot_row.n == 5000 and hot_row.n_salts == 8
    # cold cells unsalted (exactly one salt bucket each)
    assert per_cell.filter("n < 1000 AND n_salts != 1").count() == 0
    # total row count preserved
    assert salted.count() == 5500


def test_split_hot_cells(spark, skewed_df):
    from geografir_spark.geo import cells
    from geografir_spark.operators.skew import split_hot_cells

    split = split_hot_cells(skewed_df, threshold=1000, levels=2)
    assert split.count() == 5500
    res_counts = split.selectExpr(
        f"{cells.res_sql('cell')} AS r"
    ).groupBy("r").count().collect()
    by_res = {r.r: r["count"] for r in res_counts}
    assert by_res[11] == 5000  # hot rows re-encoded 2 levels finer
    assert by_res[9] == 500    # cold rows untouched
    # the fine cells are descendants of the original hot cell
    hot_cell = skewed_df.groupBy("cell").count().orderBy(F.desc("count")).first().cell
    parents = split.filter(f"({cells.res_sql('cell')}) = 11").selectExpr(
        f"{cells.parent_sql('cell', 9)} AS p"
    ).distinct().collect()
    assert {r.p for r in parents} == {hot_cell}
    # and the hot mass actually spread over multiple children
    n_children = split.filter(f"({cells.res_sql('cell')}) = 11").select("cell").distinct().count()
    assert n_children > 1


def test_lineage_resume_and_verify(spark):
    from geografir_spark.plans import lineage

    out_dir = tempfile.mkdtemp(prefix="lineage_test_")
    shutil.rmtree(out_dir)
    df = spark.range(1000).selectExpr(
        "id % 10 AS part_key", "id AS value", "id * 2 AS other"
    )
    # run 1: crash after 4 parts
    with pytest.raises(RuntimeError, match="injected failure"):
        lineage.run_resumable(df, out_dir, fail_after_parts=4)
    lin1 = lineage.read_lineage(spark, out_dir)
    assert lin1.count() == 4

    # resume: must process exactly the remaining 6, skip the 4 done
    r = lineage.run_resumable(df, out_dir)
    assert r["processed"] == 6 and r["skipped"] == 4

    # final output == the full input, and lineage verifies clean
    out = lineage.read_output(spark, out_dir)
    assert out.count() == 1000
    assert lineage.verify_lineage(spark, out_dir).count() == 0

    # idempotent: a third run does nothing
    r2 = lineage.run_resumable(df, out_dir)
    assert r2["processed"] == 0 and r2["skipped"] == 10

    # corrupt the batch file holding unit 3 → verify flags exactly that part
    import glob
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    victims = [
        f for f in glob.glob(f"{out_dir}/data/batch_id=*/*.parquet")
        if 3 in pq.read_table(f, columns=["part_key"]).column("part_key").to_pylist()
    ]
    assert len(victims) == 1
    t = pq.read_table(victims[0])
    pq.write_table(t.filter(pc.not_equal(t["part_key"], 3)), victims[0])
    # the Hadoop checksum sidecar still describes the old bytes
    os.remove(os.path.join(os.path.dirname(victims[0]), f".{os.path.basename(victims[0])}.crc"))
    bad = lineage.verify_lineage(spark, out_dir).collect()
    assert len(bad) == 1 and bad[0].part_key == 3
    shutil.rmtree(out_dir)


@pytest.fixture()
def geocoded_units(spark):
    """sf0.001 pages -> geocode -> res-9 cell -> res-2 resume unit."""
    from geografir_spark.geo import cells, geocode
    from geografir_spark.sources.pages import load_pages

    p = geocode.with_geocode(load_pages(spark, SF_DIR), "text", "page_id")
    p = cells.with_cell(p, "lon", "lat", 9)
    p = cells.with_parent(p, "cell", 2, out="part_key")
    return p.select("part_key", "page_id", "url", "cell", "n_chars")


def test_lineage_geocoded_pipeline_resumes_via_anti_join(spark, geocoded_units, tmp_path):
    """Crash, resume and verify a geocoded pipeline. The pending rows are a
    broadcast anti-join: an IN-list on the derived part key would be pushed
    below the geocode projections and outgrow whole-stage codegen."""
    from geografir_spark.plans import lineage

    out_dir = str(tmp_path / "out")
    n_rows = geocoded_units.count()
    n_units = geocoded_units.select("part_key").distinct().count()
    assert n_units > 3
    with pytest.raises(RuntimeError, match="injected failure after 3 parts"):
        lineage.run_resumable(geocoded_units, out_dir, fail_after_parts=3)
    committed = {r.part_key for r in lineage.read_lineage(spark, out_dir).collect()}
    assert len(committed) == 3

    assert lineage.pending_rows(geocoded_units, set()) is geocoded_units
    pending = lineage.pending_rows(geocoded_units, committed)
    plan = pending._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan
    assert not re.search(r"\bIN \(|\bINSET\b", plan), plan
    assert pending.select("part_key").distinct().count() == n_units - 3

    r = lineage.run_resumable(geocoded_units, out_dir)
    assert r["processed"] == n_units - 3 and r["skipped"] == 3
    assert lineage.read_output(spark, out_dir).count() == n_rows
    assert lineage.verify_lineage(spark, out_dir).count() == 0


def test_lineage_crash_window_flagged_then_healed(spark, tmp_path):
    """An injected crash lands every pending part's data but commits lineage
    for only the first N parts (sorted). ``read_output`` returns only the
    committed parts; ``verify_lineage`` flags exactly the parts with data
    and no lineage row; the resume commits them in a new batch, and the
    crashed batch's rows for them stay invisible."""
    from geografir_spark.plans import lineage

    out_dir = str(tmp_path / "out")
    df = spark.range(600).selectExpr("id % 6 AS part_key", "id AS value")
    with pytest.raises(RuntimeError, match="injected failure after 2 parts"):
        lineage.run_resumable(df, out_dir, fail_after_parts=2)
    assert lineage.read_output(spark, out_dir).count() == 200
    assert {r.part_key for r in lineage.read_lineage(spark, out_dir).collect()} == {0, 1}
    bad = lineage.verify_lineage(spark, out_dir).collect()
    assert sorted(r.part_key for r in bad) == [2, 3, 4, 5]
    assert all(r.a_rows == 100 and r.n_rows is None for r in bad)

    r = lineage.run_resumable(df, out_dir)
    assert r["processed"] == 4 and r["skipped"] == 2
    out = lineage.read_output(spark, out_dir)
    assert out.count() == 600 and out.select("value").distinct().count() == 600
    assert lineage.verify_lineage(spark, out_dir).count() == 0


def test_lineage_unit_committed_twice_read_once(spark, tmp_path):
    """A lost lineage listing makes the next run commit every unit again,
    in a second batch. ``expire`` deletes nothing while the lineage is
    missing. With both lineage files back, each unit has two lineage rows;
    only its latest batch is read, and verify is clean, also after
    ``expire`` deleted the superseded first batch."""
    import glob
    import os
    import time

    from geografir_spark.plans import lineage

    out_dir = str(tmp_path / "out")
    df = spark.range(300).selectExpr("id % 3 AS part_key", "id AS value")
    first = lineage.run_resumable(df, out_dir)["batch_id"]
    shutil.move(f"{out_dir}/lineage", str(tmp_path / "lineage1"))
    time.sleep(0.01)
    assert lineage.expire(spark, out_dir, time.time()) == []
    assert os.listdir(f"{out_dir}/data") == [f"batch_id={first}"]
    r = lineage.run_resumable(df, out_dir)
    assert r["processed"] == 3 and r["skipped"] == 0
    for f in glob.glob(str(tmp_path / "lineage1" / "*.parquet")):
        shutil.copy(f, f"{out_dir}/lineage/{os.path.basename(f)}")
    assert lineage.read_lineage(spark, out_dir).count() == 6
    assert lineage.read_output(spark, out_dir).count() == 300
    assert lineage.verify_lineage(spark, out_dir).count() == 0
    time.sleep(0.01)
    assert lineage.expire(spark, out_dir, time.time()) == [first]
    assert os.listdir(f"{out_dir}/data") == [f"batch_id={r['batch_id']}"]
    assert lineage.read_output(spark, out_dir).count() == 300
    assert lineage.verify_lineage(spark, out_dir).count() == 0


def test_lineage_expire_deletes_crashed_batch_not_younger(spark, tmp_path):
    """A run that crashed before its lineage append leaves a batch no
    lineage row names, and ``verify_lineage`` flags its unit. ``expire``
    keeps that batch while it is younger than the cut-off and keeps every
    batch a live lineage row names; past it, the batch goes and verify is
    clean. The resume then commits the unit."""
    import os
    import time

    from geografir_spark.plans import lineage

    out_dir = str(tmp_path / "out")
    df = spark.range(300).selectExpr("id % 3 AS part_key", "id AS value")
    kept = lineage.run_resumable(df.filter("part_key < 2"), out_dir)["batch_id"]
    before_crash = time.time()
    time.sleep(0.01)
    with pytest.raises(RuntimeError, match="injected failure after 0 parts"):
        lineage.run_resumable(df, out_dir, fail_after_parts=0)
    assert [r.part_key for r in lineage.verify_lineage(spark, out_dir).collect()] == [2]
    assert lineage.expire(spark, out_dir, before_crash) == []
    assert len(os.listdir(f"{out_dir}/data")) == 2
    time.sleep(0.01)
    (crashed,) = lineage.expire(spark, out_dir, time.time())
    assert crashed != kept
    assert os.listdir(f"{out_dir}/data") == [f"batch_id={kept}"]
    assert lineage.verify_lineage(spark, out_dir).count() == 0
    assert lineage.read_output(spark, out_dir).count() == 200
    assert lineage.run_resumable(df, out_dir)["processed"] == 1
    assert lineage.read_output(spark, out_dir).count() == 300


def test_lineage_numeric_looking_batch_ids(spark, tmp_path, monkeypatch):
    """Partition discovery infers a number from an all-digit or
    exponent-shaped directory value: as numbers, the crashed batch
    "000000000001" and its resume "1e0000000000" would both read as 1, and
    the crashed batch's rows would show. Batch ids must read back as the
    strings the lineage holds."""
    import uuid

    from geografir_spark.plans import lineage

    ids = iter(["00000000-0001-0000-0000-000000000000", "1e000000-0000-0000-0000-000000000000"])
    monkeypatch.setattr(uuid, "uuid4", lambda: uuid.UUID(next(ids)))
    out_dir = str(tmp_path / "out")
    df = spark.range(200).selectExpr("id % 4 AS part_key", "id AS value")
    with pytest.raises(RuntimeError, match="injected failure after 0 parts"):
        lineage.run_resumable(df, out_dir, fail_after_parts=0)
    assert lineage.run_resumable(df, out_dir)["processed"] == 4
    assert lineage.read_output(spark, out_dir).count() == 200
    assert lineage.verify_lineage(spark, out_dir).count() == 0


def test_lineage_read_error_raises_instead_of_recommitting(spark, tmp_path, monkeypatch):
    """Only a missing lineage path reads as "nothing committed". Any other
    read error raises out of ``run_resumable`` before it writes: read as
    empty, it would recommit every unit in a new batch."""
    import glob

    from pyspark.sql.readwriter import DataFrameReader

    from geografir_spark.plans import lineage

    out_dir = str(tmp_path / "out")
    df = spark.range(300).selectExpr("id % 3 AS part_key", "id AS value")
    lineage.run_resumable(df, out_dir)
    batches = glob.glob(f"{out_dir}/data/batch_id=*")
    assert len(batches) == 1

    real_parquet = DataFrameReader.parquet

    def flaky_parquet(self, *paths, **options):
        if any(str(p).endswith("/lineage") for p in paths):
            raise OSError("listing failed")
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", flaky_parquet)
    with pytest.raises(OSError, match="listing failed"):
        lineage.run_resumable(df, out_dir)
    monkeypatch.undo()
    assert glob.glob(f"{out_dir}/data/batch_id=*") == batches
    assert lineage.read_lineage(spark, out_dir).count() == 3


def test_fresh_run_never_reads_a_missing_lineage_path(spark, tmp_path, monkeypatch):
    """A first run finds no pointer log without asking Spark to read it,
    so Spark logs no FileNotFoundException for the missing path."""
    import os

    from pyspark.sql.readwriter import DataFrameReader

    from geografir_spark.plans import lineage

    real_parquet = DataFrameReader.parquet
    missing = []

    def recording_parquet(self, *paths, **options):
        missing.extend(str(p) for p in paths if not os.path.exists(str(p)))
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording_parquet)
    out_dir = str(tmp_path / "out")
    df = spark.range(300).selectExpr("id % 3 AS part_key", "id AS value")
    r = lineage.run_resumable(df, out_dir)
    assert r["processed"] == 3 and r["skipped"] == 0
    assert lineage.read_lineage(spark, out_dir).count() == 3
    assert missing == []


@pytest.fixture()
def units40_out(spark, tmp_path):
    """A fresh run over 40 units from a 4-partition frame."""
    from geografir_spark.plans import lineage

    out_dir = str(tmp_path / "out")
    df = spark.range(4000, numPartitions=4).selectExpr("id % 40 AS part_key", "id AS v")
    r = lineage.run_resumable(df, out_dir)
    assert r["processed"] == 40 and r["skipped"] == 0
    return out_dir


def test_lineage_write_one_file_per_unit_from_parallel_writers(spark, units40_out):
    """The run lands as one batch of at most one file per core, not one
    directory per unit. The pending rows are clustered by unit before the
    write: each unit's rows are in exactly one file, and the files come
    from more than one task. Unclustered, every input task writes a file
    holding every unit it touches; coalesced, one task writes them all."""
    import glob
    import os

    from geografir_spark.plans import lineage

    assert not glob.glob(f"{units40_out}/data/**/part_key=*", recursive=True)
    (batch,) = glob.glob(f"{units40_out}/data/batch_id=*/")
    files = glob.glob(f"{batch}*.parquet")
    assert 1 <= len(files) <= min(40, spark.sparkContext.defaultParallelism), files
    per_unit = (
        spark.read.parquet(batch)
        .withColumn("file", F.input_file_name())
        .groupBy("part_key").agg(F.countDistinct("file").alias("files"))
        .collect()
    )
    assert len(per_unit) == 40 and all(r.files == 1 for r in per_unit)
    task_ids = {re.match(r"part-(\d+)", os.path.basename(f)).group(1) for f in files}
    assert len(task_ids) > 1
    assert lineage.verify_lineage(spark, units40_out).count() == 0


@pytest.fixture()
def batches34_out(spark, tmp_path):
    """34 runs into one output, each committing one new unit: 34 batch
    directories, more than the 32-path threshold above which Spark lists
    directories in a job."""
    from geografir_spark.plans import lineage

    out_dir = str(tmp_path / "out")
    df = spark.range(34).selectExpr("id AS part_key", "id * 7 AS v")
    for k in range(34):
        r = lineage.run_resumable(df.filter(f"part_key <= {k}"), out_dir)
        assert r["processed"] == 1 and r["skipped"] == k
    return out_dir


def test_lineage_read_output_listing_sized_to_cores(spark, batches34_out):
    """Listing the 34 batch directories runs as a Spark job whose task
    count follows the session's cores, not one task per directory."""
    from geografir_spark.plans import lineage

    sc = spark.sparkContext
    group = "lineage-read-output-listing"
    sc.setJobGroup(group, "read_output")
    try:
        out = lineage.read_output(spark, batches34_out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [st.getStageInfo(s) for j in jobs for s in st.getJobInfo(j).stageIds]
    assert stages and None not in stages
    assert max(s.numTasks for s in stages) <= sc.defaultParallelism, [
        s.numTasks for s in stages
    ]
    assert out.count() == 34


def test_salted_topk_equals_unsalted(spark, skewed_df):
    """The two-phase salted top-k (top-k per (cell, salt), then top-k of the
    survivors) must return EXACTLY the unsalted window result — the
    correctness contract behind salting the hot cells that perfbench's
    traced spatial_registry run reports as ``skew.max_reducer_rows``."""
    from pyspark.sql import Window as W

    from geografir_spark.operators.skew import salt_hot_cells

    k = 5
    df = skewed_df.withColumn("score", F.pmod(F.xxhash64("page_id"), F.lit(10_000)))
    order = [F.desc("score"), F.asc("page_id")]

    w = W.partitionBy("cell").orderBy(*order)
    plain = (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("cell", "page_id", "rn")
    )

    s = salt_hot_cells(df, threshold=1000, n_salts=8, hash_col="page_id")
    w1 = W.partitionBy("cell", "salt").orderBy(*order)
    cand = s.withColumn("rn", F.row_number().over(w1)).filter(F.col("rn") <= k)
    w2 = W.partitionBy("cell").orderBy(*order)
    two_phase = (
        cand.drop("rn")
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select("cell", "page_id", "rn")
    )

    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, two_phase.collect()))
    assert a == b and len(a) > 0


def test_connected_components_chain_and_cliques(spark):
    """Label propagation over a 7-node chain (forces multiple rounds — the
    diameter bound), a triangle, and an isolated pair: every node's label
    is its component's min id."""
    from geografir_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10, 16)]       # chain 10-…-16
        + [(100, 101), (101, 102), (100, 102)]    # triangle
        + [(200, 201)],                           # pair
        "src LONG, dst LONG",
    )
    got = {r["id"]: r["label"] for r in connected_components(edges).collect()}
    assert {got[i] for i in range(10, 17)} == {10}
    assert {got[i] for i in (100, 101, 102)} == {100}
    assert {got[i] for i in (200, 201)} == {200}
    assert len(got) == 7 + 3 + 2


def test_connected_components_nonconvergence_raises(spark):
    """ADVICE r2: a component whose diameter exceeds max_iter must FAIL
    loudly, not silently return split components."""
    import pytest

    from geografir_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 12)], "src LONG, dst LONG"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)
    # and with a sufficient bound the same chain converges to one component
    got = {r["id"]: r["label"] for r in connected_components(chain).collect()}
    assert set(got.values()) == {0}


def test_host_quota_two_phase_equals_single_window(spark):
    """VERDICT r2 #5: the two-phase salted quota (per-(host,salt) top-k →
    per-host re-quota over <= quota*n_salts survivors) must return exactly
    the single-window result on a mega-host fixture, with both windows in
    the plan (the scale certificate: no reducer ever sees a whole hot
    host)."""
    from geografir_spark.operators.text import hash60_expr
    from geografir_spark.queries import _host_quota_sql

    # mega-host fixture: 60% of docs share one host via doc_id % 50 == 7
    docs = spark.range(0, 5000).selectExpr(
        "CASE WHEN id % 10 < 6 THEN id * 50 + 7 ELSE id END AS doc_id",
        "'t' AS text", "'en' AS lang", "CAST(id % 997 AS INT) AS n_chars",
    )
    docs.createOrReplaceTempView("documents")
    try:
        two = spark.sql(_host_quota_sql("spark"))
        h = hash60_expr("CAST(page_id AS STRING)", "spark")
        from geografir_spark.sources.pages import pages_select_sql

        single = spark.sql(f"""
        WITH p AS (SELECT *, split(url, '/')[2] AS host, ({h}) AS hsh
                   FROM ({pages_select_sql('documents')})),
             r AS (SELECT host, page_id, n_chars,
                          row_number() OVER (PARTITION BY host
                                             ORDER BY hsh, page_id) AS rn
                   FROM p)
        SELECT host, count(*) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS kept_chars,
               min(page_id) AS first_kept
        FROM r WHERE rn <= 3 GROUP BY host
        """)
        a = sorted(map(tuple, two.collect()))
        b = sorted(map(tuple, single.collect()))
        assert a == b and len(a) > 0
        # the fixture really is skewed: one host holds the majority
        plan = two._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Window") >= 2, "two-phase plan must show 2 windows"
    finally:
        spark.catalog.dropTempView("documents")
