"""Physical layout: manifest-pruned spatial scans — the structural 100 TB
mechanism, verified by file counts on small data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def cell_df(spark):
    # 4000 rows across a contiguous cell range; values depend on cell only
    return spark.range(4000).select(
        (F.col("id") * 7 % 4096).alias("cell"),
        (F.col("id") % 100).alias("v"),
    )


def test_spatial_manifest_prunes_files(spark, cell_df, tmp_path_factory):
    from geografir_spark.plans.layout import (
        POINTER_SCHEMA,
        pruned_file_count,
        read_spatial,
        write_spatial,
    )
    from geografir_spark.plans.lineage import read_pointers

    path = str(tmp_path_factory.mktemp("layout") / "cells")
    write_spatial(cell_df, path, n_ranges=8)
    assert read_spatial(spark, path).count() == 4000

    sel, total = pruned_file_count(spark, path, [(100, 199)])
    assert total == 8
    assert 1 <= sel < total, "a narrow range query must not touch every file"

    ranged = read_spatial(spark, path, [(100, 199)])
    got = ranged.orderBy("cell", "v").collect()
    exp = (
        cell_df.filter((F.col("cell") >= 100) & (F.col("cell") <= 199))
        .orderBy("cell", "v")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in exp]
    # the scan opens exactly the files whose cell span overlaps the range
    spans = {
        r.file.rsplit("/", 1)[1]: (r.cell_min, r.cell_max)
        for r in read_pointers(spark, path, POINTER_SCHEMA).collect()
    }
    opened = [f.rsplit("/", 1)[1] for f in ranged.inputFiles()]
    assert len(opened) == sel
    assert all(spans[f][1] >= 100 and spans[f][0] <= 199 for f in opened)

    # multi-range (a bbox cover is a list of cell intervals)
    got2 = read_spatial(spark, path, [(0, 9), (4000, 4095)]).count()
    exp2 = cell_df.filter(
        ((F.col("cell") >= 0) & (F.col("cell") <= 9))
        | ((F.col("cell") >= 4000) & (F.col("cell") <= 4095))
    ).count()
    assert got2 == exp2

    # no range, or a range that misses every file → empty, table schema
    for ranges in ([], [(1 << 40, (1 << 40) + 5)]):
        empty = read_spatial(spark, path, ranges)
        assert empty.count() == 0
        assert empty.columns == ["cell", "v"]
    with pytest.raises(ValueError, match="lo > hi"):
        read_spatial(spark, path, [(20, 10)])
    # an empty write raises instead of leaving the previous commit live
    with pytest.raises(ValueError, match="no rows"):
        write_spatial(cell_df.limit(0), path)
    assert read_spatial(spark, path).count() == 4000


def test_snapshot_is_metadata_only_and_reads_back(spark, tmp_path):
    """O13/O14 server-side copy re-expressed: a snapshot is a commit time
    and copies nothing. OPTIMIZE commits a new batch and renames nothing,
    so the pre-optimize snapshot reads the same rows, full and pruned, on
    a table path that needs escaping. ``expire`` then deletes only what no
    pointer live at or after its cut-off names, and nothing younger."""
    import os
    import shutil
    import time

    from geografir_spark.plans.layout import (
        optimize_spatial, pruned_file_count, read_spatial, snapshot_spatial,
        write_spatial,
    )
    from geografir_spark.plans.lineage import expire

    src = str(tmp_path / "a b" / "tbl")
    df = spark.range(0, 1000).selectExpr("id", "id * 7 % 512 AS cell")
    write_spatial(df, src, n_ranges=8)
    listing = sorted(os.walk(src))
    snap = snapshot_spatial(spark, src)
    assert sorted(os.walk(src)) == listing, "a snapshot writes nothing"
    (old_batch,) = os.listdir(f"{src}/data")
    ranges = [(0, 63)]
    sel, total = pruned_file_count(spark, src, ranges)
    assert total == 8 and 1 <= sel < total

    def ids(d):
        return sorted(r["id"] for r in d.select("id").collect())

    full, pruned = ids(read_spatial(spark, src)), ids(read_spatial(spark, src, ranges))
    assert len(full) == 1000 and pruned == ids(df.filter("cell BETWEEN 0 AND 63"))

    assert optimize_spatial(spark, src, target_rows_per_file=500) == (8, 2)
    assert pruned_file_count(spark, src, ranges)[1] == 2
    assert ids(read_spatial(spark, src)) == full
    assert ids(read_spatial(spark, src, ranges)) == pruned
    assert ids(read_spatial(spark, src, as_of=snap)) == full
    assert ids(read_spatial(spark, src, ranges, as_of=snap)) == pruned
    (new_batch,) = set(os.listdir(f"{src}/data")) - {old_batch}

    # two batches no pointer names: one written long ago, one just now
    for name, age in (("batch_id=borphan", 3600.0), ("batch_id=byoung", 0.0)):
        shutil.copytree(f"{src}/data/{new_batch}", f"{src}/data/{name}")
        for root, _, files in os.walk(f"{src}/data/{name}"):
            for p in [root, *(os.path.join(root, f) for f in files)]:
                os.utime(p, (time.time() - age,) * 2)

    # the snapshot's commit is still live at its own time: only the old orphan goes
    assert expire(spark, src, snap) == ["borphan"]
    assert ids(read_spatial(spark, src, as_of=snap)) == full
    time.sleep(0.01)
    assert sorted(expire(spark, src, time.time())) == sorted([old_batch[9:], "byoung"])
    assert os.listdir(f"{src}/data") == [new_batch]
    assert ids(read_spatial(spark, src)) == full


def test_optimize_compacts_small_files(spark, tmp_path):
    """OPTIMIZE maintenance: a fragmented table (64 tiny files) rewrites to
    ~target-sized cell-clustered files, and both full and range-pruned
    reads are row-identical before/after. Reads go through
    ``read_spatial``: the table's data directory also holds the superseded
    batch until ``expire``, so a raw parquet read of it sees every row
    twice."""
    from geografir_spark.plans.layout import (
        optimize_spatial, read_spatial, write_spatial,
    )

    path = str(tmp_path / "frag")
    df = spark.range(0, 8000).selectExpr("id", "id % 97 AS cell")
    write_spatial(df, path, n_ranges=64)

    before_rows = sorted(r["id"] for r in read_spatial(spark, path).collect())
    nb, na = optimize_spatial(spark, path, target_rows_per_file=4000)
    assert nb == 64 and na <= 4
    after_rows = sorted(r["id"] for r in read_spatial(spark, path).collect())
    assert after_rows == before_rows
    pruned = sorted(
        r["id"] for r in read_spatial(spark, path, [(10, 20)]).collect()
    )
    assert pruned == sorted(i for i in range(8000) if 10 <= i % 97 <= 20)
