"""Physical data layout for spatial scans: cell-range pointer rows
("Global Range Encoding" pruning), a 100 TB-scale mechanism the sandbox's
single-JVM tests still verify structurally.

A spatial table is written range-partitioned and sorted by the Morton
``cell`` key, so each parquet file covers one tight cell interval, and
commits through ``plans/lineage.py``'s protocol: each write is a new
immutable batch, committed by one pointer row per file, (batch_id, file,
cell_min, cell_max, n_rows, committed_ts). A spatial query (bbox → cover
cell ranges, `geo/cells.py`) prunes the *file list* with an
interval-overlap test on the live pointer rows before Spark ever opens a
footer. At a million files this moves pruning from per-file footer reads
to one pointer scan — the same trick Iceberg metadata and the EDBT'18
Global-Range-Encoding paper use (see PAPERS.md); parquet row-group
min/max pruning still applies inside the surviving files. A snapshot is a
commit timestamp, and ``read_spatial(as_of=...)`` reads the table as it
was then: compaction writes a new batch and renames nothing, so an earlier
snapshot keeps reading until ``expire`` deletes the batches no live
pointer names.

On Iceberg (https://iceberg.apache.org/spec/#snapshots) the same calls map
one to one: ``write_spatial`` is ``df.sortWithinPartitions(cell).writeTo(t)``
after a range repartition, and data-file column stats replace the pointer
rows' cell spans; ``read_spatial`` is ``spark.table(t)`` filtered on the
cell ranges, ``as_of`` is ``option("as-of-timestamp", ms)``;
``optimize_spatial`` is ``CALL <cat>.system.rewrite_data_files(t, strategy
=> 'sort', sort_order => 'cell')``; ``expire`` is ``expire_snapshots``
then ``remove_orphan_files``. Activating it is configuration only:
``spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<version>``,
``spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions``,
``spark.sql.catalog.geo=org.apache.iceberg.spark.SparkCatalog``,
``spark.sql.catalog.geo.type=hadoop`` (or hive/rest/glue) and
``spark.sql.catalog.geo.warehouse=<warehouse-uri>``. The runtime jar is not
a dependency of this package, so the mapping is documentation, not tested
code.
"""

from __future__ import annotations

import time
from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geografir_spark.plans.lineage import commit, live, new_batch, read_pointers

POINTER_SCHEMA = (
    "batch_id string, file string, cell_min bigint, cell_max bigint,"
    " n_rows bigint, committed_ts double"
)


def _overlaps(lo: str, hi: str, ranges: "list[tuple[int, int]]") -> Column:
    """[``lo``, ``hi``] meets any inclusive (lo, hi) cell range: a file's
    span on the pointer rows, or one row's cell with ``lo == hi``."""
    for a, b in ranges:
        if a > b:
            raise ValueError(f"cell range ({a}, {b}) has lo > hi")
    return reduce(or_, [(F.col(hi) >= a) & (F.col(lo) <= b) for a, b in ranges], F.lit(False))


def _live_files(spark: SparkSession, path: str, ranges=None, as_of=None) -> list:
    """The live pointer rows of the table at ``path`` as of ``as_of``, each
    with ``hit``: whether its cell span meets ``ranges`` (all when None)."""
    hit = F.lit(True) if ranges is None else _overlaps("cell_min", "cell_max", ranges)
    rows = live(read_pointers(spark, path, POINTER_SCHEMA), [], as_of).withColumn("hit", hit)
    rows = rows.collect()
    if not rows:
        raise ValueError(f"spatial table {path} has no commit at or before {as_of}")
    return rows


def write_spatial(
    df: DataFrame,
    path: str,
    *,
    cell_col: str = "cell",
    n_ranges: "int | None" = None,
) -> None:
    """Commit ``df`` as the new content of the spatial table at ``path``:
    one cell-range-clustered batch, then one pointer row per file.

    ``repartitionByRange`` gives each output file a disjoint cell interval
    (range exchange with sampled bounds); ``sortWithinPartitions`` makes
    parquet row-group stats tight inside each file. Files are recorded
    relative to ``path`` and unescaped, so the table reads back from any
    path spelling."""
    spark = df.sparkSession
    n = n_ranges or spark.sparkContext.defaultParallelism
    batch_id, batch = new_batch(path)
    df.repartitionByRange(n, F.col(cell_col)).sortWithinPartitions(cell_col).write.parquet(batch)
    spans = (
        spark.read.parquet(batch)
        .select(F.col("_metadata.file_name").alias("f"), F.col(cell_col).alias("c"))
        .groupBy("f")
        .agg(F.min("c"), F.max("c"), F.count("*"))
        .collect()
    )
    if not spans:
        raise ValueError(f"no rows to commit to spatial table {path}")
    now = time.time()
    rows = [(batch_id, f"data/batch_id={batch_id}/{f}", lo, hi, k, now) for f, lo, hi, k in spans]
    commit(spark, path, rows, POINTER_SCHEMA)


def read_spatial(
    spark: SparkSession,
    path: str,
    ranges: "list[tuple[int, int]] | None" = None,
    *,
    as_of: "float | None" = None,
    cell_col: str = "cell",
) -> DataFrame:
    """The spatial table at ``path`` as of commit time ``as_of`` (latest
    when None). With ``ranges`` (inclusive cell intervals), only the files
    whose [cell_min, cell_max] span overlaps one are scanned, and the cell
    predicate is re-applied to their rows — file-level pruning by pointer
    rows, row-level exactness by filter. ``[]`` and a miss both give an
    empty frame with the table's schema; a range with lo > hi raises
    ``ValueError``."""
    rows = _live_files(spark, path, ranges, as_of)
    schema = spark.read.parquet(f"{path}/{rows[0].file}").schema
    files = [f"{path}/{r.file}" for r in rows if r.hit]
    if not files:
        return spark.createDataFrame([], schema)
    df = spark.read.schema(schema).parquet(*files)
    return df if ranges is None else df.filter(_overlaps(cell_col, cell_col, ranges))


def pruned_file_count(
    spark: SparkSession, path: str, ranges: "list[tuple[int, int]]"
) -> "tuple[int, int]":
    """(files selected, files total) for a range query — pruning telemetry."""
    rows = _live_files(spark, path, ranges)
    return sum(r.hit for r in rows), len(rows)


def snapshot_spatial(spark: SparkSession, path: str) -> float:
    """A snapshot of the spatial table at ``path``: the commit timestamp of
    its current content, for ``read_spatial(..., as_of=)``. It copies
    nothing — the re-expression of the reference's server-side copy
    (object_storage/src/object_storage/object_location.py O13/O14 +
    object_store copy: the bytes never travel through the client). Here
    they never travel at all, the same move Iceberg makes with metadata
    snapshots. The snapshot reads until an ``expire`` cut-off passes the
    commit that superseded it."""
    return _live_files(spark, path)[0].committed_ts


def optimize_spatial(
    spark: SparkSession,
    path: str,
    *,
    cell_col: str = "cell",
    target_rows_per_file: int = 1_000_000,
) -> "tuple[int, int]":
    """Small-file compaction (the OPTIMIZE maintenance job): commit the
    spatial table's rows again as ~``target_rows_per_file``-row
    cell-range-clustered files. Streaming ingest and incremental appends
    accrete small files; a million tiny files makes every scan pay a
    million opens, and tight per-file cell spans (what pruning reads) only
    hold if files are re-range-partitioned periodically.

    Returns (files_before, files_after). The rewrite is a new batch and new
    pointer rows: nothing is renamed or deleted, so readers never see a
    half-swapped table, a crash leaves the old commit live, and snapshots
    taken earlier keep reading. ``expire`` removes the superseded batch."""
    before = _live_files(spark, path)
    n = max(1, round(sum(r.n_rows for r in before) / target_rows_per_file))
    write_spatial(read_spatial(spark, path, cell_col=cell_col), path, cell_col=cell_col, n_ranges=n)
    return len(before), len(_live_files(spark, path))

