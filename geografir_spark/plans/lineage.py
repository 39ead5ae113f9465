"""Checkpoint resumability with per-partition lineage (BASELINE.json
north_rule: "resumable from checkpoint with per-partition lineage + metrics").

Design (batch + snapshot manifests — no Structured Streaming needed; the
reference's own download_directory documents non-transactional partial
failure, object_storage/src/object_storage/object_store.py:215-221, which is
precisely the failure mode this module closes):

- Work is partitioned by an integer **part key** (typically a coarse cell,
  e.g. ``cell_parent(cell, 4)`` — spatially aligned so each unit is one
  cell-range scan).
- ``run_resumable`` reads the committed part keys from the lineage table
  (small) and evaluates the pipeline at most twice per run:
  - one grouped job yields every planned part with its (n_rows, checksum);
    when every planned part is committed the run stops here;
  - one write lands the pending rows (the pipeline LEFT ANTI JOIN the
    broadcast committed keys) as a new batch,
    ``<out>/data/batch_id=<id>/part-*.parquet``: one file per writer, not
    one directory per unit. The rows are clustered by unit first, so each
    unit is in one file written by one task, and up to one task per core
    writes. A unit much larger than the rest makes its task the longest.
  Then one lineage row per pending unit is appended to ``<out>/lineage/``
  with (part_key, n_rows, checksum, batch_id, committed_ts) — only AFTER
  the data lands (write-ahead-data, commit-by-lineage). The lineage row is
  the commit pointer: ``read_output`` returns, for each unit, only the
  rows of the batch on its latest lineage row. A crash in between leaves
  data without lineage, which ``read_output`` does not return,
  ``verify_lineage`` flags, and the next run writes again in a new batch.
  The superseded rows stay on disk, invisible; nothing removes them.
- A unit's checksum = bit_xor of xxhash64 over its rows' columns —
  order-insensitive, cheap, and comparable across reruns for integrity
  verification (``verify_lineage``).

On Iceberg-enabled clusters a batch maps to a table append (a set of
immutable files) + snapshot; the lineage table is identical. The parquet
layout here is the sandbox fallback behind the same API.
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "part_key bigint, n_rows bigint, checksum bigint, batch_id string, committed_ts double"
)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """The lineage table of ``out_dir``; empty when nothing was committed
    yet. Only a missing path reads as empty: any other error raises, since
    an empty lineage makes ``run_resumable`` recommit every unit."""
    path = f"{out_dir}/lineage"
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return _local_frame(spark, [], LINEAGE_SCHEMA)


def _local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """``rows`` as a driver-local relation. Built from Arrow, unlike a list
    of tuples it starts no Python worker and runs no Spark job."""
    names = [f.split()[0] for f in schema.split(",")]
    cols = list(zip(*rows)) or [()] * len(names)
    return spark.createDataFrame(pa.table(dict(zip(names, map(list, cols)))), schema)


def pending_rows(df: DataFrame, committed: set) -> DataFrame:
    """The rows of ``df`` whose part key is not in ``committed``: ``df``
    itself when nothing is committed, else a broadcast LEFT ANTI join.

    Not an ``isin`` filter: the optimizer pushes a filter on a derived
    part column below every projection, where a long IN-list over the
    inlined geocode + Morton expression outgrows whole-stage codegen's
    64 KB method limit and the stage runs interpreted."""
    if not committed:
        return df
    done = _local_frame(df.sparkSession, [(k,) for k in committed], "part_key bigint")
    return df.join(F.broadcast(done), "part_key", "left_anti")


def _part_stats(
    df: DataFrame, keys: tuple = ("part_key",), n: str = "n", ck: str = "ck"
) -> DataFrame:
    """Per ``keys``: row count and bit_xor of xxhash64 over the other columns."""
    cols = [c for c in df.columns if c not in keys]
    return df.groupBy(*keys).agg(
        F.count("*").alias(n), F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias(ck)
    )


def run_resumable(
    df: DataFrame,
    out_dir: str,
    *,
    part_col: str = "part_key",
    fail_after_parts: int | None = None,
) -> dict:
    """Process ``df`` (which must carry ``part_col``) into ``out_dir``,
    resumably. Returns {"processed": n, "skipped": n, "batch_id": ...};
    ``skipped`` counts the planned parts already committed.

    One run evaluates ``df`` at most twice: a grouped job for every planned
    part's (n_rows, checksum) then, if any part is pending, one write of
    the pending rows into a new batch directory,
    ``<out_dir>/data/batch_id=<batch_id>/``. That write runs
    min(pending units, cores) tasks and each task writes one file, so each
    pending unit's rows are in exactly one file; units are hashed to
    tasks, so one task may write several units while another writes none.
    Lineage for the pending parts, carrying ``batch_id``, is appended only
    after it: the lineage row is what makes the unit's rows in that batch
    visible to ``read_output``.

    ``fail_after_parts`` (test hook for the kill-resume-verify cycle)
    writes all pending data, commits lineage for the first N pending parts
    in sorted order, then raises.
    """
    spark = df.sparkSession
    df = df.withColumnRenamed(part_col, "part_key") if part_col != "part_key" else df
    committed = {r.part_key for r in read_lineage(spark, out_dir).select("part_key").collect()}
    stats = _part_stats(df).collect()
    todo = sorted((r for r in stats if r.part_key not in committed), key=lambda r: r.part_key)
    # The letter keeps the id a string when partition discovery reads the
    # directory name back. An all-digit or "1e0..."-shaped hex id would be
    # inferred as a number, and distinct ids can be equal numbers
    # ("000000000001" and "1e0000000000" are both 1).
    batch_id = "b" + uuid.uuid4().hex[:12]
    result = {"processed": len(todo), "skipped": len(stats) - len(todo), "batch_id": batch_id}
    if not todo:
        return result
    # Cluster by unit so each unit is one file, written by one of at most
    # one task per core. The count must be explicit: AQE coalesces an
    # unnumbered repartition of small output back to a single task.
    writers = min(len(todo), spark.sparkContext.defaultParallelism)
    pending_rows(df, committed).repartition(writers, "part_key").write.parquet(
        f"{out_dir}/data/batch_id={batch_id}"
    )
    now = time.time()
    rows = [(r.part_key, r.n, r.ck, batch_id, now) for r in todo[:fail_after_parts]]
    _local_frame(spark, rows, LINEAGE_SCHEMA).write.mode("append").parquet(f"{out_dir}/lineage")
    if len(rows) < len(todo):
        raise RuntimeError(f"injected failure after {len(rows)} parts (batch {batch_id})")
    return result


def _committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Each unit's latest lineage row: (part_key, batch_id, n_rows, checksum).

    A unit can have several rows: a lineage directory that went missing
    reads as no lineage, and the next run then commits its units again."""
    latest = F.max_by(F.struct("batch_id", "n_rows", "checksum"), "committed_ts")
    return read_lineage(spark, out_dir).groupBy("part_key").agg(latest.alias("c")).select(
        "part_key", "c.*"
    )


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed rows: for each unit, the rows of the batch named by its
    latest lineage row. Rows of a batch without lineage for the unit (a
    crash between the data write and the lineage append, or a batch a
    later run superseded) stay on disk and are not returned."""
    live = _committed(spark, out_dir).select("part_key", "batch_id")
    data = spark.read.parquet(f"{out_dir}/data")
    return data.join(F.broadcast(live), ["part_key", "batch_id"], "left_semi").drop("batch_id")


def verify_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Recompute (n_rows, checksum) per unit and batch from the data files
    and diff against each unit's latest lineage row. Returns one row per
    disagreement (empty == intact), with columns part_key, a_rows, a_ck,
    n_rows, checksum:

    - a lineage row whose batch holds no rows for the unit (a_rows null);
    - a count or checksum mismatch on the unit's committed batch;
    - rows of a unit that has no lineage row at all (n_rows null): the
      crash window, which the next run rewrites.

    Rows of a batch that is not the unit's committed one are ignored when
    the unit has a committed batch."""
    data = spark.read.parquet(f"{out_dir}/data")
    actual = _part_stats(data, ("part_key", "batch_id"), "a_rows", "a_ck")
    j = actual.join(_committed(spark, out_dir), ["part_key", "batch_id"], "full_outer")
    j = j.withColumn("unit_committed", F.count("n_rows").over(Window.partitionBy("part_key")) > 0)
    return j.filter(
        F.col("a_rows").isNull()
        | (F.col("n_rows").isNull() & ~F.col("unit_committed"))
        | (F.col("a_rows") != F.col("n_rows"))
        | (F.col("a_ck") != F.col("checksum"))
    ).select("part_key", "a_rows", "a_ck", "n_rows", "checksum")
