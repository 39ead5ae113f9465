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
    broadcast committed keys) under ``<out>/data/part_key=<k>/`` — one
    directory per unit, so a unit's output is replaced atomically by
    dynamic partition overwrite. The rows are clustered by unit first, so
    each unit is one file written by one task, and up to one task per core
    writes the units in parallel. A unit much larger than the rest makes
    its task the longest.
  Then one lineage row per pending unit is appended to ``<out>/lineage/``
  with (part_key, n_rows, checksum, batch_id, committed_ts) — only AFTER
  the data lands (write-ahead-data, commit-by-lineage). A crash in between
  leaves data without lineage: ``verify_lineage`` flags those parts and the
  next run rewrites them.
- A unit's checksum = bit_xor of xxhash64 over its rows' columns —
  order-insensitive, cheap, and comparable across reruns for integrity
  verification (``verify_lineage``).

On Iceberg-enabled clusters the data append maps to a table append +
snapshot; the lineage table is identical. The parquet layout here is the
sandbox fallback behind the same API.
"""

from __future__ import annotations

import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = (
    "part_key bigint, n_rows bigint, checksum bigint, batch_id string, committed_ts double"
)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    path = f"{out_dir}/lineage"
    try:
        return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    except Exception:
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


def _part_stats(df: DataFrame, n: str = "n", ck: str = "ck") -> DataFrame:
    """Per part key: row count and bit_xor of xxhash64 over the other columns."""
    cols = [c for c in df.columns if c != "part_key"]
    return df.groupBy("part_key").agg(
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
    part's (n_rows, checksum) then, if any part is pending, one
    dynamic-partition-overwrite write of the pending rows (idempotent — a
    replay overwrites only those partition dirs). That write gives each
    pending unit exactly one file, and runs min(pending units, cores)
    tasks; units are hashed to tasks, so one task may write several units
    while another writes none. Lineage for the pending parts is appended
    only after it.

    ``fail_after_parts`` (test hook for the kill-resume-verify cycle)
    writes all pending data, commits lineage for the first N pending parts
    in sorted order, then raises.
    """
    spark = df.sparkSession
    df = df.withColumnRenamed(part_col, "part_key") if part_col != "part_key" else df
    committed = {r.part_key for r in read_lineage(spark, out_dir).select("part_key").collect()}
    stats = _part_stats(df).collect()
    todo = sorted((r for r in stats if r.part_key not in committed), key=lambda r: r.part_key)
    batch_id = uuid.uuid4().hex[:12]
    result = {"processed": len(todo), "skipped": len(stats) - len(todo), "batch_id": batch_id}
    if not todo:
        return result
    # Cluster by unit so each unit is one file, written by one of at most
    # one task per core. The count must be explicit: AQE coalesces an
    # unnumbered repartition of small output back to a single task.
    writers = min(len(todo), spark.sparkContext.defaultParallelism)
    (
        pending_rows(df, committed).repartition(writers, "part_key")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part_key")
        .parquet(f"{out_dir}/data")
    )
    now = time.time()
    rows = [(r.part_key, r.n, r.ck, batch_id, now) for r in todo[:fail_after_parts]]
    _local_frame(spark, rows, LINEAGE_SCHEMA).write.mode("append").parquet(f"{out_dir}/lineage")
    if len(rows) < len(todo):
        raise RuntimeError(f"injected failure after {len(rows)} parts (batch {batch_id})")
    return result


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.option("basePath", f"{out_dir}/data").parquet(f"{out_dir}/data")


def verify_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Recompute per-part (n_rows, checksum) from the data files and diff
    against lineage — returns rows that disagree (empty == intact)."""
    actual = _part_stats(read_output(spark, out_dir), "a_rows", "a_ck")
    lin = read_lineage(spark, out_dir).groupBy("part_key").agg(
        F.max("n_rows").alias("n_rows"), F.max("checksum").alias("checksum")
    )
    j = actual.join(lin, "part_key", "full_outer")
    return j.filter(
        (F.col("a_rows").isNull())
        | (F.col("n_rows").isNull())
        | (F.col("a_rows") != F.col("n_rows"))
        | (F.col("a_ck") != F.col("checksum"))
    )
