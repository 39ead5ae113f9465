"""Checkpoint resumability with per-partition lineage (BASELINE.json
north_rule: "resumable from checkpoint with per-partition lineage + metrics"),
and the one commit protocol every table under ``plans/`` uses.

The protocol (no Structured Streaming needed; the reference's own
download_directory documents non-transactional partial failure,
object_storage/src/object_storage/object_store.py:215-221, which is
precisely the failure mode it closes):

- A write lands as a new immutable batch, ``<root>/data/batch_id=<id>/``.
  Nothing rewrites or renames a batch once it is written.
- Only AFTER the data lands are pointer rows appended to the pointer log,
  ``<root>/lineage/``, each naming its batch and carrying ``committed_ts``
  (write-ahead-data, commit-by-pointer). A crash in between leaves a batch
  no pointer names, which no reader returns.
- The live rule (``live``): each key's latest commit as of a time. Readers
  see only live pointers; a read "as of" an earlier commit time is a
  snapshot, and it keeps reading for as long as its batches are kept.
- ``expire`` deletes the batches no pointer live at or after a cut-off
  names: superseded batches, and batches a crash left without pointers.

Lineage outputs (``run_resumable``) key their pointers by an integer **part
key** (typically a coarse cell, e.g. ``cell_parent(cell, 4)`` — spatially
aligned so each unit is one cell-range scan). A run reads the committed
part keys (small) and evaluates the pipeline at most twice:
  - one grouped job yields every planned part with its (n_rows, checksum);
    when every planned part is committed the run stops here;
  - one write lands the pending rows (the pipeline LEFT ANTI JOIN the
    broadcast committed keys) as a new batch of one file per writer, not
    one directory per unit. The rows are clustered by unit first, so each
    unit is in one file written by one task, and up to one task per core
    writes. A unit much larger than the rest makes its task the longest.
  Then one pointer row per pending unit, (part_key, n_rows, checksum,
  batch_id, committed_ts), is appended. ``read_output`` returns, for each
  unit, only the rows of the batch on its live pointer; ``verify_lineage``
  flags the rows of a unit that has no pointer, which the next run writes
  again in a new batch. A unit's checksum = bit_xor of xxhash64 over its
  rows' columns — order-insensitive, cheap, and comparable across reruns.
Spatial tables (``plans/layout.py``) have one pointer per data file and no
key: the whole table is one key, so its live pointers are every file of
its latest commit.

On Iceberg a batch is a table append and a commit a snapshot; the lineage
table is identical (the mapping is in ``plans/layout.py``). The parquet
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


def new_batch(root: str) -> tuple[str, str]:
    """(batch_id, directory) for a new batch of ``root``."""
    # The letter keeps the id a string when partition discovery reads the
    # directory name back. An all-digit or "1e0..."-shaped hex id would be
    # inferred as a number, and distinct ids can be equal numbers
    # ("000000000001" and "1e0000000000" are both 1).
    batch_id = "b" + uuid.uuid4().hex[:12]
    return batch_id, f"{root}/data/batch_id={batch_id}"


def read_pointers(spark: SparkSession, root: str, schema: str) -> DataFrame:
    """The pointer log of ``root``; empty when nothing was committed yet.
    Only a missing path reads as empty, checked through the Hadoop
    FileSystem so that Spark never lists a path that is not there: any
    other error raises, since an empty log makes ``run_resumable``
    recommit every unit."""
    fs, log = _hadoop_path(spark, f"{root}/lineage")
    if not fs.exists(log):
        return _local_frame(spark, [], schema)
    return spark.read.schema(schema).parquet(f"{root}/lineage")


def commit(spark: SparkSession, root: str, rows: list, schema: str) -> None:
    """Append pointer rows to the pointer log of ``root``: the commit."""
    _local_frame(spark, rows, schema).write.mode("append").parquet(f"{root}/lineage")


def live(log: DataFrame, keys: list, as_of: float | None = None) -> DataFrame:
    """The live rows of pointer log ``log``: each key's latest commit at or
    before ``as_of`` (unbounded when None). With no ``keys`` the whole log
    is one key, so the rows are every pointer of its latest commit."""
    if as_of is not None:
        log = log.filter(F.col("committed_ts") <= F.lit(as_of))
    latest = log.groupBy(*keys).agg(F.max("committed_ts").alias("committed_ts"))
    return log.join(F.broadcast(latest), [*keys, "committed_ts"], "left_semi")


def expire(spark: SparkSession, root: str, older_than: float) -> list[str]:
    """Delete every batch of ``root`` that no pointer live at or after
    ``older_than`` (seconds since the epoch) names, through the Hadoop
    FileSystem; returns the deleted batch ids.

    A pointer is live at or after ``older_than`` when it is live as of
    ``older_than`` or was committed later, so every snapshot from
    ``older_than`` on keeps reading. A batch whose directory or any file in
    it was modified at or after ``older_than`` is kept: it may be a write
    whose pointers are not appended yet. Without pointer rows (a missing
    or empty log) nothing is provably dead, and nothing is deleted."""
    try:
        log = spark.read.parquet(f"{root}/lineage")
    except AnalysisException as e:
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return []
    # a spatial table's pointers carry no part key: the table is one key
    keys = [c for c in ("part_key",) if c in log.columns]
    named = live(log, keys, older_than).unionByName(log.filter(F.col("committed_ts") > older_than))
    keep = {r.batch_id for r in named.select("batch_id").distinct().collect()}
    if not keep:
        return []
    fs, data = _hadoop_path(spark, f"{root}/data")
    cutoff_ms = older_than * 1000
    gone = []
    for st in fs.listStatus(data):
        name = st.getPath().getName()
        batch_id = name.removeprefix("batch_id=")
        if batch_id == name or batch_id in keep:
            continue
        young = st.getModificationTime() >= cutoff_ms
        files = fs.listFiles(st.getPath(), True)
        while not young and files.hasNext():
            young = files.next().getModificationTime() >= cutoff_ms
        if not young and fs.delete(st.getPath(), True):
            gone.append(batch_id)
    return gone


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """The lineage table (pointer log) of ``out_dir``."""
    return read_pointers(spark, out_dir, LINEAGE_SCHEMA)


def _hadoop_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) of ``path``."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p  # noqa: SLF001


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
    batch_id, batch = new_batch(out_dir)
    result = {"processed": len(todo), "skipped": len(stats) - len(todo), "batch_id": batch_id}
    if not todo:
        return result
    # Cluster by unit so each unit is one file, written by one of at most
    # one task per core. The count must be explicit: AQE coalesces an
    # unnumbered repartition of small output back to a single task.
    writers = min(len(todo), spark.sparkContext.defaultParallelism)
    pending_rows(df, committed).repartition(writers, "part_key").write.parquet(batch)
    now = time.time()
    rows = [(r.part_key, r.n, r.ck, batch_id, now) for r in todo[:fail_after_parts]]
    commit(spark, out_dir, rows, LINEAGE_SCHEMA)
    if len(rows) < len(todo):
        raise RuntimeError(f"injected failure after {len(rows)} parts (batch {batch_id})")
    return result


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """The committed rows: for each unit, the rows of the batch named by its
    live lineage row. Rows of a batch without lineage for the unit (a crash
    between the data write and the lineage append, or a batch a later run
    superseded) are not returned; ``expire`` deletes such batches."""
    units = live(read_lineage(spark, out_dir), ["part_key"]).select("part_key", "batch_id")
    data = spark.read.parquet(f"{out_dir}/data")
    return data.join(F.broadcast(units), ["part_key", "batch_id"], "left_semi").drop("batch_id")


def verify_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Recompute (n_rows, checksum) per unit and batch from the data files
    and diff against each unit's live lineage row. Returns one row per
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
    units = live(read_lineage(spark, out_dir), ["part_key"])
    units = units.select("part_key", "batch_id", "n_rows", "checksum")
    j = actual.join(units, ["part_key", "batch_id"], "full_outer")
    j = j.withColumn("unit_committed", F.count("n_rows").over(Window.partitionBy("part_key")) > 0)
    return j.filter(
        F.col("a_rows").isNull()
        | (F.col("n_rows").isNull() & ~F.col("unit_committed"))
        | (F.col("a_rows") != F.col("n_rows"))
        | (F.col("a_ck") != F.col("checksum"))
    ).select("part_key", "a_rows", "a_ck", "n_rows", "checksum")
