"""SparkSession factory with scale-oriented defaults.

Local-mode settings mirror what we would set on a real cluster: AQE with
skew-join splitting, Arrow-batched pandas UDFs for every Python kernel, and
shuffle partitions sized to cores rather than the 200 default. AQE's
skew-join splitting is the only skew handling the session sets; no operator
calls ``operators.skew``, and ROADMAP.md direction 6 (one density-aware
partitioner for the cell joins) decides whether it stays.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    app_name: str = "geografir-spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores`` pins ``local[N]`` — used by the scaling benchmark to compare
    N vs 4N parallelism on the same input (the sandbox proxy for the
    two-cluster-size requirement).
    """
    n = cores or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # shuffle partitions ≈ 2× cores locally; on a real cluster this is
        # sized by AQE's coalesce from an intentionally high initial value.
        .config("spark.sql.shuffle.partitions", str(max(2 * n, 8)))
        # a read over more than 32 paths lists them in a Spark job; the
        # 10000 default gives it one task per directory (one per batch in
        # a lineage output that many runs appended to). One listing task
        # per core suffices.
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # local test files are single small parquets — split them finer so
        # all cores get scan tasks. Production (100 TB, many files) keeps the
        # 128m default: override with SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # constraint propagation infers isnotnull(...) predicates from join
        # keys and pushes them below projection chains, re-inlining expensive
        # expressions exponentially (each Morton spread step references its
        # input twice → 2^k copies of the regexp geocode per inferred
        # predicate). Measured 10-50× slowdown on the PIP join; disabling
        # costs us nothing because engine join keys are always non-null by
        # construction. This does not cover explicit filters: a filter on a
        # derived cell/part column is still pushed below the projections and
        # re-inlines the regexp geocode; a long IN-list there outgrows
        # codegen's 64 KB limit. Select key sets with a broadcast semi- or
        # anti-join instead (plans.lineage.pending_rows).
        .config("spark.sql.constraintPropagation.enabled", "false")
        # same re-inlining hazard for generators: InferFiltersFromGenerate
        # wraps every explode(e) in isnotnull(e) AND size(e) > 0, and filter
        # pushdown substitutes the alias, so a computed gram/shingle array
        # is evaluated three times per input row on the dominant scan.
        # explode already skips null and empty arrays, so the filter never
        # removes a row the generator would emit.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # NOTE: a 48g heap measured 7× SLOWER on allocation-heavy stages
        # (regexp geocode) than 16g — oversized G1 young gen + fresh-page
        # zeroing. Don't raise this without re-running perfbench/
        # (setup_s, peak_rss_mb).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # the first spark.sql over a parquet.`path` relation (every
        # registry query's _sql_query) creates the warehouse directory,
        # ./spark-warehouse by default, in the caller's working directory
        .config("spark.sql.warehouse.dir", "/tmp/geografir_warehouse")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
