"""Registry queries leave the caller's session as they found it: no temp
view is registered or replaced, no SQL conf is toggled, and no frame is
cached or catalog table written, so several callers can share one
SparkSession. ``test_oracle_parity`` checks the cache and the catalog after
every query."""

from __future__ import annotations

import ast
import re
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from conftest import SF_DIR, SF_DIR_MED

PACKAGE = Path(__file__).resolve().parent.parent / "geografir_spark"


def _rows(df) -> list:
    return sorted(map(repr, df.collect()))


def _temp_views(spark) -> set:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_caller_view_survives_registry_queries(spark):
    """A caller's own ``documents`` view is neither read nor replaced by
    queries whose inputs include the ``documents`` table, and no query
    leaves a temp view behind."""
    from geografir_spark.queries import QUERIES

    names = ("dedup_exact", "morans_i_pages", "hybrid_retrieval_rrf")
    mine = [(1, "a"), (2, "b"), (3, "c")]
    spark.createDataFrame(mine, "k BIGINT, v STRING").createOrReplaceTempView("documents")
    try:
        before = _temp_views(spark)
        for name in names:
            out = QUERIES[name].fn(spark, SF_DIR)
            assert out.count() > 0, name
        assert [tuple(r) for r in spark.table("documents").orderBy("k").collect()] == mine
        assert _temp_views(spark) == before
    finally:
        spark.catalog.dropTempView("documents")


def test_concurrent_registry_queries_match_serial(spark):
    """Eight registry queries from 4 threads on one session, over two
    scale factors whose tables share names, give the single-threaded
    results. Covers a plain and a repartitioned table binding, the
    checkpointed tails, the correlated-subquery form and a generator
    query."""
    from geografir_spark.queries import QUERIES

    jobs = [
        ("dedup_exact", SF_DIR),
        ("pricing_summary", SF_DIR_MED),
        ("shipping_priority_topk", SF_DIR),
        ("morans_i_pages", SF_DIR_MED),
        ("hybrid_retrieval_rrf", SF_DIR),
        ("nation_big_spenders", SF_DIR),
        ("nation_big_spenders", SF_DIR_MED),
        ("segment_dedup", SF_DIR_MED),
    ]

    def run(job):
        name, sf = job
        return _rows(QUERIES[name].fn(spark, sf))

    serial = [run(j) for j in jobs]
    with ThreadPoolExecutor(max_workers=4) as pool:
        threaded = list(pool.map(run, jobs))
    for job, want, got in zip(jobs, serial, threaded):
        assert got == want, job
    # the two scale factors really are different inputs
    assert serial[5] != serial[6]


def test_no_size_filter_inferred_under_generate(spark):
    """The session excludes InferFiltersFromGenerate: segment_dedup's
    exploded segment arrays carry no inferred ``size(...) > 0`` filter,
    which would re-evaluate the split expression per input row."""
    from geografir_spark.queries import QUERIES

    df = QUERIES["segment_dedup"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate explode" in plan
    inferred = [ln for ln in plan.splitlines() if re.search(r"Filter .*size\(", ln)]
    assert not inferred, inferred


def test_queries_module_touches_no_session_state():
    """No module of the package registers a temp view, writes a catalog
    table, caches a frame or sets a SQL conf."""
    banned_attrs = {
        "createOrReplaceTempView",
        "createTempView",
        "createGlobalTempView",
        "createOrReplaceGlobalTempView",
        "registerTempTable",
        "saveAsTable",
        "cache",
    }
    hits = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            f = node.func
            conf_call = (
                f.attr in ("set", "unset")
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "conf"
            )
            if f.attr in banned_attrs or conf_call:
                hits.append(f"{path.relative_to(PACKAGE)}:{node.lineno}: .{f.attr}")
    assert not hits, hits
