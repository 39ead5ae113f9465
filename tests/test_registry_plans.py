"""Plan shape of the registry queries that run their oracle's own tail.

A query whose SQL reads an expensive relation more than once computes that
head once, localCheckpoints it and binds the oracle's tail to it with
``spark.sql(tail, cc=frame)``: after the head, the returned frame's plan
reads only the checkpoint, never a table file again. ``dedup_minhash_pairs``
needs no barrier: it runs ``minhash_pairs_sql``'s Spark dialect, which
expands in-bucket pairs with array lambdas instead of a self-join."""

from __future__ import annotations

import pytest

from conftest import SF_DIR


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    [
        "pagerank_cells",
        "winnow_pairs",
        "hybrid_retrieval_rrf",
        "getis_ord_hotspots",
        "morans_i_pages",
    ],
)
def test_tail_reads_only_the_checkpoint(spark, name):
    from geografir_spark.queries import QUERIES

    plan = _executed_plan(QUERIES[name].fn(spark, SF_DIR))
    assert "FileScan" not in plan, plan
    assert "ExistingRDD" in plan, plan


def test_minhash_pairs_plan_has_no_join(spark):
    from geografir_spark.queries import QUERIES

    plan = _executed_plan(QUERIES["dedup_minhash_pairs"].fn(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert "Generate" in plan, plan
