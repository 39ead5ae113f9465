"""Shared fixtures: one small local SparkSession per test session."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from geografir_spark.session import get_spark

    s = get_spark("geografir-tests", cores=4)
    yield s
    s.stop()
