"""Session defaults that follow the host."""

from __future__ import annotations

import os


def test_default_parallelism_follows_env_then_cores(monkeypatch):
    from geografir_spark.session import default_parallelism

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_parallelism() == os.cpu_count()
    monkeypatch.setattr(os, "cpu_count", lambda: 6)
    assert default_parallelism() == 6
