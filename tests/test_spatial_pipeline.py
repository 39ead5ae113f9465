"""``examples/spatial_pipeline.py`` end to end as a subprocess on the
sf0.001 pages: pruning, PIP join, crash-resume lineage, and a snapshot
that still reads after OPTIMIZE until ``expire``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import SF_DIR

EXAMPLE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples", "spatial_pipeline.py"
)


def test_spatial_pipeline_example():
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    r = subprocess.run(
        [sys.executable, EXAMPLE, SF_DIR], capture_output=True, text=True, timeout=300, env=env
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = [line for line in r.stdout.splitlines() if line.startswith("{")]
    assert lines, r.stdout[-2000:]
    out = json.loads(lines[-1])
    assert out["pages"] > 0 and 1 <= out["files_selected"] <= out["files_total"]
    assert out["resume_processed"] > 0 and out["resume_skipped"] == 2
    assert out["output_rows"] == out["pages"]
    assert out["files_before"] == out["files_total"] and out["files_after"] == 1
    assert out["snapshot_rows"] == out["rows_after_expire"] == out["pages"]
    assert out["expired"] == 1
