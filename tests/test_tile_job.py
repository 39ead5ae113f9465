"""The flagship example end to end: ``examples/tile_job.py`` run twice as a
subprocess on the sf0.001 pages. The first run commits every unit with a
clean lineage; the second, a resume, skips them all."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import SF_DIR

EXAMPLE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples", "tile_job.py"
)


def _run_tile_job(out_dir: str) -> dict:
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    r = subprocess.run(
        [sys.executable, EXAMPLE, "--input", SF_DIR, "--output", out_dir,
         "--cores", "2", "--part-res", "2"],
        capture_output=True, text=True, timeout=300, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    lines = [line for line in r.stdout.splitlines() if line.startswith("{")]
    assert lines, r.stdout[-2000:]
    return json.loads(lines[-1])


def test_tile_job_writes_then_resumes(tmp_path):
    out_dir = str(tmp_path / "tiles")
    first = _run_tile_job(out_dir)
    assert first["processed"] > 0 and first["skipped"] == 0
    assert first["lineage_mismatches"] == 0
    second = _run_tile_job(out_dir)
    assert second["processed"] == 0 and second["skipped"] == first["processed"]
    assert second["lineage_mismatches"] == 0
