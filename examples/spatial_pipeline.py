#!/usr/bin/env python
"""End-to-end spatial ingest pipeline — the engine's operators composed the
way a production Common-Crawl tiling job runs them:

 1. ingest    pages → geocode → Morton cell (pure codegen SQL, no Python)
 2. layout    commit cell-range-clustered parquet as one batch with a
              pointer row per file carrying its cell span (plans/layout.py
              — the file-pruning index)
 3. prune     bbox query → cell ranges → the pointer rows prune the file
              list before any footer is opened
 4. join      PIP spatial join of the pruned points against polygon zones
              (cover cells + full-cell skip + exact even-odd refine)
 5. lineage   checkpointed write with per-partition lineage rows; a
              simulated crash resumes via anti-join without recomputing
              committed partitions
 6. snapshot  a snapshot (a commit time) of the spatial table; OPTIMIZE
              compaction commits a new batch, the pre-optimize snapshot
              still reads the same rows, then ``expire`` deletes the
              superseded batch

Run: python examples/spatial_pipeline.py [sf_dir]   (default sf0.001)
The last stdout line is a JSON summary of the steps.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    import pyspark.sql.functions as F

    from geografir_spark.geo import cells, geocode
    from geografir_spark.operators.pip_join import spatial_join_pip
    from geografir_spark.plans import layout, lineage
    from geografir_spark.queries import _zones_df
    from geografir_spark.session import get_spark
    from geografir_spark.shipping import ensure_shipped

    spark = get_spark("spatial-pipeline")
    ensure_shipped(spark)
    work = Path(tempfile.mkdtemp(prefix="spatial_pipeline_"))
    try:
        res = 8

        # 1. ingest: pages → lon/lat → cell
        pages = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
            "doc_id AS page_id",
            "concat('https://site', CAST(doc_id % 50 AS STRING), '.example/d/',"
            " CAST(doc_id AS STRING)) AS url",
            "text",
        )
        pts = cells.with_cell(
            geocode.with_geocode(pages, "text", "page_id"), "lon", "lat", res
        )
        n_pages = pts.count()

        # 2. layout: range-clustered files + per-file pointer rows
        table = str(work / "points")
        layout.write_spatial(pts, table, cell_col="cell", n_ranges=8)
        sel, total = layout.pruned_file_count(
            spark, table, _bbox_ranges(cells, res, -60.0, -30.0, 60.0, 30.0)
        )
        print(f"ingested {n_pages} pages; pointer rows prune {total - sel}/{total} files")

        # 3+4. pruned scan → PIP join against zones
        ranges = _bbox_ranges(cells, res, -60.0, -30.0, 60.0, 30.0)
        pruned = layout.read_spatial(spark, table, ranges, cell_col="cell")
        zones = _zones_df(spark, sf_dir).drop("minx", "miny", "maxx", "maxy")
        joined = spatial_join_pip(pruned, zones, res=res)
        per_zone = joined.groupBy("zone_id").agg(F.count("*").alias("n"))
        print("PIP rows by zone (pruned scan):",
              sorted((r["zone_id"], r["n"]) for r in per_zone.collect())[:5], "...")

        # 5. lineage: checkpointed write, crash, resume (spatial units are
        # coarse res-3 parent cells — the per-partition commit granularity)
        out = str(work / "tiled_out")
        plan = pts.selectExpr(
            f"{cells.parent_sql('cell', 3)} AS part_key", "page_id", "url"
        )
        try:
            lineage.run_resumable(plan, out, fail_after_parts=2)
        except RuntimeError as e:
            print("simulated crash:", e)
        r = lineage.run_resumable(plan, out)  # resume: anti-join, no recompute
        print(f"resume processed {r['processed']} pending units, "
              f"skipped {r['skipped']} committed; "
              f"lineage rows: {lineage.read_lineage(spark, out).count()}")

        # 6. snapshot, optimize, read the snapshot, expire
        snap = layout.snapshot_spatial(spark, table)
        before, after = layout.optimize_spatial(
            spark, table, cell_col="cell", target_rows_per_file=n_pages
        )
        snap_rows = layout.read_spatial(spark, table, as_of=snap).count()
        expired = lineage.expire(spark, table, time.time())
        print(f"OPTIMIZE {before}→{after} files; the pre-optimize snapshot still reads"
              f" {snap_rows} rows; expire deleted {len(expired)} superseded batch(es)")
        print(json.dumps({
            "pages": n_pages, "files_total": total, "files_selected": sel,
            "resume_processed": r["processed"], "resume_skipped": r["skipped"],
            "output_rows": lineage.read_output(spark, out).count(),
            "files_before": before, "files_after": after, "snapshot_rows": snap_rows,
            "expired": len(expired), "rows_after_expire": layout.read_spatial(spark, table).count(),
        }))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def _bbox_ranges(cells, res: int, minx: float, miny: float, maxx: float, maxy: float):
    import numpy as np

    cov = cells.cover_bbox_np(minx, miny, maxx, maxy, res)
    cov = np.sort(cov)
    # collapse the cover into contiguous cell-id ranges for file pruning
    ranges = []
    lo = prev = int(cov[0])
    for c in cov[1:]:
        c = int(c)
        if c != prev + (1 << cells.RES_BITS):
            ranges.append((lo, prev))
            lo = c
        prev = c
    ranges.append((lo, prev))
    return ranges


if __name__ == "__main__":
    main(*sys.argv[1:])
