#!/usr/bin/env python
"""End-to-end tiling job: pages parquet → geocode → cell index → per-cell
stats, written resumably with per-partition lineage.

Run locally:
    python examples/tile_job.py --input /root/testdata/sf0.01 \
        --output /tmp/tile_out --res 9

Run on a cluster (the engine ships itself when launched as a library, or
pass the zip explicitly):
    spark-submit --py-files geografir_spark.zip examples/tile_job.py \
        --input s3a://bucket/pages --output s3a://bucket/tiles --res 9

Re-running after a failure resumes: completed spatial units are skipped via
the lineage anti-join (plans/lineage.py). Each run lands its pending units
as one new batch of files, and a unit's rows become visible only when its
lineage row names that batch, so rows a crashed run left behind are never
read.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

try:  # running from a checkout without installation
    import geografir_spark  # noqa: F401
except ModuleNotFoundError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="directory with documents.parquet (pages source)")
    ap.add_argument("--output", required=True, help="output dir (data/ + lineage/)")
    ap.add_argument("--res", type=int, default=9, help="cell resolution")
    # resume units are coarse cells: pick so that one unit ≈ one executor-
    # hour of work; planetary crawls use 4-6 (256-4096 spatially-aligned
    # units). The unit count sets the lineage rows, not the file count: all
    # pending units land in one batch of one file per writer
    # (plans/lineage.py).
    ap.add_argument("--part-res", type=int, default=4, help="resume-unit (coarse cell) resolution")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] cores (default: SPARK_GRAFT_CPUS, else all cores)")
    args = ap.parse_args()

    from geografir_spark.geo import cells, geocode
    from geografir_spark.plans import lineage
    from geografir_spark.session import get_spark
    from geografir_spark.shipping import ensure_shipped
    from geografir_spark.sources.pages import load_pages

    spark = get_spark("tile-job", cores=args.cores)
    ensure_shipped(spark)

    from pyspark.sql import functions as F

    p = load_pages(spark, args.input)
    p = geocode.with_geocode(p, "text", "page_id")
    p = cells.with_cell(p, "lon", "lat", args.res)
    p = cells.with_parent(p, "cell", args.part_res, out="part_key")
    tiles = p.groupBy("part_key", "cell").agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("url").alias("n_urls"),
        F.sum("n_chars").alias("total_chars"),
    )

    result = lineage.run_resumable(tiles, args.output)
    bad = lineage.verify_lineage(spark, args.output).count()
    print(json.dumps({**result, "lineage_mismatches": bad}))
    spark.stop()


if __name__ == "__main__":
    main()
