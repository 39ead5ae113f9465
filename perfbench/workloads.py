"""The benchmark's workloads: each is one closed loop with one client.

A workload generates its inputs in ``setup`` and computes the references its
outputs are checked against in ``references`` (outside the set-up time);
then, if ``warmup`` is set, ``run_pass`` runs once untimed, and then
repeatedly, timed. Every call in a pass waits for the previous one. Each
pass checks every output against the references and returns the wall time
of each call.

Traced passes also make a few extra, separately spanned calls (probes) that
isolate one layer: the geocode+cell stage alone, the polygon cover alone,
the candidate pairs of a join, the scaling of the tile stage. Probes are
not part of the workload's call sequence, so they never count in ``job_s``.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import inputs
from spans import Tracer

# Input sizes: "full" is the benchmark; "smoke" is the tiny size of the
# benchmark's own test.
SIZES = {
    "full": {
        "tile_pages": 50_000, "scale_replicate": 48, "join_pages": 50_000, "tpch": "sf0.01",
        "tiles": 256, "tile_px": 64, "conform_pairs": 128, "radius_m": 50_000.0,
    },
    "smoke": {
        "tile_pages": 2_000, "scale_replicate": 4, "join_pages": 2_000, "tpch": "sf0.001",
        "tiles": 16, "tile_px": 16, "conform_pairs": 8, "radius_m": 500_000.0,
    },
}
HOT_FRAC = 1 / 3
TILE_RES, PART_RES, PIP_RES, KNN_RES, KNN_K = 9, 4, 6, 9, 5
REGISTRY = (
    "pages_per_cell cell_rollup hot_cells_topk pip_zone_counts bbox_zone_pairs"
    " radius_pairs knn_customers zonal_stats focal_stats tile_pyramid dedup_exact"
    " dedup_minhash_pairs asof_latest_event user_sessions pricing_summary customer_hull"
).split()


class CheckFailed(AssertionError):
    """An output disagreed with its reference."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


@dataclass
class PassResult:
    calls: dict[str, float]          # call name -> seconds
    named: dict[str, float]          # per-workload named metrics
    attempted: int = 0
    failed: int = 0
    layer: dict[str, float] = field(default_factory=dict)  # traced extras


def geocode_np(ids: np.ndarray, lat_m: np.ndarray, lon_m: np.ndarray, has_pair: np.ndarray):
    """(lon, lat) the engine's geocoder gives the generated pages: the text
    pair where there is one, else the seeded pseudo-coordinate."""
    from geografir_spark.geo import geocode

    fb_lon = ((ids % geocode._P_LON) * geocode._A_LON % 360_000).astype(np.float64) / 1000.0 - 180.0
    fb_lat = ((ids % geocode._P_LAT) * geocode._A_LAT % 180_000).astype(np.float64) / 1000.0 - 90.0
    lon = np.where(has_pair, lon_m / 1000.0, fb_lon)
    lat = np.where(has_pair, lat_m / 1000.0, fb_lat)
    return lon, lat


def pages_np(n: int, seed: int, hot_frac: float):
    ids, lat_m, lon_m, has_pair, _ = inputs.page_coords(n, seed, hot_frac)
    lon, lat = geocode_np(ids, lat_m, lon_m, has_pair)
    return ids, lon, lat


def fallback_np(seed_vals: np.ndarray):
    return geocode_np(seed_vals, np.zeros_like(seed_vals), np.zeros_like(seed_vals),
                      np.zeros(len(seed_vals), bool))


def tile_frame(spark, pages_dir: str, replicate: int = 1):
    """The tile stage of ``examples/tile_job.py``: geocode -> res-9 cell ->
    per-(res-4 unit, cell) count, distinct urls and chars."""
    from pyspark.sql import functions as F

    from geografir_spark.geo import cells, geocode
    from geografir_spark.sources.pages import load_pages

    p = load_pages(spark, pages_dir)
    if replicate > 1:
        p = p.crossJoin(F.broadcast(spark.range(replicate))).drop("id")
    p = geocode.with_geocode(p, "text", "page_id")
    p = cells.with_cell(p, "lon", "lat", TILE_RES)
    p = cells.with_parent(p, "cell", PART_RES, out="part_key")
    return p.groupBy("part_key", "cell").agg(
        F.count("*").alias("n_pages"),
        F.countDistinct("url").alias("n_urls"),
        F.sum("n_chars").alias("total_chars"),
    )


def tile_totals(spark, pages_dir: str, replicate: int):
    """A collected aggregate over the tile stage: the benchmark's own action
    for the scaling measurement, so its plan metrics can be read."""
    from pyspark.sql import functions as F

    df = tile_frame(spark, pages_dir, replicate).agg(
        F.sum("n_pages").alias("pages"), F.sum("n_urls").alias("urls"),
        F.sum("total_chars").alias("chars"),
    )
    return df, df.collect()[0]


def encode_stage(spark, pages_dir: str, res: int) -> None:
    """pages -> with_geocode -> with_cell, materialized alone."""
    from pyspark.sql import functions as F

    from geografir_spark.geo import cells, geocode
    from geografir_spark.sources.pages import load_pages

    p = geocode.with_geocode(load_pages(spark, pages_dir), "text", "page_id")
    cells.with_cell(p, "lon", "lat", res).agg(F.sum(F.col("cell") % 1_000_003)).collect()


class Workload:
    name = ""
    # Run one untimed pass inside set-up, so that job_s measures the warm
    # engine. Set where it steadies job_s between runs.
    warmup = False

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, size: str, trace_run: bool):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.size = SIZES[size]
        self.trace_run = trace_run
        self.pass_no = 0

    def setup(self) -> None:
        """Generate the inputs."""
        raise NotImplementedError

    def references(self) -> None:
        """Compute the references the outputs are checked against."""
        raise NotImplementedError

    def run_pass(self, traced: bool) -> PassResult:
        raise NotImplementedError

    def close(self) -> None:
        pass

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def harvest(self, acc: dict[str, float], call: str, df) -> None:
        for fam, v in self.tracer.harvest(df).items():
            acc[f"{call}.{fam}"] = acc.get(f"{call}.{fam}", 0.0) + v


class _Calls:
    """Times the calls of one pass and turns a failed check into a counted
    failure instead of an abort. A probe is checked and timed like a call
    but is not part of the workload's call sequence (``job``)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.seconds: dict[str, float] = {}
        self.job: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.spans: dict[str, dict] = {}

    def run(self, name: str, layer: str, fn, verify, probe: bool = False):
        self.attempted += 1
        with self.tracer.span(name, layer) as rec:
            out = fn()
        self.seconds[name] = Tracer.seconds(rec)
        if not probe:
            self.job[name] = self.seconds[name]
        self.spans[name] = rec
        try:
            verify(out)
        except CheckFailed as e:
            self.failed += 1
            print(f"check failed: {name}: {e}", file=sys.stderr)
        return out


# ---------------------------------------------------------------------------
# tile_lineage
# ---------------------------------------------------------------------------

class TileLineage(Workload):
    """Fresh ``run_resumable``, the same call on committed output, then
    ``verify_lineage``. Traced passes add the N-to-4N scaling of the tile
    stage, whose local[1] side runs in a child process started at setup."""

    name = "tile_lineage"

    def setup(self) -> None:
        self.n_pages = self.size["tile_pages"]
        self.pages = self.path("pages")
        inputs.write_pages(self.pages, self.n_pages, self.seed)
        # Run the tile stage once before timing. Its code generation, which
        # includes an aggregate too large to compile, otherwise lands in the
        # first timed call. A whole warm-up pass steadies this workload no
        # further (job_s spread 0.30 over five seeds, against 0.19 without)
        # and would add 30 s to every run.
        tile_totals(self.spark, self.pages, 1)
        self.replicate = self.size["scale_replicate"]
        self.scaler = ScalingChild(self.pages, self.replicate, self.work) if self.trace_run else None
        if self.scaler:
            self.scaler.wait_ready()

    def references(self) -> None:
        from geografir_spark.geo import cells

        _, lon, lat = pages_np(self.n_pages, self.seed, 0.0)
        cell = cells.encode_np(lon, lat, TILE_RES)
        self.units = len(np.unique(cell >> (cells.RES_BITS + 2 * (TILE_RES - PART_RES))))

    def run_pass(self, traced: bool) -> PassResult:
        from geografir_spark.plans import lineage

        self.pass_no += 1
        out = self.path(f"lineage-{self.pass_no}")
        c = _Calls(self.tracer)
        c.run("tile", "plans",
              lambda: lineage.run_resumable(tile_frame(self.spark, self.pages), out),
              lambda r: check(r["processed"] == self.units and r["skipped"] == 0,
                              f"fresh run {r} != {self.units} units"))
        c.run("resume", "plans",
              lambda: lineage.run_resumable(tile_frame(self.spark, self.pages), out),
              lambda r: check(r["processed"] == 0 and r["skipped"] == self.units,
                              f"resume {r} should skip all {self.units} units"))
        c.run("verify", "plans",
              lambda: lineage.verify_lineage(self.spark, out).count(),
              lambda bad: check(bad == 0, f"{bad} lineage mismatches"))
        named = {
            "tile_pages_per_s": self.n_pages / c.seconds["tile"],
            "resume_s": c.seconds["resume"],
            "verify_s": c.seconds["verify"],
        }
        layer: dict[str, float] = {}
        if traced:
            layer.update(self._scaling(c))
            files, size = 0, 0
            for root, _, names in os.walk(os.path.join(out, "data")):
                for f in names:
                    if not f.startswith((".", "_")):
                        files += 1
                        size += os.path.getsize(os.path.join(root, f))
            layer.update({
                "lineage.spark_jobs": c.spans["tile"]["spark_jobs"],
                "lineage.resume_jobs": c.spans["resume"]["spark_jobs"],
                "lineage.files_written": files,
                "lineage.bytes_written": size,
            })
            with self.tracer.span("geo.encode", "geo") as rec:
                encode_stage(self.spark, self.pages, TILE_RES)
            layer["geo.encode_s"] = Tracer.seconds(rec)
        shutil.rmtree(out, ignore_errors=True)
        return PassResult(c.job, named, c.attempted, c.failed, layer)

    def _scaling(self, c: _Calls) -> dict[str, float]:
        """The tile stage on replicated pages at local[4] here, then at
        local[1] in the child. The replication makes compute, not job
        scheduling, set both times."""
        rows = self.replicate * self.n_pages
        frames: dict = {}

        def local4():
            frames["tile"], res = tile_totals(self.spark, self.pages, self.replicate)
            return int(res.pages)

        for name, fn in (("scale_local4", local4), ("scale_local1", self.scaler.run)):
            c.run(name, "geo", fn, lambda p: check(p == rows, f"{name} counted {p} pages, not {rows}"),
                  probe=True)
        out = {"scaling_eff_1to4": c.seconds["scale_local1"] / (4.0 * c.seconds["scale_local4"])}
        self.harvest(out, "tile", frames["tile"])
        return out

    def close(self) -> None:
        if self.scaler:
            self.scaler.close()


class ScalingChild:
    """The local[1] side of the scaling measurement: a second, long-lived
    Python process with its own JVM. It runs only while the parent waits on
    it, so the two sides never run at the same time."""

    def __init__(self, pages: str, replicate: int, work: str):
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "run.py"), "--scaling-child", pages,
             "--replicate", str(replicate), "--work", os.path.join(work, "child")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self._ready = False

    def _read(self) -> str:
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"scaling child exited with {self.proc.wait()}")
        return line.strip()

    def wait_ready(self) -> None:
        if not self._ready:
            check(self._read() == "ready", "scaling child did not start")
            self._ready = True

    def run(self) -> int:
        self.wait_ready()
        self.proc.stdin.write("run\n")
        self.proc.stdin.flush()
        return int(self._read())

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()


def scaling_child_main(pages: str, replicate: int) -> None:
    """Child side: local[1] session; answers each ``run`` line with the
    page count of one tile stage on ``replicate``-fold pages."""
    from geografir_spark.session import get_spark
    from geografir_spark.shipping import ensure_shipped

    from procs import stop_spark

    spark = get_spark("perfbench-local1", cores=1, extra_conf=session_conf())
    ensure_shipped(spark)
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    tile_totals(spark, pages, 1)
    print("ready", flush=True)
    for line in sys.stdin:
        if line.strip() == "run":
            _, res = tile_totals(spark, pages, replicate)
            print(int(res.pages), flush=True)
    stop_spark(spark, jvm)


def session_conf() -> dict[str, str]:
    """Keep every file Spark writes inside the run's work directory."""
    work = os.environ["PERFBENCH_WORK"]
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work}/derby"
            f" -Dlog4j2.configurationFile=file:{work}/log4j2.properties"
        ),
    }


# ---------------------------------------------------------------------------
# spatial_registry
# ---------------------------------------------------------------------------

class SpatialRegistry(Workload):
    """The read-only side of the engine, in three parts. Vector joins on
    pages with one hot res-6 cell: PIP against the 25 zones, kNN of the 25
    nation centers, a radius join of customers against pages. Raster joins:
    zonal stats and a bilinear conform. Then the 16 registry queries on the
    same sf0.01 tables, where fixed per-query cost dominates."""

    name = "spatial_registry"
    # The first pass in a fresh JVM starts the Python workers and compiles
    # every query: job_s spread 0.15 over five seeds cold, 0.04 warm.
    warmup = True

    def setup(self) -> None:
        self.n_pages = self.size["join_pages"]
        self.sf = os.path.join(inputs.DATA, self.size["tpch"])
        self.pages = self.path("pages")
        inputs.write_pages(self.pages, self.n_pages, self.seed, HOT_FRAC)
        self.raster = RasterPart(self, self.sf)
        self.raster.setup()
        self.registry = RegistryPart(self, self.sf)

    def references(self) -> None:
        import duckdb
        import pyarrow.parquet as pq

        from geografir_spark.geo import cells
        from geografir_spark.operators.radius_join import M_PER_DEG, _hav_np, hav_tau
        from geografir_spark.queries import _ZONES_SQL

        ids, lon, lat = pages_np(self.n_pages, self.seed, HOT_FRAC)

        con = duckdb.connect()
        con.execute(f"CREATE VIEW nation AS SELECT * FROM read_parquet('{self.sf}/nation.parquet')")
        con.register("pts", pd.DataFrame({"lon": lon, "lat": lat}))
        self.pip_ref = dict(con.execute(
            f"SELECT z.zone_id, count(*) FROM pts p JOIN ({_ZONES_SQL}) z"
            " ON p.lon >= z.minx AND p.lon <= z.maxx AND p.lat >= z.miny AND p.lat <= z.maxy"
            " GROUP BY z.zone_id"
        ).fetchall())
        con.close()

        q = pq.read_table(f"{self.sf}/nation.parquet").column("n_nationkey").to_numpy().astype(np.int64)
        qx, _ = fallback_np(q * 131 + 7)
        _, qy = fallback_np(q * 181 + 11)
        self.knn_ref = {
            int(k): np.sort(((x - lon) * (x - lon)) + ((y - lat) * (y - lat)))[:KNN_K]
            for k, x, y in zip(q, qx, qy)
        }

        cust = pq.read_table(f"{self.sf}/customer.parquet").column("c_custkey").to_numpy().astype(np.int64)
        clon, clat = fallback_np(cust)
        tau = hav_tau(self.size["radius_m"])
        # Brute force over a latitude window twice the radius wide: a pair
        # further apart in latitude alone is further apart on the sphere.
        band = 2.0 * self.size["radius_m"] / M_PER_DEG
        order = np.argsort(lat, kind="stable")
        slat = lat[order]
        pairs = set()
        for i in range(len(cust)):
            lo, hi = np.searchsorted(slat, [clat[i] - band, clat[i] + band])
            j = order[lo:hi]
            hav = _hav_np(clat[i], clon[i], lat[j], lon[j])
            pairs.update((int(cust[i]), int(b)) for b in ids[j[hav <= tau]])
        self.radius_ref = pairs

        hot = cells.encode_np(lon, lat, PIP_RES)
        self.max_cell_rows = int(np.unique(hot, return_counts=True)[1].max())
        self.raster.references()
        self.registry.references()

    def _points(self, res: int):
        from geografir_spark.geo import cells, geocode
        from geografir_spark.sources.pages import load_pages

        p = geocode.with_geocode(load_pages(self.spark, self.pages), "text", "page_id")
        return cells.with_cell(p.select("page_id", "lon", "lat"), "lon", "lat", res)

    def _zones(self):
        from geografir_spark.queries import _zones_df

        return _zones_df(self.spark, self.sf).drop("minx", "miny", "maxx", "maxy")

    def run_pass(self, traced: bool) -> PassResult:
        from pyspark.sql import functions as F

        from geografir_spark.geo import geocode
        from geografir_spark.operators.knn import knn_join
        from geografir_spark.operators.pip_join import spatial_join_pip
        from geografir_spark.operators.radius_join import radius_join
        from geografir_spark.queries import _CUST_LAT, _CUST_LON, _Q_LAT, _Q_LON
        from geografir_spark.sources.pages import load_pages

        c = _Calls(self.tracer)
        frames: dict = {}

        def pip():
            j = spatial_join_pip(self._points(PIP_RES), self._zones(), res=PIP_RES)
            frames["pip_join"] = j.groupBy("zone_id").agg(F.count("*").alias("n"))
            return {int(r.zone_id): int(r.n) for r in frames["pip_join"].collect()}

        c.run("pip_join", "operators", pip,
              lambda got: check(got == self.pip_ref, "PIP per-zone counts differ from the bbox oracle"))

        def knn():
            qs = self.spark.read.parquet(f"{self.sf}/nation.parquet").selectExpr(
                "n_nationkey AS qid", f"{_Q_LON} AS qx", f"{_Q_LAT} AS qy")
            p = geocode.with_geocode(load_pages(self.spark, self.pages), "text", "page_id")
            frames["knn"] = knn_join(qs, p.selectExpr("page_id AS tid", "lon AS tx", "lat AS ty"),
                                     k=KNN_K, res=KNN_RES).select("qid", "dist")
            return frames["knn"].collect()

        def knn_ok(rows):
            want = len(self.knn_ref) * KNN_K
            check(len(rows) == want, f"kNN returned {len(rows)} rows, not {want}")
            got: dict[int, list] = {}
            for r in rows:
                got.setdefault(int(r.qid), []).append(r.dist)
            for q, ref in self.knn_ref.items():
                d = np.sort(got.get(q, []))
                check(len(d) == len(ref) and np.allclose(d, ref, rtol=1e-12, atol=0.0),
                      f"kNN distances of query {q} differ from brute force")

        c.run("knn", "operators", knn, knn_ok)

        def radius():
            a = self.spark.read.parquet(f"{self.sf}/customer.parquet").selectExpr(
                "c_custkey AS a_id", f"{_CUST_LON} AS a_lon", f"{_CUST_LAT} AS a_lat")
            p = geocode.with_geocode(load_pages(self.spark, self.pages), "text", "page_id")
            b = p.selectExpr("page_id AS b_id", "lon AS b_lon", "lat AS b_lat")
            frames["radius_join"] = radius_join(a, b, self.size["radius_m"]).select("a_id", "b_id")
            return frames["radius_join"].collect()

        c.run("radius_join", "operators", radius,
              lambda rows: check({(r.a_id, r.b_id) for r in rows} == self.radius_ref
                                 and len(rows) == len(self.radius_ref),
                                 f"radius join gave {len(rows)} pairs, brute force {len(self.radius_ref)}"))

        named = {"pip_s": c.seconds["pip_join"], "knn_s": c.seconds["knn"],
                 "radius_s": c.seconds["radius_join"], **self.raster.run(c, frames)}
        reg_named, layer = self.registry.run(c, traced)
        named.update(reg_named)
        if traced:
            for call in ("pip_join", "knn", "radius_join", "zonal", "conform"):
                self.harvest(layer, call, frames[call])
            layer.update({
                "zonal.tile_pairs": self.raster.tile_pairs,
                "conform.pairs": len(self.raster.conform_ref),
                "knn.spark_jobs": c.spans["knn"]["spark_jobs"],
                "knn.stages": c.spans["knn"]["stages"],
                "knn.tasks": c.spans["knn"]["tasks"],
                "radius_join.spark_jobs": c.spans["radius_join"]["spark_jobs"],
                "radius_join.pairs_out": len(self.radius_ref),
                "skew.max_cell_rows": self.max_cell_rows,
            })
            layer.update(self._layer_probes())
        return PassResult(c.job, named, c.attempted, c.failed, layer)

    def _layer_probes(self) -> dict[str, float]:
        from pyspark.sql import functions as F

        from geografir_spark.operators.pip_join import cover_cells
        from geografir_spark.operators.skew import salt_hot_cells

        out: dict[str, float] = {}
        with self.tracer.span("geo.encode", "geo") as rec:
            encode_stage(self.spark, self.pages, PIP_RES)
        out["geo.encode_s"] = Tracer.seconds(rec)
        with self.tracer.span("pip_join.cover", "operators") as rec:
            cover = cover_cells(self._zones(), "geom_wkt", PIP_RES)
            cover_rows = cover.count()
        out["pip_join.cover_s"] = Tracer.seconds(rec)
        out["pip_join.cover_rows"] = cover_rows
        with self.tracer.span("pip_join.candidates", "operators"):
            pts = self._points(PIP_RES)
            cand = pts.join(F.broadcast(cover.select("cell")), "cell").count()
        out["pip_join.candidate_pairs"] = cand
        out["pip_join.hit_ratio"] = sum(self.pip_ref.values()) / max(cand, 1)
        with self.tracer.span("skew.salt", "operators"):
            salted = salt_hot_cells(self._points(PIP_RES), threshold=max(self.n_pages // 100, 1),
                                    n_salts=16, hash_col="page_id")
            out["skew.max_reducer_rows"] = salted.groupBy("cell", "salt").count().agg(
                F.max("count")).collect()[0][0]
        return out


# ---------------------------------------------------------------------------
# raster and registry parts of spatial_registry
# ---------------------------------------------------------------------------

class RasterPart:
    """Zonal stats of a tile grid against the bbox cover of the 25 zones,
    then a bilinear conform of source tiles onto a shifted reference grid."""

    def __init__(self, wl: Workload, sf: str):
        self.spark, self.path, self.seed, self.size, self.sf = wl.spark, wl.path, wl.seed, wl.size, sf

    def setup(self) -> None:
        s = self.size
        self.tiles, self.refs = self.path("tiles.parquet"), self.path("refs.parquet")
        self.written = (
            inputs.write_tiles(self.tiles, s["tiles"], s["tile_px"], self.seed),
            inputs.write_tiles(self.refs, s["conform_pairs"], s["tile_px"], self.seed,
                               stream=4, shift=0.37),
        )

    def references(self) -> None:
        import duckdb

        from geografir_spark.geo import cells
        from geografir_spark.queries import _ZONES_SQL
        from geografir_spark.raster.conform import conform_np
        from geografir_spark.raster.model import mask_np

        s = self.size
        (cell, transform, px), (_, ref_transform, ref_px) = self.written
        con = duckdb.connect()
        con.execute(f"CREATE VIEW nation AS SELECT * FROM read_parquet('{self.sf}/nation.parquet')")
        zones = con.execute(_ZONES_SQL).fetchdf()
        con.close()

        h = w = s["tile_px"]
        minx, miny, maxx, maxy = cells.cell_bounds_np(cell)
        cw, ch = (maxx - minx) / w, (maxy - miny) / h
        # pixel centres as the kernel computes them (row 0 is the top)
        cx = minx[:, None] + (np.arange(w)[None, :] + 0.5) * cw[:, None]   # (tiles, w)
        cy = maxy[:, None] - (np.arange(h)[None, :] + 0.5) * ch[:, None]   # (tiles, h)
        px = px.reshape(len(cell), h, w)
        valid = px != -9999.0
        self.zonal_ref = {}
        self.tile_pairs = 0
        for z in zones.itertuples():
            sel = np.isin(cell, cells.cover_bbox_np(z.minx, z.miny, z.maxx, z.maxy,
                                                    inputs.TILE_GRID_RES))
            if not sel.any():
                continue
            self.tile_pairs += int(sel.sum())
            in_x = (cx[sel] >= z.minx) & (cx[sel] <= z.maxx)
            in_y = (cy[sel] >= z.miny) & (cy[sel] <= z.maxy)
            inside = in_y[:, :, None] & in_x[:, None, :] & valid[sel]
            v = px[sel][inside]
            self.zonal_ref[int(z.zone_id)] = (
                int(inside.sum()), float(v.sum()) if v.size else 0.0,
                float(v.min()) if v.size else None, float(v.max()) if v.size else None,
            )

        self.conform_ref = {}
        for i in range(s["conform_pairs"]):
            ref_arr = ref_px[i].reshape(1, h, w)
            out, nodata, _ = conform_np(
                px[i].reshape(1, h, w), tuple(transform[i]), "EPSG:4326", -9999.0,
                mask_np(ref_arr, -9999.0), tuple(ref_transform[i]), "EPSG:4326", h, w,
                resampling="bilinear",
            )
            ok = out != nodata
            self.conform_ref[i] = (int(ok.sum()), float(out[ok].sum()))

    def run(self, c: _Calls, frames: dict) -> dict[str, float]:
        """Run both raster calls into ``c``; their named metrics."""
        from geografir_spark.operators.bbox_join import cover_bbox_cells
        from geografir_spark.queries import _zones_df
        from geografir_spark.raster.conform import conform_tiles
        from geografir_spark.raster.zonal import zonal_stats

        def zonal():
            tiles = self.spark.read.parquet(self.tiles)
            cover = cover_bbox_cells(_zones_df(self.spark, self.sf).drop("geom_wkt"),
                                     inputs.TILE_GRID_RES)
            frames["zonal"] = zonal_stats(tiles, cover)
            return frames["zonal"].collect()

        def zonal_ok(rows):
            got = {int(r.zone_id): r for r in rows}
            check(set(got) == set(self.zonal_ref), "zonal stats cover other zones than numpy")
            for z, (n, total, lo, hi) in self.zonal_ref.items():
                r = got[z]
                check(r.n_pixels == n and math.isclose(r.sum_val, total, rel_tol=1e-9, abs_tol=1e-6)
                      and r.min_val == lo and r.max_val == hi,
                      f"zone {z}: {r} != numpy ({n}, {total}, {lo}, {hi})")

        c.run("zonal", "raster", zonal, zonal_ok)

        def conform():
            src = self.spark.read.parquet(self.tiles)
            ref = self.spark.read.parquet(self.refs)
            out = conform_tiles(src, ref, resampling="bilinear")
            frames["conform"] = out.selectExpr(
                "tile_id",
                "size(filter(pixels, x -> x != nodata)) AS n_valid",
                "aggregate(filter(pixels, x -> x != nodata), 0D, (a, x) -> a + x) AS total",
            )
            return frames["conform"].collect()

        def conform_ok(rows):
            check(len(rows) == len(self.conform_ref), f"conform gave {len(rows)} tiles")
            for r in rows:
                n, total = self.conform_ref[int(r.tile_id)]
                check(r.n_valid == n and math.isclose(r.total, total, rel_tol=1e-9, abs_tol=1e-6),
                      f"conformed tile {r.tile_id} differs from conform_np")

        c.run("conform", "raster", conform, conform_ok)
        return {"zonal_s": c.seconds["zonal"], "conform_s": c.seconds["conform"]}


def _normalize(df):
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[col]):
            df[col] = df[col].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[col]):
            df[col] = df[col].astype("float64")
        elif pd.api.types.is_integer_dtype(df[col]):
            df[col] = df[col].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_match(got, exp) -> str | None:
    """None when the two result frames hold the same rows, else why not.
    Floats compare to 1e-9 relative, because the summation order differs."""
    got, exp = _normalize(got), _normalize(exp)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows != {len(exp)}"
    for col in got.columns:
        a, b = got[col].to_numpy(), exp[col].to_numpy()
        if pd.api.types.is_float_dtype(exp[col]):
            same = np.isclose(a.astype(float), b.astype(float), rtol=1e-9, atol=1e-9, equal_nan=True)
        else:
            same = (a == b) | (pd.isna(a) & pd.isna(b))
        if not np.all(same):
            return f"column {col} differs"
    return None


class RegistryPart:
    """The 16 registry queries, each built and collected in turn."""

    def __init__(self, wl: Workload, sf: str):
        self.spark, self.tracer, self.harvest, self.size, self.sf = (
            wl.spark, wl.tracer, wl.harvest, wl.size, sf)

    def references(self) -> None:
        import duckdb

        from geografir_spark.queries import QUERIES, resolve_oracle

        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem events documents"
                  " embeddings").split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')")
        self.ref = {q: con.execute(resolve_oracle(QUERIES[q])).fetchdf() for q in REGISTRY}
        con.close()

    def run(self, c: _Calls, traced: bool) -> tuple[dict[str, float], dict[str, float]]:
        """Run the queries into ``c``; (named metrics, traced layer metrics)."""
        from geografir_spark.queries import QUERIES

        layer: dict[str, float] = {}
        plan_s = exec_s = 0.0
        jobs = 0
        for q in REGISTRY:
            built: dict = {}

            def build_and_collect(q=q, built=built):
                with self.tracer.span(f"{q}.plan", "queries") as plan:
                    built["df"] = QUERIES[q].fn(self.spark, self.sf)
                with self.tracer.span(f"{q}.exec", "queries") as run:
                    out = built["df"].toPandas()
                built["spans"] = (plan, run)
                return out

            c.run(q, "queries", build_and_collect,
                  lambda got, q=q: check(frames_match(got, self.ref[q]) is None,
                                         f"{q}: {frames_match(got, self.ref[q])}"))
            plan, run = built["spans"]
            plan_s += Tracer.seconds(plan)
            exec_s += Tracer.seconds(run)
            if traced:
                self.harvest(layer, "queries", built["df"])
                jobs += sum(s["spark_jobs"] for s in (c.spans[q], plan, run))
        secs = [c.seconds[q] for q in REGISTRY]
        named = {"registry_s": sum(secs), "query_p50_s": statistics.median(secs)}
        if traced:
            layer.update({"queries.plan_s": plan_s, "queries.exec_s": exec_s,
                          "queries.spark_jobs": jobs / len(REGISTRY)})
        return named, layer


WORKLOADS = {w.name: w for w in (TileLineage, SpatialRegistry)}
