#!/usr/bin/env python3
"""geografir_spark benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload spatial_registry --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts a ``local[<nproc>]`` Spark
session, generates its pages and tiles from ``--seed`` under ``.perfbench/``
in the root (the registry tables are the fixed ones under
``perfbench/data/``), computes the references it checks against, and, on a
workload that sets ``warmup``, runs the call sequence once untimed.
``setup_s`` is the time from process start to the end of that set-up, less
the references. The run then repeats the call sequence until ``--seconds``
have passed (at least once), checking every output, in the warm-up pass
too.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones in BENCHMARK.json; with ``--trace 1`` every timed pass is
traced and the metrics are the per-layer ones. If no pass completed, the
line reads ``correct: false`` with every metric 0, and the exit code is 1. The line before it names the
workload's own call metrics and ``failed_frac``. A traced run also writes
its spans to ``.perfbench/trace-<workload>-<seed>.json``.

A timed pass of this size runs longer than ``--seconds``, so one timed pass
is usual; metrics are medians over the timed passes made.

``--smoke`` shrinks every input to the size of the benchmark's own test.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LOG4J = """\
rootLogger.level = warn
rootLogger.appenderRef.console.ref = console
rootLogger.appenderRef.file.ref = file
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.filter.threshold.type = ThresholdFilter
appender.console.filter.threshold.level = error
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{{HH:mm:ss}} %p %c{{1}}: %m%n
appender.file.type = File
appender.file.name = file
appender.file.fileName = {log}
appender.file.layout.type = PatternLayout
appender.file.layout.pattern = %d{{HH:mm:ss}} %p %c{{1}}: %m%n
logger.codegen.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
logger.codegen.level = warn
logger.codegen.additivity = false
logger.codegen.appenderRef.file.ref = file
"""
CODEGEN_FALLBACK = "Whole-stage codegen disabled"


def prepare_work(work: str) -> None:
    """Point every temporary file of Python, Spark and the JVM into ``work``."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "log4j2.properties"), "w") as f:
        f.write(LOG4J.format(log=os.path.join(work, "spark.log")))
    os.environ["PERFBENCH_WORK"] = work
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher's too: no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tempfile.tempdir = None


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def log_size(path: str) -> int:
    return os.path.getsize(path) if os.path.exists(path) else 0


def count_after(path: str, needle: str, start: int) -> int:
    """Occurrences of ``needle`` in ``path`` after byte ``start``."""
    if not os.path.exists(path):
        return 0
    with open(path, "rb") as f:
        f.seek(start)
        return f.read().count(needle.encode())


def run(args, work: str, spec: dict) -> tuple[dict, dict]:
    """One run; (result line, info line). ``spec`` is BENCHMARK.json, whose
    metric lists the result must match exactly. When no pass completed the
    result is ``correct: false`` with every metric 0."""
    from procs import RssSampler, stop_spark
    from spans import Tracer
    from workloads import WORKLOADS, session_conf

    from geografir_spark.session import get_spark
    from geografir_spark.shipping import ensure_shipped

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cores=os.cpu_count(), extra_conf=session_conf())
    setup_layer = {"session.start_s": time.perf_counter() - t}
    jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    sampler = RssSampler(jvm) if args.trace else None
    if sampler:
        sampler.start()
    t = time.perf_counter()
    ensure_shipped(spark)
    setup_layer["shipping.ensure_s"] = time.perf_counter() - t
    t = time.perf_counter()
    import geografir_spark.queries  # noqa: F401
    setup_layer["queries.import_s"] = time.perf_counter() - t

    tracer = Tracer(spark, enabled=False)
    wl = WORKLOADS[args.workload](spark, tracer, os.path.join(work, "wl"), args.seed,
                                  "smoke" if args.smoke else "full", bool(args.trace))
    passes = []
    attempted = failed = 0
    log = os.path.join(work, "spark.log")
    fallbacks: list[int] = []
    peak_mb = 0.0

    def checked_pass(traced: bool):
        """One pass with its checks counted; None if it raised."""
        nonlocal attempted, failed
        try:
            with tracer.span("pass", "bench"):
                r = wl.run_pass(traced)
        except Exception:
            traceback.print_exc()
            attempted += 1
            failed += 1
            return None
        attempted += r.attempted
        failed += r.failed
        return r

    try:
        wl.setup()
        t = time.perf_counter()
        wl.references()
        references_s = time.perf_counter() - t
        # The warm-up pass is checked like any other, but untimed: the cold
        # JVM's class loading, JIT, code generation and Python-worker start
        # land in setup_s.
        warm_ok = not wl.warmup or checked_pass(False) is not None
        setup_s = time.perf_counter() - T0 - references_s
        tracer.spans.clear()
        tracer.overhead_s = 0.0
        tracer.enabled = bool(args.trace)
        deadline = time.perf_counter() + args.seconds
        while warm_ok and (not passes or time.perf_counter() < deadline):
            log_pos = log_size(log)
            r = checked_pass(bool(args.trace))
            if r is None:
                break
            passes.append(r)
            fallbacks.append(count_after(log, CODEGEN_FALLBACK, log_pos))
    finally:
        wl.close()
        if sampler:
            peak_mb = sampler.stop()
        stop_spark(spark, jvm)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    if not passes:
        return ({"correct": False, "attempted": attempted, "failed": failed,
                 "metrics": {k: {"value": 0.0, "unit": units[k]} for k in names}},
                {"workload": args.workload, "passes": 0,
                 "failed_frac": {"value": failed / attempted, "unit": "ratio"}})
    named = {k: statistics.median([r.named[k] for r in passes]) for k in passes[0].named}
    info = {
        "workload": args.workload,
        "passes": len(passes),
        "calls_s": {k: statistics.median([r.calls[k] for r in passes]) for k in passes[0].calls},
        "pass_job_s": [sum(r.calls.values()) for r in passes],
        "references_s": references_s,
        "failed_frac": {"value": failed / max(attempted, 1), "unit": "ratio"},
        **{k: {"value": v, "unit": units[k]} for k, v in named.items()},
    }
    job_s = statistics.median([sum(r.calls.values()) for r in passes])
    if args.trace:
        values = per_layer(passes, named, setup_layer, fallbacks, peak_mb, job_s, tracer)
        with open(os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "self_s": Tracer.self_seconds(tracer.spans)}, f, indent=1)
        values = {**dict.fromkeys(names, 0.0), **values}
    else:
        values = {"setup_s": setup_s, "job_s": job_s}
    if set(values) != set(names):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(names))}")
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in names}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, info


def per_layer(passes, named, setup_layer, fallbacks, peak_mb, job_s, tracer) -> dict[str, float]:
    """The per-layer metrics of a traced run; a layer the workload does not
    call keeps no entry here and reads 0."""
    from spans import Tracer

    layer = {**setup_layer, **named}
    for k in passes[0].layer:
        layer[k] = statistics.median([r.layer[k] for r in passes])
    layer["spark.codegen_fallbacks"] = statistics.median(fallbacks)
    self_s = Tracer.self_seconds(tracer.spans)
    for lay, v in self_s.items():
        layer[f"{lay}.self_s"] = v / len(passes)
    layer["peak_rss_mb"] = peak_mb
    layer["trace.job_s"] = job_s
    layer["trace.overhead_s"] = tracer.overhead_s / len(passes)
    return layer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--work", help=argparse.SUPPRESS)
    ap.add_argument("--scaling-child", metavar="PAGES", help=argparse.SUPPRESS)
    ap.add_argument("--replicate", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "geografir_spark")):
        print(f"no geografir_spark package under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = args.work or os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{args.seed}-{os.getpid()}")
    prepare_work(work)

    if args.scaling_child:
        from workloads import scaling_child_main

        scaling_child_main(args.scaling_child, args.replicate)
        return 0

    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"--workload must be one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        result, info = run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0 if info["passes"] else 1


if __name__ == "__main__":
    sys.exit(main())
