"""Benchmark entry point; run it from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0

It sets up (Spark session, inputs, ground truth for the output
checks), runs the workload's untimed warm-up pass if it has one, then closed-loop
passes for ``--seconds`` seconds and at least the workload's
``min_passes``, checks their outputs, and prints, as its
last line, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` one traced pass in place of the
timed ones gives the per-layer metrics, and the spans are written to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.

Everything the run writes stays under ``.perfbench_work/`` in the
repository: inputs, sink output, Spark's local and temp directories.
Spark runs on ``local[N]`` with N the number of CPUs this process may
use.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_HEAP = "4g"
SETUP_REPEATS = 3


def place(work: str, cores: int) -> None:
    """Point every directory Spark, the JVM and Python write to under
    ``work``; must run before the Spark session starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # applies to every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None


def settle() -> None:
    """Flush dirty pages before a timed pass, so that the write-back of
    earlier files (and, on a filesystem mounted with ``discard``, the
    discards of deleted ones) does not land inside it."""
    os.sync()


def start_spark(work: str, cores: int):
    from wiki_data_pipeline_spark.session import get_spark

    # A fixed driver heap (initial = max) keeps the JVM from resizing
    # its heap differently from run to run, which moved peak RSS by a
    # quarter and more between runs, and bounds the footprint on a
    # shared machine.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers) to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - never leave the JVM behind
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "wiki_data_pipeline_spark")):
        print("perfbench: wiki_data_pipeline_spark/ is missing from this checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    import procstat
    from spans import Tracer
    from workloads import WORKLOADS, Ops

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    cache = os.path.join(WORK_ROOT, "cache")
    os.makedirs(cache, exist_ok=True)
    place(work, cores)
    ops = Ops()
    t0 = time.perf_counter()
    spark = start_spark(work, cores)
    try:
        wl = WORKLOADS[args.workload](spark, work, cache, args.seed, cores)
        wl.prepare()
        start_s = time.perf_counter() - t0
        # the workload's own set-up runs SETUP_REPEATS times (each
        # repeat redoes it from scratch); the session starts once
        repeats = []
        for _ in range(SETUP_REPEATS):
            t1 = time.perf_counter()
            wl.setup(ops)
            repeats.append(time.perf_counter() - t1)
        setup_s = start_s + statistics.median(repeats)
        print(f"setup: session and preparation {start_s:.3f} s, workload " + ", ".join(f"{r:.3f}" for r in repeats) + " s", file=sys.stderr)
        # a warm-up pass is checked but not timed
        settle()
        warm = wl.warm_up(ops)
        if warm is not None:
            print("warm-up: " + json.dumps(warm), file=sys.stderr)
        if args.trace:
            # one traced pass: the per-layer metrics break down a pass
            # run as the untraced ones are, plus the tracing overhead
            tracer = Tracer(spark.sparkContext)
            settle()
            measured = wl.traced_pass(ops, tracer)
            measured["trace.overhead_s"] = tracer.overhead_s
            tracer.dump(os.path.join(WORK_ROOT, f"spans-{args.workload}-{args.seed}.jsonl"))
            wanted = spec["per_layer"]
        else:
            # the timed regions add up to --seconds, and to at least the
            # workload's min_passes passes; the output checks and clean-up
            # between passes are not counted
            passes = []
            while len(passes) < wl.min_passes or sum(p["pass_s"] for p in passes) < args.seconds:
                settle()
                passes.append(wl.run_pass(ops))
                print(f"pass {len(passes)}: " + json.dumps(passes[-1]), file=sys.stderr)
            jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            rss = procstat.vm_hwm_mb(jvm), procstat.vm_hwm_mb(os.getpid())
            print(f"peak RSS: driver JVM {rss[0]:.0f} MiB, driver Python {rss[1]:.0f} MiB", file=sys.stderr)
            measured = {
                "pass_s": statistics.median(p["pass_s"] for p in passes),
                "setup_s": setup_s,
                "peak_rss_mb": sum(rss),
                "ok_rate": (ops.attempted - ops.failed) / ops.attempted,
            }
            wanted = spec["end_to_end"]
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    names = {m["name"] for m in wanted}
    unknown = set(measured) - names
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if not args.trace and names - set(measured):
        raise RuntimeError(f"end-to-end metrics not measured: {sorted(names - set(measured))}")
    # a per-layer metric this workload does not measure is a layer it
    # does not exercise: it reads 0
    metrics = {m["name"]: {"value": measured.get(m["name"], 0), "unit": m["unit"]} for m in wanted}
    print(
        json.dumps(
            {
                "correct": ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
