"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 12 --trace 0

Run from the root of a checkout of this repository.  One process holds
the Spark session (``local[nproc]``), and for ``dashboard`` the wire server
and its one client too.  ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` wraps the engine's entry points from this directory, prints
the per-layer metrics and writes the spans to ``.perfbench-work/``.  The
last line of standard output is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

See ``perfbench/README.md`` for what each workload and metric measures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("dashboard", "analytics", "stream")
HEAP_MB = 2048  # driver heap: fixed so runs on any box compare, capped by RAM below


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(workdir: Path, heap_mb: int) -> None:
    """Pin the engine's session to this box through its own environment
    knobs (``session.py`` reads them); nothing outside this process sees
    it.  Temporary files and Spark's local directories go under the checkout."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={tmp}",
        f"--conf spark.sql.warehouse.dir={workdir / 'spark-warehouse'}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell",
    ])


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "simple_tsdb_spark" / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        log(f"no engine sources under {ROOT}: run from a checkout of the repository")
        return 2
    sys.path.insert(0, str(ROOT))

    base = ROOT / ".perfbench-work"
    workdir = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    from perfbench.harness import ram_mb

    pin_environment(workdir, min(HEAP_MB, ram_mb() // 4))
    try:
        return measure(args, workdir, base)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def stop(spark) -> None:
    """Stop Spark and wait for its JVM to end; the gateway JVM exits when
    the pipe to its standard input closes."""
    import subprocess

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure(args, workdir: Path, base: Path) -> int:
    import importlib

    from perfbench import harness
    from perfbench.harness import Ctx, Jvm, role_ms, vm_hwm_mb

    t0 = time.perf_counter()
    import simple_tsdb_spark

    if Path(simple_tsdb_spark.__file__).resolve().parents[1] != ROOT:
        log(f"engine imported from {simple_tsdb_spark.__file__}, not from {ROOT}")
        return 2
    spark = simple_tsdb_spark.get_spark(f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    log(f"session start {session_start_s:.2f} s")
    try:
        jvm = Jvm(spark)
        box = harness.box(spark)
        log(f"box {json.dumps(box)}")
        workload = importlib.import_module(f"perfbench.{args.workload}")
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
            tracer.instrument_dataframe(spark)
            workload.instrument(tracer)
        ctx = Ctx(spark, args.seed, args.seconds, str(workdir), tracer, session_start_s, log)
        result = workload.run(ctx)

        ops = result.ops
        attempted, failed = result.attempted, result.failed
        log(f"{args.workload}: {sum(o.role == 'light' for o in ops)} light, "
            f"{sum(o.role == 'heavy' for o in ops)} heavy ops, {failed} failed")
        if args.trace:
            from perfbench.trace import finish

            metrics = finish(spark, jvm, tracer, result, session_start_s)
            metrics["mem.python_peak_mb"] = (vm_hwm_mb(os.getpid()), "MB")
            metrics["mem.jvm_peak_mb"] = (vm_hwm_mb(jvm.pid), "MB")
            report = base / f"trace-{args.workload}-seed{args.seed}.json"
            report.write_text(json.dumps({"box": box, "metrics": metrics, "detail": result.detail,
                                          "spans": tracer.spans}, default=str))
            log(f"trace written to {report}")
            values = metrics
        else:
            values = {
                "setup_s": (result.setup_s, "s"),
                "light_ms": (role_ms(ops, "light"), "ms"),
                "heavy_ms": (role_ms(ops, "heavy"), "ms"),
            }
    finally:
        stop(spark)
    print(json.dumps({"box": box}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
