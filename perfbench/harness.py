"""Shared pieces of the benchmark: the box attestation, session start,
memory and JVM counters, timing statistics and the per-run record.

Every workload module exposes ``run(ctx) -> Run``; ``run.py`` builds the
context, calls it, and turns the returned ``Run`` into the result line.
"""

from __future__ import annotations

import os
import statistics
from dataclasses import dataclass, field


def role_ms(ops, role: str) -> float:
    """The mean, over the role's operation types, of each type's median
    latency: types of different cost are never pooled into one median."""
    kinds = sorted({o.name for o in ops if o.role == role})
    return statistics.fmean(statistics.median([o.ms for o in ops if o.role == role and o.name == k]) for k in kinds)


def traced_turn(i: int) -> bool:
    """Whether the ``i``-th operation of one kind is traced in a traced run:
    traced, untraced, untraced, traced, repeated, so a drift over the run
    (warming code, growing state) loads on neither side."""
    return i % 4 in (0, 3)


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


class Jvm:
    """Spark JVM counters read through py4j: process id, GC time and
    whole-stage-codegen compile totals."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(max(0, b.getCollectionTime()) for b in beans))

    def codegen(self) -> tuple[float, int]:
        """(compile ms, compile count) since JVM start."""
        ms = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e6
        hist = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return float(ms), int(hist.getCount())


@dataclass
class Op:
    """One timed operation of the closed loop."""

    role: str  # "light" or "heavy": the two cost classes of a workload
    name: str
    ms: float
    ok: bool
    traced: bool = False
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Run:
    """What a workload hands back to the runner."""

    setup_s: float
    ops: list[Op]
    attempted: int  # checked operations: commands, queries, or batches and final checks
    failed: int  # of those, failed or answered wrongly
    detail: dict = field(default_factory=dict)  # workload-specific part of the trace report


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    workdir: str
    tracer: object | None  # perfbench.trace.Tracer on a traced run
    session_start_s: float
    log: object


def box(spark) -> dict:
    """Attestation of the machine and the session the numbers came from."""
    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": ram_mb(),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "driver_heap": spark.conf.get("spark.driver.memory"),
        "loadavg_1m": os.getloadavg()[0],
    }
