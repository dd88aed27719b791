"""In-memory span tracer for the traced run (``--trace 1``).

The benchmark never edits the engine: it wraps the public entry points it
calls (and the one private Arrow collect that both ``toArrow`` and
``toPandas`` funnel through) from this file, records a span per call with
(layer, name, start, end, parent, request id), and keeps every span in
memory until the run ends.  Spans of one benchmark operation share the
request id of the operation's root span; the wire server runs its handler
on another thread, so a span opened on a thread with no open span of its
own is parented to the root of the operation in flight (the loop is
serial, so that is unambiguous).

Jobs are attributed by the DAG scheduler's job-id counter read at span
open and close, which is exact for the serial loops of ``dashboard`` and
``analytics``; stage and task figures are resolved from the status store
once the run is over.
"""

from __future__ import annotations

import functools
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spans: list[dict] = []
        self.active = False
        self.root: int | None = None
        self.counts: dict[int, dict[str, float]] = {}
        self._tls = threading.local()
        self._scheduler = spark.sparkContext._jsc.sc().dagScheduler()

    def next_job_id(self) -> int:
        """The id the DAG scheduler gives the next job it submits."""
        return int(self._scheduler.nextJobId())

    # -- spans ------------------------------------------------------------
    def _open(self, layer: str, name: str, parent: int | None) -> int:
        self.spans.append({
            "layer": layer, "name": name, "start": time.perf_counter(), "end": None,
            "parent": parent, "rid": len(self.spans) if parent is None else self.spans[parent]["rid"],
            "job_lo": self.next_job_id(), "job_hi": None,
        })
        return len(self.spans) - 1

    def _close(self, idx: int) -> None:
        span = self.spans[idx]
        span["end"] = time.perf_counter()
        span["job_hi"] = self.next_job_id()

    @contextmanager
    def op(self, name: str, traced: bool):
        """Root span of one benchmark operation; ``traced=False`` runs the
        operation with every wrapper passing straight through."""
        if not traced:
            yield None
            return
        idx = self._open("op", name, None)
        self.root, self.active = idx, True
        self.counts[idx] = {}
        try:
            yield idx
        finally:
            self.active, self.root = False, None
            self._close(idx)

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.active:
            yield
            return
        stack = self._tls.__dict__.setdefault("stack", [])
        idx = self._open(layer, name, stack[-1] if stack else self.root)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self._close(idx)

    def count(self, key: str, n: float) -> None:
        if self.active and self.root is not None:
            c = self.counts[self.root]
            c[key] = c.get(key, 0) + n

    # -- wrapping -----------------------------------------------------------
    def wrap(self, owner, attr: str, layer: str, *, plan: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.  ``plan``
        forces the DataFrame's physical plan (Catalyst) in its own span
        first, so the original call times execution only."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(layer, f"{getattr(owner, '__name__', owner)}.{attr}"):
                if plan:
                    tracer.plan(args[0])
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)

    def wrap_iterator(self, owner, attr: str) -> None:
        """``toLocalIterator``: jobs run while the caller iterates, between
        which the caller does its own work, so only the time spent inside
        ``next()`` is recorded (as one ``spark`` span at exhaustion)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(df, *args, **kwargs):
            if not tracer.active:
                return orig(df, *args, **kwargs)
            with tracer.span("spark", f"{attr}.start"):
                tracer.plan(df)
                it = orig(df, *args, **kwargs)
            return tracer._timed(iter(it), f"{attr}.next")

        setattr(owner, attr, wrapper)

    def instrument_dataframe(self, spark) -> None:
        """The DataFrame actions: Catalyst planning is forced in its own span
        before each, the Arrow collect is the execution, and what
        ``toPandas``/``toArrow`` do around it is the Arrow/pandas boundary."""
        cls = type(spark.range(1))
        self.wrap(cls, "toPandas", "arrow", plan=True)
        self.wrap(cls, "toArrow", "arrow", plan=True)
        self.wrap(cls, "_collect_as_arrow", "spark")
        self.wrap(cls, "collect", "spark", plan=True)
        self.wrap_iterator(cls, "toLocalIterator")

    def _timed(self, it, name: str):
        root, busy, first = self.root, 0.0, None
        lo = self.next_job_id()
        while True:
            t = time.perf_counter()
            first = t if first is None else first
            try:
                item = next(it)
            except StopIteration:
                busy += time.perf_counter() - t
                break
            busy += time.perf_counter() - t
            yield item
        if root is not None:
            self.spans.append({
                "layer": "spark", "name": name, "start": first, "end": first + busy,
                "parent": root, "rid": root, "job_lo": lo,
                "job_hi": self.next_job_id(),
            })

    def plan(self, df) -> None:
        with self.span("catalyst", "executedPlan"):
            df._jdf.queryExecution().executedPlan()

    # -- analysis -----------------------------------------------------------
    def subtree(self, top: int) -> list[int]:
        """``top`` and every span below it."""
        inside = {top}
        for i in range(top + 1, len(self.spans)):
            if self.spans[i]["parent"] in inside:
                inside.add(i)
        return sorted(inside)

    def self_times(self, top: int) -> dict[str, float]:
        """Self time (ms) per layer over the spans under ``top`` (an
        operation's root, or any span): a span's duration minus the part of
        it its children cover."""
        spans = [(i, self.spans[i]) for i in self.subtree(top) if self.spans[i]["end"] is not None]
        children: dict[int, list[tuple[float, float]]] = {}
        for i, s in spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for i, s in spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - covered) * 1000
        return out

    def jobs(self, top: int, layer: str | None = None) -> set[int]:
        """Ids of the jobs submitted inside the spans under ``top`` (of one
        layer, if given)."""
        ids: set[int] = set()
        for i in self.subtree(top):
            s = self.spans[i]
            if s["job_hi"] is not None and (layer is None or s["layer"] == layer):
                ids.update(range(s["job_lo"], s["job_hi"]))
        return ids


def stage_figures(spark, job_ids: set[int]) -> dict[str, float]:
    """Jobs, stages that ran, their tasks, executor run time and shuffle
    bytes for a set of jobs, from the status tracker and status store."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0.0, "shuffle_bytes": 0, "input_bytes": 0}
    for j in sorted(job_ids):
        info = st.getJobInfo(j)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # stage never submitted (skipped): nothing ran
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(sd.numTasks())
            out["executor_run_ms"] += float(sd.executorRunTime())
            out["shuffle_bytes"] += int(sd.shuffleReadBytes()) + int(sd.shuffleWriteBytes())
            out["input_bytes"] += int(sd.inputBytes())
    return out


def drain_listener(spark) -> None:
    """Wait until the listener bus has delivered every event to the status
    store, so stage figures read after the run are final."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


# Per-layer metrics of a traced run: (name, unit).  Every workload reports
# every one of them; the two roles are the workload's two cost classes.
GLOBAL_METRICS = (
    ("session.start_s", "s"),
    ("codegen.compile_ms", "ms"),
    ("codegen.compile_count", "count"),
    ("jvm.gc_ms", "ms"),
    ("trace.overhead_ms", "ms"),
)
ROLE_METRICS = (
    ("construct_ms", "ms"),
    ("plan_ms", "ms"),
    ("execute_ms", "ms"),
    ("edge_ms", "ms"),
    ("jobs", "count"),
    ("construct_jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_ms", "ms"),
    ("shuffle_bytes", "bytes"),
)


def breakdown(spark, tracer: Tracer, rid: int) -> dict[str, float]:
    """Layer split of one traced operation.  ``edge_ms`` is what is left of
    the caller-observed time after construction, planning and execution:
    the wire codec and socket, or the Arrow-to-pandas conversion."""
    root = tracer.spans[rid]
    total = (root["end"] - root["start"]) * 1000
    st = tracer.self_times(rid)
    out = {
        "construct_ms": st.get("construct", 0.0),
        "plan_ms": st.get("catalyst", 0.0),
        "execute_ms": st.get("spark", 0.0),
        "arrow_ms": st.get("arrow", 0.0),
        "construct_jobs": len(tracer.jobs(rid, "construct")),
    }
    out["edge_ms"] = total - out["construct_ms"] - out["plan_ms"] - out["execute_ms"]
    out.update(stage_figures(spark, tracer.jobs(rid)))
    out.update(tracer.counts.get(rid, {}))
    return out


def finish(spark, jvm, tracer: Tracer, result, session_start_s: float) -> dict:
    """Per-layer metrics of a traced run, as {name: (value, unit)}; the
    per-operation detail goes to ``result.detail['by_op']``."""
    from perfbench.harness import role_ms

    drain_listener(spark)
    for op in result.ops:
        if op.traced and "rid" in op.layers:
            op.layers = breakdown(spark, tracer, op.layers["rid"])
    compile_ms, compile_count = jvm.codegen()
    traced = [o for o in result.ops if o.traced]
    untraced = [o for o in result.ops if not o.traced]
    values = {
        "session.start_s": session_start_s,
        "codegen.compile_ms": compile_ms,
        "codegen.compile_count": compile_count,
        "jvm.gc_ms": jvm.gc_ms(),
        # Mean over both roles of traced minus untraced latency; the
        # workloads trace each role in an order that leaves neither the
        # traced nor the untraced ops systematically warmer.
        "trace.overhead_ms": statistics.fmean(role_ms(traced, r) - role_ms(untraced, r) for r in ("light", "heavy")),
    }
    out = {name: (values[name], unit) for name, unit in GLOBAL_METRICS}
    for role in ("light", "heavy"):
        ops = [o for o in traced if o.role == role and o.layers]
        for key, unit in ROLE_METRICS:
            out[f"{role}.{key}"] = (statistics.median([o.layers[key] for o in ops]), unit)
    by_op: dict[str, dict[str, float]] = {}
    for name in sorted({o.name for o in traced}):
        ops = [o for o in traced if o.name == name and o.layers]
        keys = sorted({k for o in ops for k in o.layers})
        by_op[name] = {k: statistics.median([o.layers[k] for o in ops if k in o.layers]) for k in keys}
        by_op[name]["ms"] = statistics.median([o.ms for o in ops])
    result.detail["by_op"] = by_op
    return out
