"""``stream``: Structured Streaming micro-batches, one file per trigger.

Two queries run side by side on file sources (``maxFilesPerTrigger=1``):

- heavy: ``start_ingest`` in dedup mode - the DataFrame ``write_points``
  lane - appending measurement-shaped files (16 series, ~5000 new points
  per file plus 500 rows replayed from the previous file, as an
  at-least-once source redelivers them);
- light: ``streaming_exact_dedup`` into a ``noop`` sink, over document
  files of 1000 rows of which about a quarter repeat earlier text.

The loop is closed: it moves the next staged file into a source
directory and waits (``processAllAvailable``) for the batch before
moving the next.  A round is one ingest batch, then LIGHT_PER_ROUND
dedup batches (they are cheap, and their medians need the samples).  An
op's time is the
batch's ``triggerExecution``.  Document event times repeat the same 60 s
in every file, so the watermark stops moving after the first batch and
no state-eviction batch runs between ours.

Checks: every batch consumed exactly its file; the measurement holds one
row per distinct input (series, time_ns); the dedup sink emitted one row
per distinct text.
"""

from __future__ import annotations

import os
import re
import statistics
import time
from contextlib import nullcontext
from pathlib import Path

import numpy as np

from perfbench.harness import Op, Run, traced_turn

SERIES = 16
NEW_PER_FILE, REPLAY_PER_FILE = 5000, 500
DOCS_PER_FILE, DUP_SHARE = 1000, 0.25
WARMUP_BATCHES = 2
# A run measures a fixed number of rounds, set by ``--seconds`` alone:
# one per ROUND_S seconds (about a round's time on 4 cores), at least
# MIN_ROUNDS, so a slow box does the same work, only slower.
ROUND_S, MIN_ROUNDS = 3.5, 4
LIGHT_PER_ROUND = 3
T_BASE = 1_700_000_000_000_000_000
SEC = 1_000_000_000
WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi".split()


def stage_points(rng: np.random.Generator, out: Path, count: int) -> list[Path]:
    """``count`` point files; every series advances in time from file to
    file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    per = NEW_PER_FILE // SERIES
    files, prev = [], None
    for i in range(count):
        series = np.repeat([f"s{j:02d}" for j in range(SERIES)], per)
        step = np.arange(i * per, (i + 1) * per, dtype=np.int64)
        t = T_BASE + np.tile(step, SERIES) * SEC + np.repeat(np.arange(SERIES, dtype=np.int64), per) * 1000
        v = np.round(rng.normal(50.0, 10.0, len(t)), 3)
        n = rng.integers(0, 1000, len(t), dtype=np.int64)
        tbl = pa.table({
            "series": pa.array(series),
            "time_ns": pa.array(t),
            "v": pa.array(v, mask=rng.random(len(t)) < 0.02),
            "n": pa.array(n, mask=rng.random(len(t)) < 0.01),
        })
        if prev is not None:  # redelivered tail of the previous file, unchanged
            tbl = pa.concat_tables([prev.slice(prev.num_rows - REPLAY_PER_FILE), tbl])
        path = out / f"points-{i:05d}.parquet"
        pq.write_table(tbl, path)
        files.append(path)
        prev = tbl
    return files


def stage_docs(rng: np.random.Generator, out: Path, count: int) -> list[Path]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    seen: list[str] = []
    files = []
    for i in range(count):
        texts = []
        for _ in range(DOCS_PER_FILE):
            if seen and rng.random() < DUP_SHARE:
                texts.append(seen[int(rng.integers(len(seen)))])
            else:
                texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), 12)) + f" {len(seen)}")
                seen.append(texts[-1])
        tbl = pa.table({
            "doc_id": pa.array(np.arange(i * DOCS_PER_FILE, (i + 1) * DOCS_PER_FILE, dtype=np.int64)),
            "text": pa.array(texts),
            "event_ts": pa.array((T_BASE // 1000 + (np.arange(DOCS_PER_FILE) % 60) * 1_000_000),
                                 type=pa.timestamp("us", tz="UTC")),
        })
        path = out / f"docs-{i:05d}.parquet"
        pq.write_table(tbl, path)
        files.append(path)
    return files


class Feed:
    """One streaming query fed one staged file at a time."""

    def __init__(self, query, src: Path, files: list[Path]):
        self.query, self.src, self.files = query, src, files
        self.used = 0
        self.seen_batches: set[int] = set()
        self.progress: list[dict] = []

    def step(self) -> tuple[dict | None, bool]:
        """Move the next file in and wait for its batch; returns the batch's
        progress and whether it was one batch ending at that file's offset.
        (``numInputRows`` cannot tell: ``foreachBatch`` sinks that scan the
        batch twice count its rows twice.)"""
        path = self.files[self.used]
        os.rename(path, self.src / path.name)
        self.used += 1
        self.query.processAllAvailable()
        new = [p for p in self.query.recentProgress
               if p["numInputRows"] > 0 and p["batchId"] not in self.seen_batches]
        self.seen_batches.update(p["batchId"] for p in new)
        self.progress.extend(new)
        if len(new) != 1:
            return (new[-1] if new else None), False
        end = re.search(r"logOffset\W*(\d+)", str(new[0]["sources"][0]["endOffset"]))
        return new[0], end is not None and int(end.group(1)) == self.used - 1

    def fed(self, *columns: str):
        """The files fed so far, as one pyarrow table."""
        import pyarrow.parquet as pq

        return pq.read_table(self.src, columns=list(columns))


def instrument(tracer) -> None:
    """Spans for a traced run: the measurement commit each ingest batch
    makes through ``sources.writer.write_points``."""
    from simple_tsdb_spark.streaming import ingest

    tracer.wrap(ingest, "write_points", "writer")


def run(ctx) -> Run:
    from pyspark.sql import types as T

    from simple_tsdb_spark.sources.writer import data_root
    from simple_tsdb_spark.streaming import start_ingest, streaming_exact_dedup

    spark, tracer = ctx.spark, ctx.tracer
    # The harness's own input staging is not engine work: it comes before
    # set-up is timed.
    rounds = max(MIN_ROUNDS, round(ctx.seconds / ROUND_S))
    rng = np.random.default_rng(ctx.seed)
    root = Path(ctx.workdir) / "stream"
    points = stage_points(rng, root / "staged-points", WARMUP_BATCHES + rounds)
    docs = stage_docs(rng, root / "staged-docs", WARMUP_BATCHES + rounds * LIGHT_PER_ROUND)
    (root / "in-points").mkdir()
    (root / "in-docs").mkdir()

    t_setup = t = time.perf_counter()
    point_schema = T.StructType([
        T.StructField("series", T.StringType()), T.StructField("time_ns", T.LongType()),
        T.StructField("v", T.DoubleType()), T.StructField("n", T.LongType()),
    ])
    mpath = str(root / "measurement")
    ingest_q = start_ingest(
        spark.readStream.schema(point_schema).option("maxFilesPerTrigger", 1).parquet(str(root / "in-points")),
        mpath, checkpoint_dir=str(root / "ckpt-ingest"), mode="dedup",
    )
    construct = {"heavy": (time.perf_counter() - t) * 1000}
    t = time.perf_counter()
    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType()),
        T.StructField("event_ts", T.TimestampType()),
    ])
    dedup_q = (
        streaming_exact_dedup(
            spark.readStream.schema(doc_schema).option("maxFilesPerTrigger", 1).parquet(str(root / "in-docs"))
        ).writeStream.format("noop").option("checkpointLocation", str(root / "ckpt-dedup")).start()
    )
    construct["light"] = (time.perf_counter() - t) * 1000
    feeds = {"heavy": Feed(ingest_q, root / "in-points", points),
             "light": Feed(dedup_q, root / "in-docs", docs)}

    ops: list[Op] = []
    try:
        for _ in range(WARMUP_BATCHES):
            for role in ("heavy", "light"):
                if not feeds[role].step()[1]:
                    raise RuntimeError(f"warm-up {role} batch did not consume its file")
        setup_s = ctx.session_start_s + time.perf_counter() - t_setup

        for i in range(rounds):
            for role in ("heavy",) + ("light",) * LIGHT_PER_ROUND:
                traced = tracer is not None and traced_turn(i)
                jobs_lo = tracer.next_job_id() if tracer else 0
                with (tracer.op(f"{role}_batch", traced) if tracer else nullcontext()) as rid:
                    progress, ok = feeds[role].step()
                jobs = range(jobs_lo, tracer.next_job_id()) if tracer else range(0)
                ms = float(progress["durationMs"]["triggerExecution"]) if progress else float("nan")
                layers = {"root": rid, "jobs_range": jobs, "progress": progress} if traced else {}
                ops.append(Op(role, f"{role}_batch", ms, ok and progress is not None, traced, layers))
    finally:
        for q in (ingest_q, dedup_q):
            q.stop()

    # Answers, over every file fed (warm-up included).
    want_points = len(feeds["heavy"].fed("series", "time_ns").group_by(["series", "time_ns"]).aggregate([]))
    got_points = spark.read.parquet(data_root(mpath)).count()
    want_docs = len(feeds["light"].fed("text").group_by(["text"]).aggregate([]))
    got_docs = sum(p["sink"]["numOutputRows"] for p in feeds["light"].progress)
    final = [got_points == want_points, got_docs == want_docs]
    if not final[0]:
        ctx.log(f"ingest stored {got_points} points, expected {want_points}")
    if not final[1]:
        ctx.log(f"dedup emitted {got_docs} rows, expected {want_docs}")

    detail = {}
    if tracer is not None:
        detail = stream_layers(spark, tracer, ops, construct)
    return Run(setup_s=setup_s, ops=ops, attempted=len(ops) + len(final),
               failed=sum(not o.ok for o in ops) + final.count(False), detail=detail)


def stream_layers(spark, tracer, ops: list[Op], construct: dict[str, float]) -> dict:
    """Per-batch layer split from the progress Spark reports (the
    ``durationMs`` components and ``stateOperators``), jobs from the
    status store, and the writer span of each traced ingest batch."""
    from perfbench.trace import drain_listener, stage_figures

    drain_listener(spark)
    named: dict[str, list[float]] = {}
    for op in ops:
        if not op.traced:
            continue
        p, rid, jobs = op.layers["progress"], op.layers["root"], set(op.layers["jobs_range"])
        d = p["durationMs"] if p else {}
        total = float(d.get("triggerExecution", 0))
        layers = {
            "construct_ms": construct[op.role],
            "plan_ms": float(d.get("queryPlanning", 0)),
            "execute_ms": float(d.get("addBatch", 0)),
            "construct_jobs": 0,
        }
        layers["edge_ms"] = total - layers["plan_ms"] - layers["execute_ms"]
        layers.update(stage_figures(spark, jobs))
        for k in ("walCommit", "commitOffsets", "latestOffset", "getBatch"):
            layers[f"stream.{k}_ms"] = float(d.get(k, 0))
        for s in (p or {}).get("stateOperators", []):
            layers["state.commit_ms"] = float(s["commitTimeMs"])
            layers["state.rows_total"] = s["numRowsTotal"]
            layers["state.instances"] = s["numStateStoreInstances"]
        writer = [i for i in tracer.subtree(rid) if tracer.spans[i]["layer"] == "writer"] if rid is not None else []
        for i in writer:
            s = tracer.spans[i]
            layers["writer.commit_ms"] = (s["end"] - s["start"]) * 1000
            layers["writer.jobs_per_write"] = s["job_hi"] - s["job_lo"]
        op.layers = layers
    for op in ops:
        for k, v in op.layers.items():
            if k.startswith(("stream.", "state.", "writer.")):
                named.setdefault(f"{op.role}:{k}", []).append(v)
    return {k: statistics.median(v) for k, v in sorted(named.items())}
