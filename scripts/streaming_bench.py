"""Streaming-twin + ingest micro-benchmark (r15, VERDICT r14 #9).

The declared-query bench never times the streaming operators or the
foreachBatch ingest path; this harness does, with a fixed methodology so
future rounds can optimize them with evidence:

- deterministic seeded input, written as ``n_batches`` parquet files;
- each twin streams the files with ``maxFilesPerTrigger=1`` (one
  micro-batch per file — a fixed batch structure independent of box
  speed, unlike a rate source under load), into a memory/noop sink;
- wall-clock covers query start → processAllAvailable, i.e. the full
  micro-batch machinery (planning, state store, sink), the thing a
  structured-streaming deployment actually pays per batch;
- ingest drives ``start_ingest`` (validated write_points commit per
  batch) into a temp measurement.

Prints one JSON line:
``{"metric": "streaming_bench", "rows": N, "batches": K,
   "twins": {name: {"sec": s, "rows_per_sec": r}}, ...}``.

Run: python scripts/streaming_bench.py [--rows N] [--batches K]
"""

from __future__ import annotations

import argparse
import json
import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--twins", nargs="*", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from simple_tsdb_spark import get_spark

    spark = get_spark("streaming_bench")
    n, k = int(args.rows), int(args.batches)
    root = tempfile.mkdtemp(prefix="tsdb_stream_bench_")

    # Deterministic measurement-shaped input: 64 series, 1s cadence per
    # series, value from a fixed integer recurrence (no rand()).
    ev = spark.range(0, n).select(
        F.concat(F.lit("s"), (F.col("id") % 64).cast("string")).alias("series"),
        (F.expr("id div 64") * 1_000_000_000 + (F.col("id") % 64)).alias("time_ns"),
        ((F.col("id") * 2654435761) % 1000).cast("double").alias("value"),
        (F.col("id") % 997).cast("string").alias("user_id"),
    ).withColumn("event_ts", F.expr("timestamp_micros(time_ns div 1000)"))
    ev_path = f"{root}/events"
    # One file per TIME SLICE, written in order (ascending mod times), so
    # micro-batches arrive roughly time-ordered like a real stream — the
    # stateful twins' event-time timeouts assume the watermark does not
    # leap a whole corpus ahead of in-flight state.
    per = n // k
    for i in range(k):
        ev.where((F.col("id") >= i * per) & (F.col("id") < (i + 1) * per if i < k - 1 else F.lit(True))).coalesce(1).write.mode("append").parquet(ev_path)

    # Document-shaped input for the dedup twins: ~25% exact duplicates.
    docs = spark.range(0, n // 10).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("alpha beta gamma doc "), ((F.col("id") * 3) % (n // 13)).cast("string")
        ).alias("text"),
        F.expr("timestamp_micros(id * 1000)").alias("event_ts"),
    )
    docs_path = f"{root}/docs"
    dper = (n // 10) // k
    for i in range(k):
        docs.where(
            (F.col("doc_id") >= i * dper)
            & (F.col("doc_id") < (i + 1) * dper if i < k - 1 else F.lit(True))
        ).coalesce(1).write.mode("append").parquet(docs_path)

    ev_schema = spark.read.parquet(ev_path).schema
    docs_schema = spark.read.parquet(docs_path).schema

    def ev_stream():
        return (
            spark.readStream.schema(ev_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(ev_path)
        )

    def docs_stream():
        return (
            spark.readStream.schema(docs_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(docs_path)
        )

    from simple_tsdb_spark.streaming import (
        start_ingest,
        streaming_active_users,
        streaming_ewma,
        streaming_exact_dedup,
        streaming_hopping_mean,
        streaming_sessionize,
        streaming_simhash_dedup,
        streaming_sum_points,
    )

    W = 60 * 1_000_000_000

    def run_sink(name, df, mode, in_rows):
        q = (
            df.writeStream.outputMode(mode)
            .format("noop")
            .option("checkpointLocation", f"{root}/ckpt_{name}")
            .start()
        )
        t0 = time.time()
        q.processAllAvailable()
        dt = time.time() - t0
        q.stop()
        return {"sec": round(dt, 3), "rows_per_sec": int(in_rows / dt)}

    twins = {
        "sum_points": lambda: run_sink(
            "sum_points",
            streaming_sum_points(ev_stream(), fields=["value"], window_ns=W),
            "append", n,
        ),
        "hopping_mean": lambda: run_sink(
            "hopping_mean",
            streaming_hopping_mean(
                ev_stream(), field="value", window_ns=W, slide_ns=W // 4
            ),
            "append", n,
        ),
        "sessionize": lambda: run_sink(
            "sessionize",
            streaming_sessionize(ev_stream(), gap_ns=30 * 1_000_000_000),
            "append", n,
        ),
        "ewma": lambda: run_sink(
            "ewma",
            streaming_ewma(ev_stream(), field="value", alpha=0.3),
            "append", n,
        ),
        "active_users": lambda: run_sink(
            "active_users",
            streaming_active_users(ev_stream(), period_ns=W, window_periods=2),
            "append", n,
        ),
        "exact_dedup": lambda: run_sink(
            "exact_dedup",
            streaming_exact_dedup(docs_stream()),
            "append", n // 10,
        ),
        "simhash_dedup": lambda: run_sink(
            "simhash_dedup",
            streaming_simhash_dedup(docs_stream()),
            "append", n // 10,
        ),
    }

    def run_ingest():
        mpath = f"{root}/measurement"
        q = start_ingest(
            ev_stream().drop("event_ts", "user_id"),
            mpath,
            checkpoint_dir=f"{root}/ckpt_ingest",
        )
        t0 = time.time()
        q.processAllAvailable()
        dt = time.time() - t0
        q.stop()
        return {"sec": round(dt, 3), "rows_per_sec": int(n / dt)}

    wanted = args.twins or (list(twins) + ["ingest"])
    out = {}
    for name in wanted:
        fn = twins.get(name, run_ingest if name == "ingest" else None)
        if fn is None:
            raise SystemExit(f"unknown twin {name!r}")
        out[name] = fn()
        print(f"# {name}: {out[name]['sec']}s "
              f"({out[name]['rows_per_sec']} rows/s)", file=sys.stderr)

    print(json.dumps({
        "metric": "streaming_bench",
        "rows": n,
        "batches": k,
        "twins": out,
    }, separators=(",", ":")))
    shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
