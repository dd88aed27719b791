"""Structured Streaming ingest — the reference's WAL + commit pipeline.

Reference flow (``doc/WRITES.txt:1-16``, ``wal.cc``): clients push point
chunks; a row-format WAL absorbs small writes, commits to the columnar
store when full; the durability handshake is an fsync-acknowledged credit
protocol (``doc/TSDBSERVER_PROTOCOL.txt:13-38``).

Spark mapping (SURVEY.md §2.8): a streaming source (files/kafka/rate) →
``foreachBatch`` running the same validation as batch ``write_points`` →
Parquet append.  A point-scale micro-batch commits on the driver: one
Arrow collect, at most one job to verify a replayed tail, and a pyarrow
append (``sources/writer.py``).  The checkpoint directory *is* the WAL:
a crashed batch replays, and ``mode='dedup'`` makes the replay idempotent on
(series, time_ns) — effective exactly-once, the streaming equivalent of
the reference's byte-verified retransmit (wal.cc:87-246).

Backpressure: ``maxFilesPerTrigger`` / trigger interval replace the
reference's ``write_throttle_ns`` (server.cc:566-575).

At 100 TB: one streaming query per measurement funnels all appends, the
analog of the reference's per-series write flock (doc/LOCKING.txt) —
readers see committed snapshots only, writers never block readers.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from simple_tsdb_spark.sources.writer import write_points


def start_ingest(
    stream: DataFrame,
    measurement_path: str,
    *,
    checkpoint_dir: str,
    mode: str = "dedup",
    trigger: dict[str, Any] | None = None,
) -> StreamingQuery:
    """Start a validated streaming append into a measurement.

    ``stream`` must be a streaming DataFrame in measurement shape
    (series, time_ns, fields...).  ``mode`` as in ``write_points``;
    'dedup' is the right default under at-least-once replay.
    """

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        # no separate emptiness probe: an empty point-scale batch ends at
        # the commit's own collect
        write_points(batch_df.sparkSession, measurement_path, batch_df, mode=mode)

    writer = stream.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def start_ingest_with_rollup(
    stream: DataFrame,
    measurement_path: str,
    rollup_path: str,
    *,
    checkpoint_dir: str,
    fields: list[str],
    base_window_ns: int,
    mode: str = "dedup",
    trigger: dict[str, Any] | None = None,
) -> StreamingQuery:
    """Ingest + continuous-aggregate maintenance in one streaming query:
    each micro-batch appends validated points, then advances the rollup
    over newly finalized base buckets (operators/rollup.py::advance_rollup
    — idempotent, so a replayed batch can't double-count).  Readers use
    ``hybrid_sum_points`` and always see exact results: rollup history +
    raw tail."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if write_points(spark, measurement_path, batch_df, mode=mode)["rows_in"] == 0:
            return
        from simple_tsdb_spark.operators.rollup import advance_rollup
        from simple_tsdb_spark.sources.writer import data_root

        raw = spark.read.parquet(data_root(measurement_path))
        advance_rollup(
            spark, raw, rollup_path, fields=fields, base_window_ns=base_window_ns
        )

    writer = stream.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
