"""Ingest-path tests — reference WAL validation semantics (wal.cc:54-347):
ordering rejection, watermark drop, idempotent retransmit verify, and the
streaming wrapper's end-to-end append."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import types as T

from simple_tsdb_spark.operators import count_points, delete_points, select_points
from simple_tsdb_spark.sources.writer import (
    OutOfOrderTimestamps,
    OverwriteMismatch,
    write_points,
    compact_measurement,
)

SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType(), False),
        T.StructField("time_ns", T.LongType(), False),
        T.StructField("v", T.DoubleType(), True),
    ]
)


def mk(spark, rows):
    pdf = pd.DataFrame(rows, columns=["series", "time_ns", "v"])
    return spark.createDataFrame(pdf, SCHEMA)


def test_append_and_read_back(spark, tmp_path):
    path = str(tmp_path / "m1")
    r = write_points(spark, path, mk(spark, [("a", 10, 1.0), ("a", 20, 2.0), ("b", 10, 9.0)]))
    assert r["appended"] == 3
    got = select_points(spark.read.parquet(path)).toPandas()
    assert len(got) == 3


def test_duplicate_in_batch_rejected(spark, tmp_path):
    path = str(tmp_path / "m2")
    with pytest.raises(OutOfOrderTimestamps):
        write_points(spark, path, mk(spark, [("a", 10, 1.0), ("a", 10, 2.0)]))


def test_retransmit_identical_is_noop(spark, tmp_path):
    # wal.cc:87-151 — 100% identical overlap ⇒ no-op.
    path = str(tmp_path / "m3")
    batch = [("a", 10, 1.0), ("a", 20, None), ("a", 30, 3.0)]
    write_points(spark, path, mk(spark, batch))
    r = write_points(spark, path, mk(spark, batch))
    assert r["appended"] == 0 and r["dropped_overlap"] == 3
    assert spark.read.parquet(path).count() == 3


def test_retransmit_mismatch_rejected(spark, tmp_path):
    path = str(tmp_path / "m4")
    write_points(spark, path, mk(spark, [("a", 10, 1.0), ("a", 20, 2.0)]))
    with pytest.raises(OverwriteMismatch):
        write_points(spark, path, mk(spark, [("a", 20, 99.0)]))


def test_out_of_order_vs_committed_rejected(spark, tmp_path):
    # New timestamp ≤ committed time_last that isn't a retransmit → reject.
    path = str(tmp_path / "m5")
    write_points(spark, path, mk(spark, [("a", 10, 1.0), ("a", 30, 3.0)]))
    with pytest.raises(OutOfOrderTimestamps):
        write_points(spark, path, mk(spark, [("a", 20, 2.0)]))


def test_partial_retransmit_plus_new(spark, tmp_path):
    # Overlap with the tail + strictly-new points: overlap dropped, new kept.
    path = str(tmp_path / "m6")
    write_points(spark, path, mk(spark, [("a", 10, 1.0), ("a", 20, 2.0)]))
    r = write_points(spark, path, mk(spark, [("a", 20, 2.0), ("a", 30, 3.0)]))
    assert r["dropped_overlap"] == 1 and r["appended"] == 1
    got = count_points(spark.read.parquet(path), series="a", per_series=False).first()
    assert got["npoints"] == 3


def test_watermark_drop_and_delete(spark, tmp_path):
    # delete_points advances time_first; later writes ≤ t silently dropped
    # (wal.cc:70-85); delete-from-the-future tombstones too (delete.cc).
    path = str(tmp_path / "m7")
    write_points(spark, path, mk(spark, [("a", 10, 1.0), ("a", 20, 2.0), ("a", 30, 3.0)]))
    marks = delete_points(spark, path, series="a", t=20)
    df = marks.apply(spark.read.parquet(path))
    assert [r.time_ns for r in df.collect()] == [30]
    r = write_points(spark, path, mk(spark, [("a", 15, 9.0), ("a", 40, 4.0)]))
    assert r["dropped_below_watermark"] == 1 and r["appended"] == 1


def test_physical_delete_bucketed_no_renames(spark, tmp_path):
    """Physical retention delete on a bucketed layout: fully-covered bucket
    dirs are unlinked, the boundary bucket is rewritten in place via
    dynamic partition overwrite — no .__old__/.__rewrite__ swap dirs."""
    import os

    from simple_tsdb_spark.sources.measurement import read_measurement

    path = str(tmp_path / "m7b")
    bucket = 1000
    rows = [("a", t, float(t)) for t in [100, 900, 1100, 1900, 2100, 2900]]
    rows += [("b", 150, 0.5)]
    write_points(spark, path, mk(spark, rows), time_bucket_ns=bucket)
    delete_points(spark, path, series="a", t=1500)
    sdir = os.path.join(path, "series=a")
    assert not os.path.isdir(os.path.join(sdir, "time_bucket=0"))  # unlinked
    assert os.path.isdir(os.path.join(sdir, "time_bucket=1000"))  # rewritten
    assert os.path.isdir(os.path.join(sdir, "time_bucket=2000"))  # untouched
    assert not [e for e in os.listdir(path) if "__" in e], "swap dirs left behind"
    got = select_points(read_measurement(spark, path)).toPandas()
    assert [(r.series, r.time_ns) for r in got.itertuples()] == [
        ("b", 150), ("a", 1900), ("a", 2100), ("a", 2900),
    ]
    # series b untouched
    assert os.path.isdir(os.path.join(path, "series=b", "time_bucket=0"))


def test_physical_delete_entire_series_unlinks(spark, tmp_path):
    import os

    path = str(tmp_path / "m7c")
    write_points(spark, path, mk(spark, [("a", 10, 1.0), ("b", 20, 2.0)]))
    delete_points(spark, path, series="a", t=10**9)  # delete-from-the-future
    assert not os.path.isdir(os.path.join(path, "series=a"))
    assert os.path.isdir(os.path.join(path, "series=b"))


def test_dedup_mode_skips_verify(spark, tmp_path):
    path = str(tmp_path / "m8")
    write_points(spark, path, mk(spark, [("a", 10, 1.0)]))
    r = write_points(spark, path, mk(spark, [("a", 10, 42.0), ("a", 20, 2.0)]), mode="dedup")
    assert r["dropped_overlap"] == 1 and r["appended"] == 1


def test_compaction_preserves_data(spark, tmp_path):
    import os

    from simple_tsdb_spark.sources.measurement import read_measurement
    from simple_tsdb_spark.sources.writer import data_root

    path = str(tmp_path / "m9")
    for i in range(5):  # many small appends → many small files
        write_points(spark, path, mk(spark, [("a", 100 + i * 10, float(i))]))
    before = select_points(read_measurement(spark, path)).toPandas()
    compact_measurement(spark, path)
    after = select_points(read_measurement(spark, path)).toPandas()
    pd.testing.assert_frame_equal(before, after)
    # Published as a new generation + pointer flip: no rename of the
    # measurement directory itself, old data dirs gone.
    assert data_root(path) == os.path.join(path, "_gen_000001")
    assert not [e for e in os.listdir(path) if e.startswith("series=")]
    # Appends keep working after the flip (same validated path).
    write_points(spark, path, mk(spark, [("a", 1000, 9.0)]))
    got = select_points(read_measurement(spark, path)).toPandas()
    assert list(got.time_ns) == [100, 110, 120, 130, 140, 1000]


def test_compaction_preserves_bucketed_layout(spark, tmp_path):
    """Regression: compaction must keep the time_bucket partition scheme —
    a mixed-depth layout (series=X/ next to series=X/time_bucket=Y/) is
    unreadable by Spark's partition discovery."""
    import os

    from simple_tsdb_spark.sources.measurement import read_measurement
    from simple_tsdb_spark.sources.writer import data_root

    path = str(tmp_path / "m9b")
    bucket = 1000
    for i in range(3):
        write_points(
            spark,
            path,
            mk(spark, [("a", i * bucket + 7, float(i)), ("b", i * bucket + 8, float(i))]),
            time_bucket_ns=bucket,
        )
    compact_measurement(spark, path)
    root = data_root(path)
    assert sorted(os.listdir(os.path.join(root, "series=a"))) == [
        "time_bucket=0",
        "time_bucket=1000",
        "time_bucket=2000",
    ]
    # Post-compaction append lands in the same scheme and reads back whole.
    write_points(spark, path, mk(spark, [("a", 3 * bucket + 7, 3.0)]))
    assert os.path.isdir(os.path.join(root, "series=a", "time_bucket=3000"))
    got = select_points(read_measurement(spark, path), series="a").toPandas()
    assert list(got.time_ns) == [7, 1007, 2007, 3007]


def test_streaming_ingest(spark, tmp_path):
    # File-source stream → foreachBatch validated append (S4 streaming).
    from simple_tsdb_spark.streaming import start_ingest

    src = str(tmp_path / "incoming")
    path = str(tmp_path / "m10")
    ckpt = str(tmp_path / "ckpt")
    mk(spark, [("a", 10, 1.0), ("a", 20, 2.0), ("b", 5, 0.5)]).coalesce(1).write.parquet(
        src, mode="overwrite"
    )
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = start_ingest(stream, path, checkpoint_dir=ckpt)
    q.processAllAvailable()
    # Late replay of the same files after restart must be idempotent.
    mk(spark, [("a", 20, 2.0), ("a", 30, 3.0)]).coalesce(1).write.parquet(src, mode="append")
    q.processAllAvailable()
    q.stop()
    got = select_points(spark.read.parquet(path)).toPandas()
    assert sorted(zip(got.series, got.time_ns)) == [
        ("a", 10), ("a", 20), ("a", 30), ("b", 5)
    ]


def test_streaming_ingest_restart_resumes(spark, tmp_path):
    """Kill the query and START A NEW ONE on the same checkpoint: the
    restarted query resumes from the committed offsets (no reprocessing
    of finished batches, no duplicates) and picks up files that arrived
    while it was down — the crash-recovery contract the reference gets
    from its WAL, here from checkpoint + dedup-mode idempotent appends."""
    from simple_tsdb_spark.sources.measurement import read_measurement
    from simple_tsdb_spark.streaming import start_ingest

    src = str(tmp_path / "incoming_r")
    path = str(tmp_path / "m10r")
    ckpt = str(tmp_path / "ckpt_r")
    mk(spark, [("a", 10, 1.0), ("b", 5, 0.5)]).coalesce(1).write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q1 = start_ingest(stream, path, checkpoint_dir=ckpt)
    q1.processAllAvailable()
    q1.stop()
    # downtime: more data lands while no query is running
    mk(spark, [("a", 20, 2.0), ("b", 15, 1.5)]).coalesce(1).write.parquet(src, mode="append")
    q2 = start_ingest(
        spark.readStream.schema(SCHEMA).parquet(src), path, checkpoint_dir=ckpt
    )
    q2.processAllAvailable()
    q2.stop()
    got = select_points(read_measurement(spark, path)).toPandas()
    assert sorted(zip(got.series, got.time_ns)) == [
        ("a", 10), ("a", 20), ("b", 5), ("b", 15)
    ]


def test_time_bucket_layout(spark, tmp_path):
    """Coarse time_bucket partitioning: directory pruning + full fidelity."""
    import io
    import os
    from contextlib import redirect_stdout

    from simple_tsdb_spark.sources import read_measurement

    path = str(tmp_path / "bucketed")
    rows = [("a", t, float(t)) for t in range(0, 10_000, 10)]
    write_points(spark, path, mk(spark, rows), time_bucket_ns=1000)
    # layout on disk: series=/time_bucket= nesting
    assert any("time_bucket=" in str(p) for p in (tmp_path / "bucketed" / "series=a").iterdir())
    # later writes follow the recorded layout without re-passing the option
    write_points(spark, path, mk(spark, [("a", 20_000, 1.0)]))

    df = read_measurement(spark, path, t0=2500, t1=4500)
    assert "time_bucket" not in df.columns
    got = select_points(df, series="a", t0=2500, t1=4500).toPandas()
    assert list(got.time_ns) == list(range(2500, 4501, 10))

    # the bucket predicate reaches the partition filters
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.where("time_ns between 2500 and 4500").explain("formatted")
    assert "time_bucket" in buf.getvalue().split("PartitionFilters")[1].split("\n")[0]

    # retention rewrite preserves the bucketed layout
    delete_points(spark, path, series="a", t=5000)
    assert any(
        "time_bucket=" in str(p) for p in (tmp_path / "bucketed" / "series=a").iterdir()
    )
    df2 = read_measurement(spark, path)
    from simple_tsdb_spark.operators import RetentionWatermarks

    assert RetentionWatermarks(path).apply(df2).where("time_ns <= 5000").count() == 0


def test_streaming_ingest_with_rollup(spark, tmp_path):
    """Ingest + continuous-aggregate maintenance in one streaming query."""
    from simple_tsdb_spark.operators import hybrid_sum_points, sum_points
    from simple_tsdb_spark.streaming import start_ingest_with_rollup

    src = str(tmp_path / "in2")
    path = str(tmp_path / "m11")
    rollup = str(tmp_path / "m11_rollup")
    ckpt = str(tmp_path / "ck2")
    rows1 = [("a", t, float(t)) for t in range(0, 5000, 10)]
    # ordered arrival per series (the ingest contract advance_rollup needs)
    mk(spark, rows1).coalesce(1).write.parquet(src, mode="overwrite")
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = start_ingest_with_rollup(
        stream, path, rollup, checkpoint_dir=ckpt, fields=["v"], base_window_ns=100
    )
    q.processAllAvailable()
    rows2 = [("a", t, float(t)) for t in range(5000, 8000, 10)]
    mk(spark, rows2).coalesce(1).write.parquet(src, mode="append")
    q.processAllAvailable()
    q.stop()
    # rollup holds only finalized buckets, no duplicates
    r = spark.read.parquet(rollup)
    assert r.groupBy("series", "wstart").count().where("count > 1").count() == 0
    raw = spark.read.parquet(path)
    got = hybrid_sum_points(
        spark, raw, rollup, fields=["v"], base_window_ns=100, window_ns=1000
    ).toPandas()
    want = sum_points(raw, fields=["v"], window_ns=1000, emit_empty=False).toPandas()
    got = got.sort_values("wstart", ignore_index=True)
    want = want.sort_values("wstart", ignore_index=True)[got.columns]
    pd.testing.assert_frame_equal(got, want)


def test_watermark_broadcast_join_path(spark, tmp_path):
    """RetentionWatermarks.apply switches to a broadcast join above 32
    series — same filtering semantics as the literal-map path."""
    from simple_tsdb_spark.operators import RetentionWatermarks

    path = str(tmp_path / "many_series")
    rows = [(f"s{i}", t, 1.0) for i in range(40) for t in (10, 20, 30)]
    write_points(spark, path, mk(spark, rows))
    marks = RetentionWatermarks(path)
    for i in range(40):
        marks.advance(f"s{i}", 20 if i % 2 == 0 else 10)
    df = marks.apply(spark.read.parquet(path))
    got = df.groupBy("series").count().toPandas().set_index("series")["count"]
    for i in range(40):
        assert got[f"s{i}"] == (2 if i % 2 == 0 else 3)


# -- write_points_pandas: the wire server's one-job fast lane ------------

def mkpdf(rows):
    return pd.DataFrame(rows, columns=["series", "time_ns", "v"])


class TestPandasWriteLane:
    """write_points_pandas must be semantics-identical to write_points:
    same errors, same counters, same stored bytes."""

    def test_counters_and_data_match_dataframe_path(self, spark, tmp_path, monkeypatch):
        from simple_tsdb_spark.sources import writer as W
        from simple_tsdb_spark.sources.writer import write_points_pandas

        # DataFrame batches take the Spark body, whatever their size
        monkeypatch.setattr(W, "_collect_exact", lambda batch: None)

        rows1 = [("a", 10, 1.0), ("a", 20, None), ("b", 5, 9.0)]
        rows2 = [("a", 20, None), ("a", 30, 3.0), ("b", 7, 8.0)]  # partial retransmit
        p_df = str(tmp_path / "viadf")
        p_pd = str(tmp_path / "viapd")
        r_df1 = write_points(spark, p_df, mk(spark, rows1))
        r_pd1 = write_points_pandas(spark, p_pd, mkpdf(rows1), SCHEMA)
        r_df2 = write_points(spark, p_df, mk(spark, rows2))
        r_pd2 = write_points_pandas(spark, p_pd, mkpdf(rows2), SCHEMA)
        assert r_df1 == r_pd1 and r_df2 == r_pd2
        a = spark.read.parquet(p_df).orderBy("series", "time_ns").collect()
        b = spark.read.parquet(p_pd).orderBy("series", "time_ns").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_duplicate_rejected(self, spark, tmp_path):
        from simple_tsdb_spark.sources.writer import write_points_pandas

        with pytest.raises(OutOfOrderTimestamps):
            write_points_pandas(
                spark, str(tmp_path / "m"), mkpdf([("a", 10, 1.0), ("a", 10, 2.0)]), SCHEMA
            )

    def test_mismatch_and_stale_rejected(self, spark, tmp_path):
        from simple_tsdb_spark.sources.writer import write_points_pandas

        path = str(tmp_path / "m")
        write_points_pandas(spark, path, mkpdf([("a", 10, 1.0), ("a", 20, 2.0)]), SCHEMA)
        with pytest.raises(OverwriteMismatch):
            write_points_pandas(spark, path, mkpdf([("a", 20, 99.0)]), SCHEMA)
        with pytest.raises(OutOfOrderTimestamps):
            write_points_pandas(spark, path, mkpdf([("a", 15, 1.5)]), SCHEMA)

    def test_watermark_drop(self, spark, tmp_path):
        from simple_tsdb_spark.sources.writer import write_points_pandas

        path = str(tmp_path / "m")
        write_points_pandas(spark, path, mkpdf([("a", 10, 1.0), ("a", 20, 2.0)]), SCHEMA)
        delete_points(spark, path, series="a", t=15)
        r = write_points_pandas(spark, path, mkpdf([("a", 12, 9.9), ("a", 30, 3.0)]), SCHEMA)
        assert r == {
            "rows_in": 2,
            "dropped_below_watermark": 1,
            "dropped_overlap": 0,
            "appended": 1,
        }

    def test_all_below_watermark_short_circuits(self, spark, tmp_path):
        from simple_tsdb_spark.sources.writer import write_points_pandas

        path = str(tmp_path / "m")
        write_points_pandas(spark, path, mkpdf([("a", 100, 1.0)]), SCHEMA)
        delete_points(spark, path, series="a", t=100)
        r = write_points_pandas(spark, path, mkpdf([("a", 50, 0.5)]), SCHEMA)
        assert r["appended"] == 0 and r["dropped_below_watermark"] == 1


class TestTimeLastSidecar:
    """The time_last fast path must never skip a needed verify."""

    def test_monotone_append_then_retransmit_still_verifies(self, spark, tmp_path):
        path = str(tmp_path / "m")
        write_points(spark, path, mk(spark, [("a", 10, 1.0)]))
        write_points(spark, path, mk(spark, [("a", 20, 2.0)]))  # fast path
        # overlap after fast-path appends must still byte-verify
        with pytest.raises(OverwriteMismatch):
            write_points(spark, path, mk(spark, [("a", 20, 99.0)]))
        r = write_points(spark, path, mk(spark, [("a", 20, 2.0), ("a", 30, 3.0)]))
        assert r["dropped_overlap"] == 1 and r["appended"] == 1

    def test_missing_sidecar_falls_back_to_store_scan(self, spark, tmp_path):
        import os

        path = str(tmp_path / "m")
        write_points(spark, path, mk(spark, [("a", 10, 1.0), ("a", 20, 2.0)]))
        os.remove(f"{path}/_tsdb_meta/time_last.json")  # e.g. pre-sidecar store
        with pytest.raises(OverwriteMismatch):
            write_points(spark, path, mk(spark, [("a", 20, 99.0)]))
        with pytest.raises(OutOfOrderTimestamps):
            write_points(spark, path, mk(spark, [("a", 15, 1.5)]))
        r = write_points(spark, path, mk(spark, [("a", 30, 3.0)]))
        assert r["appended"] == 1

    def test_new_series_skips_verify_but_lands(self, spark, tmp_path):
        path = str(tmp_path / "m")
        write_points(spark, path, mk(spark, [("a", 10, 1.0)]))
        r = write_points(spark, path, mk(spark, [("zz-new.series", 5, 7.0)]))
        assert r["appended"] == 1
        got = spark.read.parquet(path).orderBy("series").collect()
        assert [r["series"] for r in got] == ["a", "zz-new.series"]


class TestReviewRegressions:
    """Round-6 review findings: sidecar init from pre-sidecar stores,
    exact watermark comparison at >2^53 epoch-ns, positional pandas
    column mapping."""

    def test_time_last_init_covers_presidecar_store(self, spark, tmp_path):
        import os

        path = str(tmp_path / "m")
        write_points(spark, path, mk(spark, [("a", 10, 1.0), ("a", 60, 6.0), ("a", 100, 10.0)]))
        os.remove(f"{path}/_tsdb_meta/time_last.json")  # pre-sidecar store
        # dedup write below the committed tail: verify path runs, and the
        # sidecar must initialize to the TRUE committed time_last (100),
        # not the batch max (50)
        r = write_points(spark, path, mk(spark, [("a", 50, 0.5)]), mode="dedup")
        assert r["appended"] == 1
        # an overlapping strict write must STILL verify (no fast-lane skip)
        with pytest.raises(OverwriteMismatch):
            write_points(spark, path, mk(spark, [("a", 60, 99.0)]))
        with pytest.raises(OutOfOrderTimestamps):
            write_points(spark, path, mk(spark, [("a", 70, 7.0)]))

    def test_pandas_watermark_exact_at_large_epoch(self, spark, tmp_path):
        from simple_tsdb_spark.operators.delete import RetentionWatermarks
        from simple_tsdb_spark.sources.writer import write_points_pandas

        path = str(tmp_path / "m")
        base = 1_700_000_000_000_000_000  # > 2^53: float64 ulp here is 256
        RetentionWatermarks(path).advance("a", base)
        pdf = mkpdf([("a", base - 100, 1.0), ("a", base + 100, 2.0)])
        r = write_points_pandas(spark, path, pdf, SCHEMA)
        # base-100 rounds UP to base in float64 and would sneak past a
        # float comparison; the int64 path drops it
        assert r == {
            "rows_in": 2,
            "dropped_below_watermark": 1,
            "dropped_overlap": 0,
            "appended": 1,
        }
        got = spark.read.parquet(path).collect()
        assert [g["time_ns"] for g in got] == [base + 100]

    def test_pandas_column_order_independent(self, spark, tmp_path):
        import pandas as pd
        from pyspark.sql import types as T

        from simple_tsdb_spark.sources.writer import write_points_pandas

        schema2 = T.StructType(
            [
                T.StructField("series", T.StringType(), False),
                T.StructField("time_ns", T.LongType(), False),
                T.StructField("v", T.DoubleType(), True),
                T.StructField("w", T.DoubleType(), True),
            ]
        )
        # pdf columns deliberately reordered (w before v) + an extra col
        pdf = pd.DataFrame(
            {
                "w": [10.0, 20.0],
                "extra": ["x", "y"],
                "series": ["a", "a"],
                "v": [1.0, 2.0],
                "time_ns": [100, 200],
            }
        )
        path = str(tmp_path / "m")
        write_points_pandas(spark, path, pdf, schema2)
        got = {r["time_ns"]: (r["v"], r["w"]) for r in spark.read.parquet(path).collect()}
        assert got == {100: (1.0, 10.0), 200: (2.0, 20.0)}


# -- WAL lane: zero-Spark-job driver-side parquet append ------------------

class TestWalLane:
    """The pyarrow WAL lane (writer.py::_try_wal_append_pandas) must be
    byte-equivalent to the Spark append for every monotone batch, fall
    back to the Spark commit whenever it cannot PROVE monotonicity, and
    interoperate with Spark-written files inside one partition dir."""

    def _mkpdf(self, base, series="a", n=50, nulls=True):
        import numpy as np

        v = np.arange(n, dtype="float64")
        if nulls:
            v = v.copy()
            v[::7] = np.nan  # NULLs ride as NaN, both lanes null them
        return pd.DataFrame(
            {"series": series, "time_ns": np.arange(base, base + n, dtype="int64"), "v": v}
        )

    def test_lane_taken_and_equivalent(self, spark, tmp_path, monkeypatch):
        from simple_tsdb_spark.sources import writer as W

        taken = []
        orig = W._try_wal_append_pandas

        def spy(*a, **k):
            r = orig(*a, **k)
            taken.append(r is not None)
            return r

        monkeypatch.setattr(W, "_try_wal_append_pandas", spy)
        p_wal = str(tmp_path / "wal")
        p_spk = str(tmp_path / "spk")
        for k in range(3):
            ra = W.write_points_pandas(spark, p_wal, self._mkpdf(k * 1000), SCHEMA)
            rb = W.write_points_pandas(
                spark, p_spk, self._mkpdf(k * 1000), SCHEMA, wal_lane=False
            )
            assert ra == rb
        assert taken == [True, True, True]
        a = spark.read.parquet(p_wal).orderBy("time_ns").collect()
        b = spark.read.parquet(p_spk).orderBy("time_ns").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        assert spark.read.parquet(p_wal).schema == spark.read.parquet(p_spk).schema

    def test_overlap_falls_back_and_verifies(self, spark, tmp_path):
        from simple_tsdb_spark.sources import writer as W

        path = str(tmp_path / "m")
        W.write_points_pandas(spark, path, self._mkpdf(0), SCHEMA)
        # exact retransmit through the fallback Spark verify: no-op
        r = W.write_points_pandas(spark, path, self._mkpdf(0), SCHEMA)
        assert r["dropped_overlap"] == 50 and r["appended"] == 0
        # value mismatch in the overlap must still reject
        bad = self._mkpdf(0, nulls=False)
        bad["v"] = bad["v"] + 1
        with pytest.raises(OverwriteMismatch):
            W.write_points_pandas(spark, path, bad, SCHEMA)

    def test_non_plain_series_name_falls_back(self, spark, tmp_path):
        from simple_tsdb_spark.sources import writer as W

        path = str(tmp_path / "m")
        pdf = pd.DataFrame(
            {"series": ["sp ace/slash"], "time_ns": [10], "v": [1.0]}
        )
        assert (
            W._try_wal_append_pandas(
                spark, path, pdf, SCHEMA,
                W._PrePass(1, 1, {"sp ace/slash": (10, 10)}),
                W.RetentionWatermarks(path), {},
                mode="strict", time_bucket_ns=None,
            )
            is None
        )
        # the full call still works via the Spark lane (%XX escaping)
        r = W.write_points_pandas(spark, path, pdf, SCHEMA)
        assert r["appended"] == 1
        got = spark.read.parquet(path).collect()
        assert got[0]["series"] == "sp ace/slash"

    def test_hashed_layout_falls_back(self, spark, tmp_path):
        from simple_tsdb_spark.sources import writer as W

        path = str(tmp_path / "m")
        r = W.write_points_pandas(
            spark, path, self._mkpdf(0), SCHEMA, series_buckets=8
        )
        assert r["appended"] == 50
        import os

        assert any(e.startswith("series_bucket=") for e in os.listdir(path))
        # follow-up writes keep falling back (layout records the buckets)
        r = W.write_points_pandas(spark, path, self._mkpdf(1000), SCHEMA)
        assert r["appended"] == 50

    def test_time_bucket_layout_dirs_match_spark(self, spark, tmp_path):
        from simple_tsdb_spark.sources import writer as W

        p_wal = str(tmp_path / "wal")
        p_spk = str(tmp_path / "spk")
        pdf = pd.DataFrame(
            {
                "series": ["a"] * 4,
                "time_ns": [5, 95, 105, 205],
                "v": [1.0, 2.0, 3.0, 4.0],
            }
        )
        W.write_points_pandas(spark, p_wal, pdf, SCHEMA, time_bucket_ns=100)
        W.write_points_pandas(
            spark, p_spk, pdf, SCHEMA, time_bucket_ns=100, wal_lane=False
        )
        import os

        dirs = lambda p: sorted(
            f"{d}/{b}"
            for d in os.listdir(p) if d.startswith("series=")
            for b in os.listdir(f"{p}/{d}") if b.startswith("time_bucket=")
        )
        assert dirs(p_wal) == dirs(p_spk) == [
            "series=a/time_bucket=0", "series=a/time_bucket=100", "series=a/time_bucket=200"
        ]
        a = spark.read.parquet(p_wal).orderBy("time_ns").collect()
        b = spark.read.parquet(p_spk).orderBy("time_ns").collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_mixed_lanes_compact_and_select(self, spark, tmp_path):
        from simple_tsdb_spark.sources import writer as W

        path = str(tmp_path / "m")
        W.write_points_pandas(spark, path, self._mkpdf(0), SCHEMA)  # WAL lane
        W.write_points_pandas(
            spark, path, self._mkpdf(1000), SCHEMA, wal_lane=False
        )  # Spark lane, same partition dir
        W.write_points_pandas(spark, path, self._mkpdf(2000), SCHEMA)  # WAL lane
        assert count_points(spark.read.parquet(path)).collect()[0]["npoints"] == 150
        compact_measurement(spark, path)
        got = select_points(spark.read.parquet(W.data_root(path))).toPandas()
        assert len(got) == 150
        assert list(got["time_ns"])[:3] == [0, 1, 2]


def test_wide_batch_guard_warns(spark, tmp_path, monkeypatch):
    """A batch touching more series than MAX_TOUCHED_SERIES commits but
    raises the ResourceWarning tripwire (driver-resident per-series
    validation state)."""
    import warnings

    from simple_tsdb_spark.sources import writer as W

    monkeypatch.setattr(W, "MAX_TOUCHED_SERIES", 3)
    pdf = pd.DataFrame(
        {"series": [f"s{i}" for i in range(5)], "time_ns": [10] * 5, "v": [1.0] * 5}
    )
    path = str(tmp_path / "m")
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        r = W.write_points_pandas(spark, path, pdf, SCHEMA)
    assert r["appended"] == 5
    assert any(
        issubclass(w.category, ResourceWarning) and "touches 5 series" in str(w.message)
        for w in rec
    )
    # Spark prepass path too
    monkeypatch.setattr(W, "_collect_exact", lambda batch: None)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        pdf2 = pdf.assign(time_ns=[20] * 5)
        r = W.write_points(spark, str(tmp_path / "m2"), spark.createDataFrame(pdf2, SCHEMA))
    assert r["appended"] == 5
    assert any(issubclass(w.category, ResourceWarning) for w in rec)


# -- driver commit: point-scale DataFrame and stream batches ---------------

POINTS = T.StructType(
    [
        T.StructField("series", T.StringType()),
        T.StructField("time_ns", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def _points_file(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    series, t, v, n = zip(*rows)
    pq.write_table(
        pa.table(
            {
                "series": pa.array(series),
                "time_ns": pa.array(t, pa.int64()),
                "v": pa.array(v, pa.float64()),
                "n": pa.array(n, pa.int64()),
            }
        ),
        path,
    )


def _stored(spark, path):
    from simple_tsdb_spark.sources.writer import data_root

    return sorted(
        (r["series"], r["time_ns"], r["v"], r["n"])
        for r in spark.read.parquet(data_root(path)).collect()
    )


class TestDriverCommit:
    """``write_points`` commits a point-scale DataFrame batch on the
    driver (one Arrow collect, at most one verify job, a pyarrow append)
    with the Spark body's semantics."""

    FILE1 = [("a", 10 * i, float(i), i) for i in range(1, 40)] + [
        ("b", 10 * i + 3, None, None) for i in range(1, 40)
    ]
    # replays the last 20 rows of FILE1 (series b's tail), then new points
    FILE2 = FILE1[-20:] + [("a", 1000 + i, 0.5, None) for i in range(10)] + [
        ("b", 1000 + i, 1.5, 7) for i in range(10)
    ]

    def _stream(self, spark, tmp_path, name, files, monkeypatch, mode="dedup"):
        """Feed ``files`` one trigger each through start_ingest; returns
        (measurement path, the commit counters of each batch, the Spark
        job ids each batch ran)."""
        from simple_tsdb_spark.sources.writer import write_points as write
        from simple_tsdb_spark.streaming import ingest, start_ingest

        src = tmp_path / f"{name}-in"
        src.mkdir()
        path = str(tmp_path / name)
        counters = []

        def recording(*a, **k):
            counters.append(write(*a, **k))
            return counters[-1]

        monkeypatch.setattr(ingest, "write_points", recording)
        q = start_ingest(
            spark.readStream.schema(POINTS).option("maxFilesPerTrigger", 1).parquet(str(src)),
            path, checkpoint_dir=str(tmp_path / f"{name}-ckpt"), mode=mode,
        )
        tracker, jobs = spark.sparkContext.statusTracker(), []
        try:
            for i, rows in enumerate(files):
                before = set(tracker.getJobIdsForGroup(str(q.runId)))
                _points_file(str(src / f"f{i}.parquet"), rows)
                q.processAllAvailable()
                jobs.append(set(tracker.getJobIdsForGroup(str(q.runId))) - before)
        finally:
            q.stop()
        return path, counters, jobs

    def test_stream_replay_matches_spark_body(self, spark, tmp_path, monkeypatch):
        from simple_tsdb_spark.sources import writer as W

        p_drv, c_drv, jobs = self._stream(
            spark, tmp_path, "drv", [self.FILE1, self.FILE2], monkeypatch
        )
        # the overlapping micro-batch: one collect plus one verify job
        assert 1 <= len(jobs[1]) <= 3, sorted(jobs[1])
        monkeypatch.setattr(W, "_collect_exact", lambda batch: None)
        p_spk, c_spk, jobs_spk = self._stream(
            spark, tmp_path, "spk", [self.FILE1, self.FILE2], monkeypatch
        )
        assert len(jobs_spk[1]) > 3  # the bracket tells the two commits apart
        assert c_drv == c_spk
        assert c_drv[1] == {
            "rows_in": 40, "dropped_below_watermark": 0, "dropped_overlap": 20, "appended": 20,
        }
        assert _stored(spark, p_drv) == _stored(spark, p_spk)
        assert len(_stored(spark, p_drv)) == 98

    def test_nullable_long_above_2_53_is_exact(self, spark, tmp_path, monkeypatch):
        big = 2**60 + 1  # float64 would round it to 2^60
        rows1 = [("a", 10, float("nan"), big), ("a", 20, None, None), ("a", 30, 1.0, 2**53 + 1)]
        rows2 = rows1[1:] + [("a", 40, 2.0, -big)]  # strict: the replay must verify equal
        path, counters, _ = self._stream(
            spark, tmp_path, "big", [rows1, rows2], monkeypatch, mode="strict"
        )
        assert counters[1]["dropped_overlap"] == 2 and counters[1]["appended"] == 1
        got = _stored(spark, path)
        assert [r[3] for r in got] == [big, None, 2**53 + 1, -big]
        assert math.isnan(got[0][2]) and got[1][2] is None

    def test_strict_errors_raised_by_driver_commit(self, spark, tmp_path, monkeypatch):
        from simple_tsdb_spark.sources import writer as W

        def no_spark_body(*a, **k):
            raise AssertionError("point-scale batch reached the Spark body")

        monkeypatch.setattr(W, "_write_points_body", no_spark_body)
        path = str(tmp_path / "m")

        def batch(rows):
            f = str(tmp_path / f"b{len(list(tmp_path.iterdir()))}.parquet")
            _points_file(f, rows)
            return spark.read.parquet(f)

        W.write_points(spark, path, batch([("a", 10, 1.0, 1), ("a", 20, 2.0, 2)]))
        with pytest.raises(OverwriteMismatch, match="series=a time_ns=20"):
            W.write_points(spark, path, batch([("a", 20, 2.0, 3)]))
        with pytest.raises(OutOfOrderTimestamps, match="series=a time_ns=15"):
            W.write_points(spark, path, batch([("a", 15, 1.5, 1), ("a", 20, 2.0, 2)]))
        r = W.write_points(spark, path, batch([("a", 20, 2.0, 2), ("a", 30, 3.0, None)]))
        assert r["dropped_overlap"] == 1 and r["appended"] == 1
        assert _stored(spark, path) == [("a", 10, 1.0, 1), ("a", 20, 2.0, 2), ("a", 30, 3.0, None)]

    def test_batch_over_row_cap_runs_spark_body_on_itself(self, spark, tmp_path, monkeypatch):
        """A batch whose plan estimate is tiny but whose rows pass the
        lane's cap: the collect stops one row past the cap, and the Spark
        body runs on the batch itself (its own pre-pass), not on a frame
        rebuilt from the collected rows."""
        from pyspark.sql import functions as F
        from simple_tsdb_spark.sources import writer as W

        monkeypatch.setattr(W, "_WAL_LANE_MAX_ROWS", 100)
        collected, prepass = [], []
        collect, pre = W._collect_exact, W._prepass_spark

        def spy_collect(batch):
            pdf = collect(batch)
            collected.append(len(pdf))
            return pdf

        def spy_prepass(*a, **k):
            prepass.append(1)
            return pre(*a, **k)

        monkeypatch.setattr(W, "_collect_exact", spy_collect)
        monkeypatch.setattr(W, "_prepass_spark", spy_prepass)
        batch = spark.range(1).select(
            F.lit("a").alias("series"),
            F.explode(F.sequence(F.lit(1), F.lit(500))).alias("time_ns"),
        ).select("series", F.col("time_ns").cast("long"), (F.col("time_ns") * 0.5).alias("v"))
        path = str(tmp_path / "m")
        r = W.write_points(spark, path, batch)
        assert collected == [101] and prepass == [1]
        assert r == {"rows_in": 500, "dropped_below_watermark": 0, "dropped_overlap": 0, "appended": 500}
        got = spark.read.parquet(path).orderBy("time_ns").collect()
        assert [(g["time_ns"], g["v"]) for g in got] == [(t, t * 0.5) for t in range(1, 501)]
