"""S4/S5 — validated ingest into a measurement table.

Reference semantics (``/root/reference/src/libtsdb/wal.cc:54-347``):

1. timestamps within a write must be strictly increasing per series —
   violation rejects the whole operation (wal.cc:63-68,
   OUT_OF_ORDER_TIMESTAMPS);
2. points below the series' ``time_first`` watermark (previously deleted
   region) are *silently dropped* (wal.cc:70-85);
3. a retransmit overlapping the committed tail must match the stored
   points exactly — same timestamps, values and null bitmaps — and is then
   a no-op for the overlapped part; any difference rejects the write
   (wal.cc:87-246);
4. the remainder (timestamps strictly after ``time_last``) is appended;
   the reference's WAL/commit/fsync machinery (write.cc:37-447) is
   replaced wholesale by the Parquet job-commit protocol plus Structured
   Streaming checkpoints.

Physical layout written here: Parquet partitioned by ``series``, sorted
within partitions by ``time_ns`` — row-group min/max stats on time_ns then
serve as the chunk index (SURVEY.md §1.4).

Two lanes run this one protocol:

* the **driver commit** (``write_points_pandas``) takes every point-scale
  batch: a DataFrame batch of at most ``_WAL_LANE_MAX_ROWS`` rows is
  collected once through Arrow (a limited collect enforces the cap),
  checked in pandas (steps 1-2), verified against the rows the store
  holds at its keys — fetched in one Spark job (see
  ``_verify_on_driver``), and only when the ``time_last`` sidecar cannot
  prove the batch a pure append (step 3) — and appended by the driver
  with pyarrow into the table's own partition directories (step 4, the
  "WAL lane").  A monotone batch costs no Spark job beyond its collect
  (a wire batch, already on the driver, none at all).
* the **Spark body** (``_write_points_body``) runs where only it can:
  batches over the row cap, non-local filesystems, the hashed-series
  layout and series names Spark escapes in partition directories.  There
  validation is expressed as joins/aggregations against only the *tail*
  of each touched series (time_ns ≥ min incoming timestamp), which
  partition- and stat-prunes to a sliver of the table; the append itself
  is partition-local.

Very high series cardinality (≥10⁵): the directory-per-series layout's
limit is partition *namespace* size — listings, dynamic-commit file moves
and per-directory writer churn all scale with #series.  ``write_points``
therefore supports a **hashed-series layout**: pass ``series_buckets=B``
on the first write and the table partitions by
``series_bucket = pmod(xxhash64(series), B)`` (× the optional
``time_bucket``) with ``series`` kept as a *data* column.  Directory
count becomes B × #time_buckets — independent of series cardinality —
while single-series queries still prune partitions (the bucket of a
literal constant-folds at plan time, see ``series_bucket_pred``) and
row groups sorted by (series, time_ns) keep min/max stat pruning.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from simple_tsdb_spark.operators.delete import RetentionWatermarks
from simple_tsdb_spark.sources.measurement import field_columns, validate_measurement


from simple_tsdb_spark.errors import OutOfOrderTimestamps, OverwriteMismatch

__all__ = [
    "write_points",
    "write_points_pandas",
    "TimeLastMarks",
    "compact_measurement",
    "series_bucket_expr",
    "series_bucket_pred",
    "OutOfOrderTimestamps",
    "OverwriteMismatch",
]


import re

# Series names that Spark writes as their literal partition-directory
# name (no %XX escaping) — lets the writer prove "no committed data"
# from a directory listing alone.
_PLAIN_SERIES_RE = re.compile(r"^[A-Za-z0-9_.\-]+$")


def series_bucket_expr(n_buckets: int, col: str = "series"):
    """The hashed-series partition value: ``pmod(xxhash64(series), B)``."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(int(n_buckets))).cast("int")


def series_bucket_pred(series, n_buckets: int):
    """Partition-pruning predicate for a series (or set of series) on a
    hashed-series layout.

    Built from *foldable* expressions (``pmod(xxhash64('s'), B)``), which
    Catalyst constant-folds during optimization — so the predicate lands
    in the scan's PartitionFilters and prunes directories without any
    driver-side hash computation or extra job."""
    names = [series] if isinstance(series, str) else list(series)
    pred = None
    for s in names:
        c = F.col("series_bucket") == F.pmod(
            F.xxhash64(F.lit(s)), F.lit(int(n_buckets))
        ).cast("int")
        pred = c if pred is None else (pred | c)
    return pred if pred is not None else F.lit(True)


class TimeLastMarks:
    """Per-series committed ``time_last`` sidecar — the reference keeps
    this in the per-series index metadata and checks incoming timestamps
    against it in memory (wal.cc:87-110) so the append-only fast path
    never touches stored data.  Advanced to the incoming batch max
    BEFORE the append publishes; see the crash-safety note at the call
    site.

    Like every measurement sidecar (layout, watermarks), this inherits
    the single-writer-per-measurement contract (DIVERGENCES #6; the
    wire server enforces it with a per-measurement lock) — two
    uncoordinated writer PROCESSES interleaving on one measurement
    could publish a stale snapshot and roll a mark backward."""

    def __init__(self, measurement_path: str):
        from simple_tsdb_spark.marks import MarkStore

        self._store = MarkStore(measurement_path, "time_last")
        # expose the store's mapping + path for existing call sites
        self.path = self._store.path
        self._fs = self._store._fs

    @property
    def _marks(self):
        return self._store._marks

    def get(self, series: str) -> int | None:
        """None = unknown (pre-sidecar data may exist → caller must
        verify against the store)."""
        return self._store._marks.get(series)

    def advance_many(self, highs: dict[str, int]) -> None:
        self._store._advance(highs, floor=0)


def _layout(measurement_path: str) -> dict:
    import json

    from simple_tsdb_spark.fs import get_fs

    p = f"{measurement_path}/_tsdb_meta/layout.json"
    fs = get_fs(p)
    if fs.exists(p):
        return json.loads(fs.read_text(p))
    return {}


def _save_layout(measurement_path: str, layout: dict) -> None:
    import json

    from simple_tsdb_spark.fs import get_fs

    p = f"{measurement_path}/_tsdb_meta/layout.json"
    get_fs(p).write_text_atomic(p, json.dumps(layout))


def data_root(measurement_path: str) -> str:
    """Resolve the measurement's active data directory.

    Data starts directly under the measurement path; ``compact_measurement``
    publishes each rewrite as a new immutable ``_gen_NNNNNN`` directory and
    flips the ``generation`` pointer in layout.json.  The flip is one
    small-file atomic publish — safe on local FS *and* object stores,
    unlike directory renames (on S3 a "rename" is an O(files) copy+delete
    and non-atomic).  All readers and writers resolve through this."""
    gen = _layout(measurement_path).get("generation")
    if gen:
        return f"{measurement_path}/_gen_{int(gen):06d}"
    return measurement_path


def write_points(
    spark: SparkSession,
    measurement_path: str,
    batch: DataFrame,
    *,
    mode: str = "strict",
    time_bucket_ns: int | None = None,
    series_buckets: int | None = None,
) -> dict[str, int]:
    """Validated append of ``batch`` (measurement-contract columns).

    ``mode='strict'`` raises on overlap mismatch (reference behavior);
    ``mode='dedup'`` drops any (series, time_ns) already stored without
    verifying values — the idempotent fast path for streaming retries.

    ``time_bucket_ns`` / ``series_buckets`` fix the physical layout on the
    FIRST write (recorded in layout.json; later writes follow it):
    ``series_buckets=B`` selects the hashed-series layout for very high
    series cardinality (see module docstring).

    A point-scale batch (at most ``_WAL_LANE_MAX_ROWS`` rows) is collected
    in ONE Arrow job — an empty batch ends there — and committed on the
    driver as ``write_points_pandas`` does: at most one more job, to
    verify an overlap with the committed tail.  Everything else runs the
    Spark body on the batch itself.

    Returns counters: rows_in, dropped_below_watermark, dropped_overlap,
    appended.
    """
    validate_measurement(batch)
    layout = _lane_layout(measurement_path, batch.schema, series_buckets)
    if layout is not None:
        # Point-scale by the lane's own row cap: the collect stops one row
        # past it, so a batch of any size costs the driver at most that.
        pdf = _collect_exact(batch.limit(_WAL_LANE_MAX_ROWS + 1))
        if pdf is not None and len(pdf) <= _WAL_LANE_MAX_ROWS:
            marks = RetentionWatermarks(measurement_path)
            stats, kept = _prepass_pandas(pdf, marks)
            if stats.n_after_wm == 0:
                return _below_watermark(stats)
            res = _try_wal_append_pandas(
                spark, measurement_path, kept, batch.schema, stats, marks, layout,
                mode=mode, time_bucket_ns=time_bucket_ns,
            )
            if res is not None:
                return res
    # over the cap, a NULL key, or a batch the lane declines
    fields = field_columns(batch)
    # Micro-batches run several validation actions (dup check, watermark
    # count, overlap checks, append count): cache the batch once so each
    # action reads memory, not the source.
    cached = batch = batch.persist()
    try:
        marks = RetentionWatermarks(measurement_path)
        stats, batch = _prepass_spark(spark, batch, marks)
        return _write_points_body(
            spark, measurement_path, batch, fields, stats, mode=mode,
            time_bucket_ns=time_bucket_ns, series_buckets=series_buckets,
        )
    finally:
        cached.unpersist()


def _collect_exact(batch: DataFrame):
    """``batch`` as a pandas frame, in ONE Arrow job and bit-exact: the
    field columns stay Arrow-backed, where ``toPandas`` would turn a
    nullable long into float64 (rounding values above 2^53) and fold NaN
    into NULL.  None when a key column holds NULL (the Spark body owns
    that case)."""
    import pandas as pd

    tbl = batch.toArrow()
    if tbl.column("series").null_count or tbl.column("time_ns").null_count:
        return None
    return pd.DataFrame({
        "series": tbl.column("series").to_pandas(),
        "time_ns": tbl.column("time_ns").to_numpy(),
        **{
            name: pd.arrays.ArrowExtensionArray(tbl.column(name))
            for name in tbl.column_names
            if name not in ("series", "time_ns")
        },
    })


def write_points_pandas(
    spark: SparkSession,
    measurement_path: str,
    pdf,
    spark_schema,
    *,
    mode: str = "strict",
    time_bucket_ns: int | None = None,
    series_buckets: int | None = None,
    wal_lane: bool = True,
) -> dict[str, int]:
    """The driver commit: ``write_points`` for a driver-resident pandas
    batch (the wire server's WRITE_POINTS path, and every point-scale
    DataFrame batch ``write_points`` collects).

    Semantics are identical to the Spark body — same checks, same errors,
    same counters, same stored rows.  Pass 1 (intra-batch ordering +
    watermark classification + counters) runs in pandas; the retransmit
    verify, when the ``time_last`` sidecar cannot rule an overlap out,
    costs one Spark job that fetches the stored rows at the batch's keys
    (``_verify_on_driver``); the append is the **WAL lane**: the driver
    writes the parquet files directly with pyarrow into the same
    partition layout — the analog of the reference absorbing small writes
    in its WAL before chunk-store fold-in (doc/WRITES.txt:1-16); here
    ``compact_measurement`` is the fold-in.  Readers need no union logic:
    the lane's files land in the table's own directories with identical
    schema/stats, so every query sees them immediately.

    Where the lane cannot serve the batch (``_lane_layout``,
    ``_try_wal_append_pandas``) it runs the Spark body on the batch;
    ``wal_lane=False`` forces that (used by the equivalence tests).
    Equivalence is pinned in test_ingest.
    """
    missing = [f.name for f in spark_schema.fields if f.name not in pdf.columns]
    if missing:
        raise ValueError(f"pandas batch missing measurement columns: {missing}")
    marks = RetentionWatermarks(measurement_path)
    stats, kept = _prepass_pandas(pdf, marks)
    fields = [f.name for f in spark_schema.fields if f.name not in ("series", "time_ns")]
    if stats.n_after_wm == 0:
        return _below_watermark(stats)
    layout = _lane_layout(measurement_path, spark_schema, series_buckets) if wal_lane else None
    if layout is not None:
        res = _try_wal_append_pandas(
            spark, measurement_path, kept, spark_schema, stats, marks, layout,
            mode=mode, time_bucket_ns=time_bucket_ns,
        )
        if res is not None:
            return res
    # createDataFrame maps pandas columns to the schema POSITIONALLY —
    # reindex so a caller's column order can never land values in the
    # wrong field.
    kept = kept[[f.name for f in spark_schema.fields]]
    batch = spark.createDataFrame(kept, schema=spark_schema)
    return _write_points_body(
        spark, measurement_path, batch, fields, stats, mode=mode,
        time_bucket_ns=time_bucket_ns, series_buckets=series_buckets,
        # A driver-resident batch is point-scale by definition (it came
        # through ≤10 MiB wire chunks): one task sorts and fans out to
        # the partition dirs — no shuffle.
        single_task_append=len(kept) <= 2_000_000,
    )


def _below_watermark(stats: "_PrePass") -> dict[str, int]:
    """The counters of a batch the retention watermark drops whole."""
    return {
        "rows_in": stats.n_in,
        "dropped_below_watermark": stats.n_in,
        "dropped_overlap": 0,
        "appended": 0,
    }


def _pa_type(dt):
    """Spark→Arrow type for the WAL lane's parquet files — must produce
    the same parquet physical/logical types Spark's own writer emits so
    the two lanes' files are indistinguishable to every reader.
    Returns None for anything unmapped (caller falls back to Spark)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    return None


_WAL_LANE_MAX_ROWS = 2_000_000


def _lane_layout(measurement_path: str, spark_schema, series_buckets: int | None) -> dict | None:
    """The measurement's layout when the WAL lane can append to it, else
    None — the checks that need no batch data, so ``write_points`` runs
    them before it collects and hands the layout down to the lane."""
    from simple_tsdb_spark.fs import LocalFS, get_fs

    if not isinstance(get_fs(measurement_path), LocalFS):
        return None  # object stores commit through the Spark committer
    layout = _layout(measurement_path)
    if layout.get("series_buckets") or (series_buckets and "series_buckets" not in layout):
        return None  # hashed layout: the lane does not reimplement xxhash64 bucketing
    if any(_pa_type(f.dataType) is None for f in spark_schema.fields if f.name != "series"):
        return None  # no Arrow twin of Spark's parquet type for some field
    return layout


def _try_wal_append_pandas(
    spark: SparkSession,
    measurement_path: str,
    kept,
    spark_schema,
    stats: "_PrePass",
    marks: RetentionWatermarks,
    layout: dict,
    *,
    mode: str,
    time_bucket_ns: int | None,
) -> dict[str, int] | None:
    """Steps 3-4 of the driver commit for a watermark-filtered batch:
    retransmit-verify on the driver when the batch may overlap committed
    data (``_verify_on_driver``, one Spark job), then pyarrow writes the
    remainder as time-sorted snappy parquet straight into the
    measurement's partition directories (tmp file + atomic rename per
    partition).  This is the reference's WAL absorbing small writes
    before chunk-store fold-in (doc/WRITES.txt:1-16, wal.cc:87-110);
    ``compact_measurement`` is the fold-in.  Returns None when the lane
    cannot serve the batch — the caller then runs the Spark body.
    ``layout`` is ``_lane_layout``'s (a local filesystem, the plain series
    layout, every field type mapped); the lane itself declines:

    * beyond ``_WAL_LANE_MAX_ROWS`` rows;
    * a series name Spark would %XX-escape in its partition directory;
    * a negative timestamp.

    The sidecar advances before the files publish, so a crash between
    the two errs high (safe direction, same order as the Spark body).
    """
    if len(kept) > _WAL_LANE_MAX_ROWS:
        return None  # beyond point scale: the Spark body's distributed append
    if not all(isinstance(s, str) and _PLAIN_SERIES_RE.match(s) for s in stats.per_series):
        return None  # the lane does not reimplement Spark's %XX partition-value escaping
    if any(lo < 0 for _s, (lo, _hi) in stats.per_series.items()):
        # negative time_ns: numpy floor-div and Spark's truncating %
        # would bucket differently — the Spark body owns that case
        return None

    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    probe = _StoreProbe(measurement_path, layout)
    dropped_overlap, stored_tls = 0, {}
    firsts = {s: lo for s, (lo, _hi) in stats.per_series.items()}
    verify = [s for s in probe.verify_series(stats) if s in probe.plain_dirs]
    if verify:
        kept, dropped_overlap, stored_tls, firsts = _verify_on_driver(
            spark, probe.root, kept, spark_schema, stats, verify, mode
        )
    if "time_bucket_ns" not in layout or "series_buckets" not in layout:
        layout.setdefault("time_bucket_ns", int(time_bucket_ns) if time_bucket_ns else None)
        layout.setdefault("series_buckets", None)
        _save_layout(measurement_path, layout)
    counters = {
        "rows_in": stats.n_in,
        "dropped_below_watermark": stats.n_in - stats.n_after_wm,
        "dropped_overlap": dropped_overlap,
        "appended": len(kept),
    }
    if not len(kept):
        return counters
    bucket_ns = layout.get("time_bucket_ns")
    # Sidecar advances BEFORE the files publish, to the max of the batch's
    # kept high and the verify's committed tail (see _write_points_body).
    probe.tl.advance_many(
        {s: max(hi, stored_tls.get(s, hi)) for s, (_lo, hi) in stats.per_series.items()}
    )
    pa_fields = [
        (f.name, _pa_type(f.dataType)) for f in spark_schema.fields if f.name != "series"
    ]
    schema = pa.schema(pa_fields)
    for series, g in kept.groupby("series", sort=False):
        g = g.sort_values("time_ns", kind="mergesort")
        if bucket_ns:
            tb = g["time_ns"].to_numpy() // int(bucket_ns) * int(bucket_ns)
            parts = [
                (f"series={series}/time_bucket={int(b)}", g[tb == b])
                for b in dict.fromkeys(tb.tolist())
            ]
        else:
            parts = [(f"series={series}", g)]
        for rel, gp in parts:
            tbl = pa.Table.from_arrays(
                [_arrow(gp[name], typ) for name, typ in pa_fields], schema=schema
            )
            d = f"{probe.root}/{rel}"
            os.makedirs(d, exist_ok=True)
            fname = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
            tmp = f"{d}/.{fname}.tmp"
            pq.write_table(tbl, tmp, compression="snappy")
            os.replace(tmp, f"{d}/{fname}")
    new_firsts = {s: int(t) for s, t in firsts.items() if s not in marks._marks}
    if new_firsts:
        marks.advance_many(new_firsts)
    return counters


def _arrow(col, typ):
    """A pandas column as one Arrow array of ``typ``: NaN in a numpy float
    column reads as NULL (the wire's encoding), an Arrow-backed column
    passes through as is."""
    import pyarrow as pa

    arr = pa.array(col, type=typ, from_pandas=True)
    return arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr


def _same(a, b):
    """Spark's null-safe equality ``<=>`` per row: NULL matches NULL, and
    NaN matches NaN (as in Spark's comparison of floating values)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    eq = pc.fill_null(pc.equal(a, b), False)
    if pa.types.is_floating(a.type):
        eq = pc.or_(eq, pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)), False))
    return pc.or_(eq, pc.and_(pc.is_null(a), pc.is_null(b))).to_numpy(zero_copy_only=False)


def _verify_on_driver(
    spark: SparkSession, root: str, kept, spark_schema, stats: "_PrePass",
    verify: list[str], mode: str,
):
    """The Spark body's pass 2 for a driver-resident batch: the same
    retransmit-verify, committed-``time_last`` ordering check, overlap
    split and tail fold-in, with the same errors and counters.

    One Spark job fetches what the checks need, from the partition
    directories of the ``verify`` series only (every other touched
    series is provably past its committed tail): their stored rows from
    the batch low to its high (a superset of the rows at its keys) plus
    each series' last row, every row carrying its series' committed tail
    max ``_tl``.  The tail is read in one task — ``coalesce(1)``
    satisfies the window's clustering, so no exchange and no second job
    — which is the point-scale trade: a batch that reaches far back into
    a long series reads that series' tail in one task.  Past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    verified series, Spark lists their directories in one more job.

    Returns (remainder to append, dropped_overlap, stored_tls, firsts)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    fields = [
        (f.name, _pa_type(f.dataType))
        for f in spark_schema.fields
        if f.name not in ("series", "time_ns")
    ]
    lo = min(stats.per_series[s][0] for s in verify)
    hi = max(stats.per_series[s][1] for s in verify)
    stored = (
        # the batch's schema is the measurement's: no schema-inference
        # job, and only the verified series' directories are listed
        spark.read.schema(spark_schema).option("basePath", root)
        .parquet(*[f"{root}/series={s}" for s in verify])
        .where(F.col("time_ns") >= lo)
    )
    st = (
        stored.select("series", "time_ns", *[n for n, _t in fields])
        .coalesce(1)
        .withColumn("_tl", F.max("time_ns").over(Window.partitionBy("series")))
        .where((F.col("time_ns") <= hi) | (F.col("time_ns") == F.col("_tl")))
        .toArrow()
    )
    st_keys = pd.DataFrame({
        "series": st.column("series").to_pandas(),
        "time_ns": st.column("time_ns").to_numpy(),
        "_srow": np.arange(st.num_rows),
    })
    # a series absent here has no committed point at or after lo
    stored_tls = dict(zip(st_keys["series"], st.column("_tl").to_numpy().tolist()))
    srow = kept[["series", "time_ns"]].merge(st_keys, on=["series", "time_ns"], how="left")
    srow = srow["_srow"].to_numpy()
    ov = ~np.isnan(srow)
    if mode == "strict" and fields and ov.any():
        bi = np.flatnonzero(ov)
        si = srow[ov].astype(np.int64)
        bad = np.zeros(len(bi), dtype=bool)
        for name, typ in fields:
            stored_v = st.column(name).take(si).combine_chunks().cast(typ)
            bad |= ~_same(_arrow(kept[name], typ).take(bi), stored_v)
        if bad.any():
            s, t = _first_per_series(kept.iloc[bi[bad]])
            raise OverwriteMismatch(
                f"retransmit differs from stored point at series={s} time_ns={t}"
            )
    if mode == "strict":
        # Reference additionally rejects *new* timestamps at or below
        # time_last (out-of-order vs the committed store) unless they are
        # exact retransmits; enforce per touched series.
        none = np.iinfo(np.int64).min
        tl = np.fromiter(
            (stored_tls.get(s, none) for s in kept["series"]), dtype=np.int64, count=len(kept)
        )
        stale = ~ov & (tl != none) & (kept["time_ns"].to_numpy() <= tl)
        if stale.any():
            s, t = _first_per_series(kept[stale])
            raise OutOfOrderTimestamps(
                f"new point not after committed time_last: series={s} time_ns={t}"
            )
    rest = kept[~ov]
    firsts = rest.groupby("series", sort=False)["time_ns"].min().to_dict()
    return rest, int(ov.sum()), stored_tls, firsts


def _first_per_series(rows) -> tuple[str, int]:
    """The (series, earliest time_ns) an error reports, of the first
    series in name order."""
    s = min(rows["series"])
    return s, int(rows.loc[rows["series"] == s, "time_ns"].min())


class _StoreProbe:
    """Committed-state probe shared by the Spark commit body and the
    driver-side WAL lane: resolves the data root, whether any committed
    data exists, the ``time_last`` sidecar, and (plain layout only) the
    set of series partition directories — enough to decide whether a
    batch is a provably-monotone append (no retransmit-verify needed,
    the reference's in-memory time_last short-circuit, wal.cc:87-110)."""

    def __init__(self, measurement_path: str, layout: dict):
        from simple_tsdb_spark.fs import get_fs

        self.root = data_root(measurement_path)
        self.fs = get_fs(self.root)
        entries = self.fs.listdir(self.root) if self.fs.isdir(self.root) else []
        self.exists = any(
            e.startswith(("series=", "series_bucket=")) for e in entries
        )
        self.tl = TimeLastMarks(measurement_path)
        # A series with no recorded time_last AND no partition directory
        # has no committed data — nothing to verify against.  The
        # directory test only applies to the plain series layout with
        # escape-free names (Spark %XX-escapes special chars in
        # partition values); anything else conservatively verifies.
        self.plain_dirs = (
            {e[len("series="):] for e in entries if e.startswith("series=")}
            if not layout.get("series_buckets")
            else None
        )

    def known_tl(self, s: str) -> int | None:
        v = self.tl.get(s)
        if v is not None:
            return v
        if (
            self.plain_dirs is not None
            and _PLAIN_SERIES_RE.match(s)
            and s not in self.plain_dirs
        ):
            return -1  # provably no committed data for this series
        return None

    def verify_series(self, stats: "_PrePass") -> list[str]:
        """The touched series whose kept low is not provably above their
        committed ``time_last`` — the only ones a retransmit-verify must
        read; a batch with none is a pure append."""
        if not self.exists:
            return []
        return [
            s for s, (s_lo, _s_hi) in stats.per_series.items()
            if (tl := self.known_tl(s)) is None or s_lo <= tl
        ]


# Tripwire for pathological batch width: write validation materializes
# one row per TOUCHED series on the driver (the reference keeps the same
# per-series state in memory, wal.cc).  A batch touching more series
# than this still commits, but warns — at ~10⁷ touched series the
# driver dict and the time_last sidecar rewrite become the bottleneck;
# split the batch or move the measurement to the hashed-series layout.
MAX_TOUCHED_SERIES = 1_000_000


def _guard_touched(n: int, where: str) -> None:
    if n > MAX_TOUCHED_SERIES:
        import warnings

        warnings.warn(
            f"write batch touches {n} series (> {MAX_TOUCHED_SERIES}); "
            f"per-series validation state at {where} is driver-resident — "
            "split the batch by series to bound driver memory",
            ResourceWarning,
            stacklevel=3,
        )


class _PrePass:
    """Pass-1 result: counters plus per-series kept (lo, hi) ranges."""

    __slots__ = ("n_in", "n_after_wm", "per_series")

    def __init__(self, n_in: int, n_after_wm: int, per_series: dict[str, tuple[int, int]]):
        self.n_in = n_in
        self.n_after_wm = n_after_wm
        self.per_series = per_series  # series -> (min kept ts, max kept ts)

    @property
    def lo(self) -> int | None:
        return min((t[0] for t in self.per_series.values()), default=None)

    @property
    def touched(self) -> list[str]:
        return list(self.per_series)


def _prepass_spark(
    spark: SparkSession, batch: DataFrame, marks: RetentionWatermarks
) -> tuple[_PrePass, DataFrame]:
    """Pass 1 as ONE grouped aggregate: fuses the intra-batch ordering
    check (duplicate (series, time_ns) ≙ non-increasing timestamp run,
    wal.cc:63-68), the retention-watermark classification (wal.cc:70-85),
    the row counters and the per-series kept time ranges — previously
    four separate actions; each action on a micro-batch is a full job
    with fixed scheduling latency, which dominated wire write throughput
    (SCALE.md "Wire server throughput").  Returns (stats,
    watermark-filtered batch)."""
    if marks._marks:
        wm_rows = [(s, t) for s, t in marks._marks.items()]
        wm = spark.createDataFrame(wm_rows, "series string, _wm long")
        pre = batch.join(F.broadcast(wm), "series", "left")
        below = F.col("_wm").isNotNull() & (F.col("time_ns") < F.col("_wm"))
    else:
        pre = batch
        below = F.lit(False)
    per_key = pre.groupBy("series", "time_ns").agg(
        F.count(F.lit(1)).alias("_c"),
        F.min(below.cast("int")).alias("_below"),  # constant within the key
    )
    rows = per_key.groupBy("series").agg(
        F.sum("_c").alias("_n_in"),
        F.min(F.when(F.col("_c") > 1, F.col("time_ns"))).alias("_dup_ts"),
        F.sum(F.when(F.col("_below") == 0, F.col("_c")).otherwise(F.lit(0))).alias("_n_keep"),
        F.min(F.when(F.col("_below") == 0, F.col("time_ns"))).alias("_lo"),
        F.max(F.when(F.col("_below") == 0, F.col("time_ns"))).alias("_hi"),
    ).collect()
    _guard_touched(len(rows), "_prepass_spark")
    for r in rows:
        if r["_dup_ts"] is not None:
            raise OutOfOrderTimestamps(
                f"duplicate timestamp in batch: series={r['series']} time_ns={r['_dup_ts']}"
            )
    stats = _PrePass(
        n_in=sum(r["_n_in"] for r in rows),
        n_after_wm=sum(r["_n_keep"] for r in rows),
        per_series={
            r["series"]: (r["_lo"], r["_hi"]) for r in rows if r["_lo"] is not None
        },
    )
    if marks._marks:
        batch = pre.where(~below).drop("_wm")
    return stats, batch


def _prepass_pandas(pdf, marks: RetentionWatermarks) -> tuple[_PrePass, object]:
    """Driver-side twin of ``_prepass_spark`` for pandas batches — no
    Spark job.  Returns (stats, watermark-filtered pandas frame)."""
    n_in = len(pdf)
    dup = pdf[pdf.duplicated(["series", "time_ns"], keep=False)]
    if len(dup):
        r = dup.iloc[0]
        raise OutOfOrderTimestamps(
            f"duplicate timestamp in batch: series={r['series']} time_ns={int(r['time_ns'])}"
        )
    kept = pdf
    if marks._marks:
        import numpy as np

        # int64 end to end — Series.map would yield float64 when any
        # series lacks a mark, rounding epoch-ns above 2^53 and
        # diverging from the Spark path's exact long comparison.
        wm_i = np.fromiter(
            (marks._marks.get(s, -1) for s in pdf["series"]),
            dtype=np.int64,
            count=len(pdf),
        )
        below = (wm_i >= 0) & (pdf["time_ns"].to_numpy() < wm_i)
        if below.any():
            kept = pdf[~below]
    per_series = {
        s: (int(g.min()), int(g.max()))
        for s, g in kept.groupby("series", sort=False)["time_ns"]
    }
    _guard_touched(len(per_series), "_prepass_pandas")
    return _PrePass(n_in=n_in, n_after_wm=len(kept), per_series=per_series), kept


def _write_points_body(
    spark: SparkSession,
    measurement_path: str,
    batch: DataFrame,
    fields: list[str],
    stats: _PrePass,
    *,
    mode: str,
    time_bucket_ns: int | None,
    series_buckets: int | None,
    single_task_append: bool = False,
) -> dict[str, int]:
    n_in, n_after_wm = stats.n_in, stats.n_after_wm
    lo, touched = stats.lo, stats.touched
    marks = RetentionWatermarks(measurement_path)

    layout = _layout(measurement_path)
    sbuckets_cur = layout.get("series_buckets")

    # --- Pass 2 (only when the batch can overlap committed data): ONE
    # joined aggregate fuses the retransmit-verify, overlap count,
    # committed-time_last ordering check, append count and per-series
    # first timestamps (previously four more actions).  The tail scan
    # prunes to time_ns ≥ lo AND the batch's touched series (partition
    # pruning on the series layout, series_bucket pruning on the hashed
    # layout).  The ``time_last`` sidecar (advanced BEFORE every append,
    # so it can only ever be too high — the safe direction) lets the
    # common monotone append skip this pass entirely: lo strictly above
    # every touched series' committed time_last means no overlap and no
    # stale point can exist, the reference's own in-memory time_last
    # short-circuit (wal.cc:87-110).
    dropped_overlap = 0
    n_append = n_after_wm
    firsts = {s: t[0] for s, t in stats.per_series.items()}
    stored_tls: dict[str, int] = {}
    probe = _StoreProbe(measurement_path, layout)
    root, tl = probe.root, probe.tl
    if probe.verify_series(stats):
        stored = spark.read.parquet(root).where(F.col("time_ns") >= lo)
        if touched and len(touched) <= 256:
            stored = stored.where(F.col("series").isin(touched))
            if sbuckets_cur:
                stored = stored.where(series_bucket_pred(touched, sbuckets_cur))
        stored_tail = stored.select("series", "time_ns", *fields)
        j = batch.join(
            stored_tail.select(
                F.col("series"),
                F.col("time_ns"),
                F.lit(1).alias("_ov"),
                *[F.col(f).alias(f"_stored_{f}") for f in fields],
            ),
            ["series", "time_ns"],
            "left",
        )
        tails = stored_tail.groupBy("series").agg(F.max("time_ns").alias("_tl"))
        j = j.join(F.broadcast(tails), "series", "left")
        is_ov = F.col("_ov").isNotNull()
        mismatch_cond = None
        if mode == "strict" and fields:
            for f in fields:
                c = ~F.col(f).eqNullSafe(F.col(f"_stored_{f}"))
                mismatch_cond = c if mismatch_cond is None else (mismatch_cond | c)
        stale_cond = (~is_ov) & F.col("_tl").isNotNull() & (F.col("time_ns") <= F.col("_tl"))
        aggs = [
            F.sum(F.when(is_ov, 1).otherwise(0)).alias("_n_ov"),
            F.sum(F.when(~is_ov, 1).otherwise(0)).alias("_n_app"),
            F.min(F.when(~is_ov, F.col("time_ns"))).alias("_first_ts"),
            F.min(F.when(stale_cond, F.col("time_ns"))).alias("_stale_ts"),
            F.max("_tl").alias("_tl"),  # committed tail max (constant per series)
        ]
        if mismatch_cond is not None:
            aggs.append(
                F.min(F.when(is_ov & mismatch_cond, F.col("time_ns"))).alias("_mm_ts")
            )
        res = j.groupBy("series").agg(*aggs).collect()
        _guard_touched(len(res), "retransmit-verify")
        if mismatch_cond is not None:
            for r in res:
                if r["_mm_ts"] is not None:
                    raise OverwriteMismatch(
                        f"retransmit differs from stored point at series={r['series']} "
                        f"time_ns={r['_mm_ts']}"
                    )
        if mode == "strict":
            # Reference additionally rejects *new* timestamps at or below
            # time_last (out-of-order vs the committed store) unless they
            # are exact retransmits; enforce per touched series.
            for r in res:
                if r["_stale_ts"] is not None:
                    raise OutOfOrderTimestamps(
                        f"new point not after committed time_last: series={r['series']} "
                        f"time_ns={r['_stale_ts']}"
                    )
        dropped_overlap = sum(r["_n_ov"] for r in res)
        n_append = sum(r["_n_app"] for r in res)
        firsts = {r["series"]: r["_first_ts"] for r in res if r["_first_ts"] is not None}
        # The verify scan revealed each series' true committed tail max
        # (every stored row ≥ lo was scanned, and any committed
        # time_last ≥ lo is in that set; a series absent from `tails`
        # has committed time_last < lo).  Fold it into the sidecar
        # advance so a first write over PRE-SIDECAR data can never
        # initialize time_last below the true committed value (which
        # would let a later write skip a needed verify).
        stored_tls = {r["series"]: r["_tl"] for r in res if r["_tl"] is not None}
        batch = batch.join(
            stored_tail.select("series", "time_ns"), ["series", "time_ns"], "left_anti"
        )

    # --- Pass 3: the append itself, partitioned by series (and
    # optionally a coarse time bucket: directory-level time pruning
    # before any footer is read — the first write fixes the layout,
    # later writes follow it).
    if "time_bucket_ns" not in layout or "series_buckets" not in layout:
        layout.setdefault("time_bucket_ns", int(time_bucket_ns) if time_bucket_ns else None)
        layout.setdefault("series_buckets", int(series_buckets) if series_buckets else None)
        _save_layout(measurement_path, layout)
    bucket_ns = layout.get("time_bucket_ns")
    sbuckets = layout.get("series_buckets")
    if n_append:
        # Advance time_last BEFORE publishing the append: a crash between
        # the two leaves the sidecar too high, which only costs a future
        # overlapping write its verify scan; too low would skip a needed
        # retransmit-verify (unsafe).  Each advance takes the max of the
        # batch's kept high AND the verify scan's committed tail, so a
        # first write over pre-sidecar data records the TRUE committed
        # time_last, never just the batch max.
        tl.advance_many(
            {
                s: max(t[1], stored_tls.get(s, t[1]))
                for s, t in stats.per_series.items()
            }
        )
        out = batch
        if sbuckets:
            # hashed-series layout: directory count independent of #series
            part_cols = ["series_bucket"]
            out = out.withColumn("series_bucket", series_bucket_expr(sbuckets))
            shuffle_cols, sort_cols = ["series_bucket"], ["series", "time_ns"]
        else:
            part_cols = ["series"]
            shuffle_cols, sort_cols = ["series"], ["time_ns"]
        if bucket_ns:
            out = out.withColumn(
                "time_bucket", F.col("time_ns") - (F.col("time_ns") % F.lit(int(bucket_ns)))
            )
            part_cols.append("time_bucket")
        if single_task_append:
            # Point-scale batch: one task, no shuffle; sorting by
            # (series, time_ns) keeps every partition dir's file
            # time-ordered.
            out = out.coalesce(1).sortWithinPartitions("series", "time_ns")
        else:
            out = out.repartition(*[F.col(c) for c in shuffle_cols]).sortWithinPartitions(
                *sort_cols
            )
        (
            out.write.mode("append")
            .partitionBy(*part_cols)
            .parquet(data_root(measurement_path))
        )
        # Record time_first for series seen for the first time (the
        # reference's time_first metadata file) so windowed reads can skip
        # the full-series min scan; retention deletes advance it later.
        # (firsts came free from the validation aggregates above; ONE
        # sidecar publish regardless of how many series the batch touches.)
        new_firsts = {
            s: int(m) for s, m in firsts.items() if s not in marks._marks
        }
        if new_firsts:
            marks.advance_many(new_firsts)
    return {
        "rows_in": n_in,
        "dropped_below_watermark": n_in - n_after_wm,
        "dropped_overlap": dropped_overlap,
        "appended": n_append,
    }


def compact_measurement(
    spark: SparkSession,
    measurement_path: str,
    *,
    target_rows_per_file: int = 4_000_000,
) -> None:
    """S5 analog — rewrite a measurement into few large, time-sorted files
    per series partition (the reference's chunk-fill + gzip compaction,
    write.cc:264-315; here: small-file control after many micro-batches).

    Preserves the measurement's partition layout exactly (series plus the
    coarse time_bucket when layout.json declares one), so post-compaction
    appends land in the same directory scheme.  The rewrite is published
    as a new generation directory + pointer flip (see ``data_root``) —
    write-new then flip, no directory renames, object-store safe; the
    previous generation is removed best-effort afterwards (in-flight
    readers of the old snapshot finish undisturbed on object stores,
    where deletes only hide future LISTs)."""
    from simple_tsdb_spark.fs import get_fs

    fs = get_fs(measurement_path)
    layout = _layout(measurement_path)
    src = data_root(measurement_path)
    df = spark.read.parquet(src)
    fields = field_columns(df)
    sbuckets = layout.get("series_buckets")
    if sbuckets:
        part_cols = ["series_bucket"]
        if "series_bucket" not in df.columns:
            df = df.withColumn("series_bucket", series_bucket_expr(sbuckets))
        shuffle_cols, sort_cols = ["series_bucket"], ["series", "time_ns"]
    else:
        part_cols = ["series"]
        shuffle_cols, sort_cols = ["series"], ["time_ns"]
    bucket_ns = layout.get("time_bucket_ns")
    if bucket_ns:
        if "time_bucket" not in df.columns:
            df = df.withColumn(
                "time_bucket", F.col("time_ns") - (F.col("time_ns") % F.lit(int(bucket_ns)))
            )
        part_cols.append("time_bucket")
    data_cols = (["series"] if sbuckets else []) + ["time_ns", *fields]
    new_gen = int(layout.get("generation") or 0) + 1
    dst = f"{measurement_path}/_gen_{new_gen:06d}"
    (
        df.repartition(*[F.col(c) for c in shuffle_cols])
        .sortWithinPartitions(*sort_cols)
        .select(*part_cols, *data_cols)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_file)
        .partitionBy(*part_cols)
        .parquet(dst)
    )
    layout["generation"] = new_gen
    _save_layout(measurement_path, layout)  # the atomic flip
    # Best-effort cleanup of the superseded generation's data files.
    if src == measurement_path:
        for e in fs.listdir(measurement_path):
            if e.startswith(("series=", "series_bucket=")):
                fs.remove_tree(f"{measurement_path}/{e}")
    else:
        fs.remove_tree(src)
