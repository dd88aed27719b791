"""A2/A3/W4 — tumbling-window aggregation with empty-bucket emission.

Reference (``/root/reference/src/libtsdb/sum_op.cc``): windows of
``window_ns`` aligned to epoch multiples; the first emitted window starts at

    t0_aligned = MAX(round_up(t0, w), round_down(time_first, w))   (sum_op.cc:9-11)

where ``time_first`` is the series' live-range start.  Windows are emitted
consecutively — *including empty ones* — up to and including the window
containing the last point ≤ t1 (sum_op.cc:108-111; the trailing window is
only emitted if non-empty, sum_op.cc:279-281).  Per window and per field it
yields sum (as f64), min, max and the non-null count (nulls skipped,
sum_op.cc:113-116).  MEAN (A3) is sum/count client-side
(``src/tsdbcli2/main.cc:203-238``); the min/max downsample band (W4) is the
same aggregate shaped for plotting
(``grafana/.../pkg/plugin/datasource.go:384-441``).

Spark-first plan:
1. one broadcast-joined per-series scalar (``time_first``) — tiny;
2. one hash aggregation of the range-filtered data on (series, bucket) —
   the only real shuffle, with map-side partial aggregation;
3. a generated bucket *spine* left-joined to re-introduce empty buckets —
   spine rows ≈ range/window per series, produced distributed and CHUNKED
   (coarse block explode → repartition → fine offset explode) so no single
   row ever materializes the whole range as one array.

At 100 TB: (2) is a standard partial-agg shuffle keyed (series, bucket) —
no skew beyond series skew itself (AQE skew-split covers that); (1) and the
spine stay broadcast-sized as long as series-count × buckets is modest; if
a query asks for millions of buckets × millions of series, the spine join
flips to a shuffle join automatically (it's a plain equi-join).

Float determinism: ``exact=True`` switches SUM to exact decimal
accumulation (cast to DECIMAL(28,6)) so results are bit-identical across
engines/partitionings — used by the oracle-checked driver queries; the
default double path is faster and idiomatic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from simple_tsdb_spark.functions.timeutil import clamp_time_range, round_up_ns
from simple_tsdb_spark.sources.measurement import field_columns


# Buckets per spine block: the fine explode materializes at most this many
# elements in one array (512 KiB of longs), so no row ever holds the whole
# range; the coarse explode breaks only beyond ~2^47 buckets (unphysical).
_SPINE_BLOCK = 1 << 16


def _series_filter(df: DataFrame, series: str | Sequence[str] | None) -> DataFrame:
    if series is None:
        return df
    if isinstance(series, str):
        return df.where(F.col("series") == series)
    return df.where(F.col("series").isin(list(series)))


def _bucket(col: F.Column, w: int) -> F.Column:
    # Integer bucket math (no doubles: time_ns exceeds 2^53).  Non-negative
    # timestamps so truncation == floor.
    return col - (col % F.lit(int(w)))


def sum_points(
    df: DataFrame,
    *,
    fields: Sequence[str] | None = None,
    series: str | Sequence[str] | None = None,
    t0: int = 0,
    t1: int = 2**63 - 1,
    window_ns: int,
    emit_empty: bool = True,
    exact: bool = False,
    time_first: dict[str, int] | None = None,
    decimal_sums: bool = False,
    sort: bool = True,
) -> DataFrame:
    """A2 — per (series, window) sum/min/max/non-null-count for each field.

    ``decimal_sums`` (with ``exact``) keeps the sums as DECIMAL(28,6)
    instead of casting to double — for materialized rollups, whose
    partial sums must re-aggregate exactly (decimal addition is
    associative; re-summing double partials is not bit-stable).

    Output columns: series, wstart (window start, ns), window_npoints, and
    per field ``{f}_sum, {f}_min, {f}_max, {f}_count``.  Empty windows have
    count 0 and NULL sum/min/max (the reference's client renders them nil).

    ``sort=False`` skips the final presentation ``orderBy`` — for
    composing callers (materialized rollups, the hybrid read's union
    legs) that immediately repartition or re-sort the result, where the
    inner global sort is a wasted range-partition exchange + sort at
    every scale (guide §2.4: an orderBy used only for presentation).
    Row content is identical either way.

    ``time_first``: known per-series live-range starts (the reference's
    ``time_first`` metadata file; our writer records them in the
    measurement sidecar).  Hinted series skip the full-series min scan
    that otherwise computes the window-alignment anchor — at 100 TB that
    scan touches every row group of the series while the query range may
    touch a sliver.  Series missing from the hint fall back to the scan
    (never silently dropped); with an explicit ``series`` list the
    fallback prunes to just the missing names.
    """
    t0, t1 = clamp_time_range(t0, t1)
    w = int(window_ns)
    if w <= 0:
        raise ValueError("window_ns must be positive")
    if fields is None or len(fields) == 0:
        fields = field_columns(df)
    src = _series_filter(df, series)

    # Per-series live-range start (min over the whole series, not the range)
    # — the reference reads this from its time_first metadata file.  A
    # PARTIAL hint never drops series: hinted series skip the min scan,
    # any uncovered series falls back to computing it.
    if time_first:
        spark = df.sparkSession
        hint = spark.createDataFrame(
            [(s, int(t)) for s, t in time_first.items()], "series string, _tf long"
        )
        if series is not None:
            wanted = [series] if isinstance(series, str) else list(series)
            missing = [s for s in wanted if s not in time_first]
            if missing:
                # isin filter → partition/row-group pruned to those series
                mins = (
                    _series_filter(src, missing)
                    .groupBy("series")
                    .agg(F.min("time_ns").alias("_tf"))
                )
                tf = hint.unionByName(mins)
            else:
                tf = hint
        else:
            # Unknown series universe: series outside the hint get a
            # min-scan fallback (anti-join) — the scan prunes to
            # (series, time_ns) but cannot partition-prune; pass the
            # series list when the hint is known-complete to skip it.
            rest = (
                src.select("series", "time_ns")
                .join(F.broadcast(hint.select("series")), "series", "left_anti")
                .groupBy("series")
                .agg(F.min("time_ns").alias("_tf"))
            )
            tf = hint.unionByName(rest)
    else:
        tf = src.groupBy("series").agg(F.min("time_ns").alias("_tf"))
    t0a = F.greatest(F.lit(round_up_ns(t0, w)), _bucket(F.col("_tf"), w)).alias("_t0a")
    starts = tf.select("series", t0a)

    data = (
        src.join(F.broadcast(starts), "series")
        .where((F.col("time_ns") >= F.col("_t0a")) & (F.col("time_ns") <= F.lit(t1)))
        .withColumn("wstart", _bucket(F.col("time_ns"), w))
    )

    aggs: list[F.Column] = [F.count(F.lit(1)).alias("window_npoints")]
    dtypes = dict(df.dtypes)
    for f in fields:
        col = F.col(f)
        if exact:
            # Full-range u64 (decimal(20,0)) fields accumulate in
            # decimal(38,0) — decimal(28,6) would overflow near 2^64·n.
            acc = "decimal(38,0)" if dtypes.get(f, "").startswith("decimal") else "decimal(28,6)"
            sum_expr = F.sum(col.cast(acc))
            if not decimal_sums:
                sum_expr = sum_expr.cast("double")
            else:
                sum_expr = sum_expr.cast(acc)  # stable width for storage
        else:
            sum_expr = F.sum(col.cast("double"))
        aggs += [
            sum_expr.alias(f"{f}_sum"),
            F.min(col).alias(f"{f}_min"),
            F.max(col).alias(f"{f}_max"),
            F.count(col).alias(f"{f}_count"),
        ]
    agg = data.groupBy("series", "wstart").agg(*aggs)

    if not emit_empty:
        return agg.orderBy("series", "wstart") if sort else agg

    # Bucket spine: every aligned window from t0_aligned through the last
    # non-empty bucket.  Generated CHUNKED — a coarse explode into blocks
    # of <= _SPINE_BLOCK buckets, a repartition on (series, block) to
    # spread the blocks across executors, then a fine explode of the
    # offsets within each block.  A single sequence() would materialize
    # the whole range as ONE array in ONE row: a 10-year series summed at
    # 1-second windows is ~3.15e8 buckets, over Spark's
    # MAX_ROUNDED_ARRAY_LENGTH cap and a multi-GB row long before that.
    # The reference streams empty buckets at any window width
    # (sum_op.cc:78-111); the chunked spine keeps that property while
    # staying fully distributed.  Both _first and _last are w-aligned, so
    # `div` is exact.  The extra repartition shuffles only block-header
    # rows (nbuckets / 2^16 of them) — negligible at any scale.
    bounds = data.groupBy("series").agg(
        F.first("_t0a").alias("_first"), F.max("wstart").alias("_last")
    )
    blk = _SPINE_BLOCK
    coarse = bounds.withColumn(
        "_nbk", F.expr(f"(_last - _first) div {w}")
    ).withColumn(
        "_blk",
        F.explode(F.sequence(F.lit(0).cast("long"), F.expr(f"(_last - _first) div {w} div {blk}"))),
    )
    fine = coarse.repartition(F.col("series"), F.col("_blk")).withColumn(
        "_off",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.least(
                    F.lit(blk - 1).cast("long"),
                    F.col("_nbk") - F.col("_blk") * F.lit(blk),
                ),
            )
        ),
    )
    spine = fine.select(
        "series",
        (
            F.col("_first")
            + (F.col("_blk") * F.lit(blk) + F.col("_off")) * F.lit(w)
        ).alias("wstart"),
    )
    out = spine.join(agg, ["series", "wstart"], "left").withColumn(
        "window_npoints", F.coalesce(F.col("window_npoints"), F.lit(0))
    )
    for f in fields:
        out = out.withColumn(f"{f}_count", F.coalesce(F.col(f"{f}_count"), F.lit(0)))
    return out.orderBy("series", "wstart") if sort else out


def mean_points(
    df: DataFrame,
    *,
    fields: Sequence[str] | None = None,
    series: str | Sequence[str] | None = None,
    t0: int = 0,
    t1: int = 2**63 - 1,
    window_ns: int,
    emit_empty: bool = True,
    exact: bool = False,
    time_first: dict[str, int] | None = None,
) -> DataFrame:
    """A3 — windowed MEAN: sum/count per window, NULL when count == 0.

    Matches the client-side derivation (``main.cc:203-238``,
    ``client.py:1103-1120``): mean over the *non-null* points of the window.
    """
    if fields is None or len(fields) == 0:
        fields = field_columns(df)
    out = sum_points(
        df,
        fields=fields,
        series=series,
        t0=t0,
        t1=t1,
        window_ns=window_ns,
        emit_empty=emit_empty,
        exact=exact,
        time_first=time_first,
    )
    keep = ["series", "wstart", "window_npoints"]
    for f in fields:
        out = out.withColumn(
            f"{f}_mean",
            F.when(F.col(f"{f}_count") > 0, F.col(f"{f}_sum") / F.col(f"{f}_count")),
        )
        keep.append(f"{f}_mean")
    return out.select(*keep)


def hopping_mean(
    df: DataFrame,
    *,
    field: str,
    series: str | Sequence[str] | None = None,
    t0: int = 0,
    t1: int = 2**63 - 1,
    window_ns: int,
    slide_ns: int,
) -> DataFrame:
    """Hopping (sliding) window aggregate: windows of ``window_ns`` every
    ``slide_ns`` — the overlapping-window generalization of A2's tumbling
    buckets (dashboards' smoothed rates, SLO burn windows).  Emits every
    window containing ≥1 in-range point: ``npoints``, non-null count,
    min/max and the mean.

    Float determinism: the sum accumulates in DECIMAL(28,6) (exact,
    order-independent) and is cast to double ONCE; the mean is a single
    IEEE division of that double by the BIGINT count — the A2/A3 recipe.

    Scale: each point replicates to ``window/slide`` windows (here the
    explode), then ONE shuffle keyed (series, wstart) with map-side
    partial aggregation — fan-out is the fixed overlap factor, never
    data-dependent.  No window function, no per-series serialization.
    """
    if window_ns % slide_ns != 0:
        raise ValueError("window_ns must be a multiple of slide_ns")
    src = df.where(F.col("time_ns").between(t0, t1))
    if series is not None:
        if isinstance(series, str):
            src = src.where(F.col("series") == series)
        else:
            src = src.where(F.col("series").isin(list(series)))
    s = int(slide_ns)
    w = int(window_ns)
    hi = F.col("time_ns") - (F.col("time_ns") % F.lit(s))
    exploded = src.select(
        "series",
        F.col(field).alias("_v"),
        F.explode(F.sequence(hi - F.lit(w - s), hi, F.lit(s))).alias("wstart"),
    )
    cnt = F.count("_v")
    mean = F.when(
        cnt > 0, F.sum(F.col("_v").cast("decimal(28,6)")).cast("double") / cnt
    )
    return (
        exploded.groupBy("series", "wstart")
        .agg(
            F.count(F.lit(1)).alias("npoints"),
            cnt.alias(f"{field}_count"),
            F.min("_v").alias(f"{field}_min"),
            F.max("_v").alias(f"{field}_max"),
            mean.alias(f"{field}_mean"),
        )
        .orderBy("series", "wstart")
    )


def auto_downsample(
    df: DataFrame,
    *,
    field: str,
    series: str | Sequence[str] | None = None,
    t0: int = 0,
    t1: int = 2**63 - 1,
    interval_ns: int,
    max_points: int,
    minmax: bool = False,
    exact: bool = False,
) -> DataFrame:
    """W5 — the Grafana auto-downsample policy (datasource.go:226-249):
    if the range holds more than ``max_points`` points, aggregate with
    ``window = interval_ns`` (mean, or min/max band when ``minmax``);
    otherwise return the raw points.

    The count probe is a metadata-cheap action (A1); the decision is
    driver-side policy, exactly as in the reference's plugin.
    """
    from simple_tsdb_spark.operators.count import count_points
    from simple_tsdb_spark.operators.select import select_points

    n = count_points(df, series=series, t0=t0, t1=t1, per_series=False).first()["npoints"]
    if n <= max_points:
        return select_points(df, series=series, fields=[field], t0=t0, t1=t1)
    if minmax:
        return minmax_downsample(
            df, field=field, series=series, t0=t0, t1=t1, window_ns=interval_ns, exact=exact
        )
    return mean_points(
        df, fields=[field], series=series, t0=t0, t1=t1, window_ns=interval_ns, exact=exact
    )


def minmax_downsample(
    df: DataFrame,
    *,
    field: str,
    series: str | Sequence[str] | None = None,
    t0: int = 0,
    t1: int = 2**63 - 1,
    window_ns: int,
    exact: bool = False,
) -> DataFrame:
    """W4 — min/max band downsample of one field.

    Per non-empty window emits three rows (stat ∈ min/max/mean) so a plot
    gets the envelope plus a central tendency point, matching the Grafana
    MaxMin path (``datasource.go:384-441``).  Unpivot via ``stack`` — no
    extra shuffle beyond the A2 aggregate.
    """
    agg = sum_points(
        df,
        fields=[field],
        series=series,
        t0=t0,
        t1=t1,
        window_ns=window_ns,
        emit_empty=False,
        exact=exact,
    )
    mean = F.when(F.col(f"{field}_count") > 0, F.col(f"{field}_sum") / F.col(f"{field}_count"))
    return (
        agg.withColumn("_mean", mean)
        .select(
            "series",
            "wstart",
            F.expr(
                f"stack(3, 'min', cast({field}_min as double), "
                f"'max', cast({field}_max as double), "
                f"'mean', _mean) as (stat, value)"
            ),
        )
        .where(F.col("value").isNotNull())
        .orderBy("series", "wstart", "stat")
    )


def lttb_downsample(
    df: DataFrame,
    *,
    field: str,
    n_out: int,
    t0: int = 0,
    t1: int = 2**63 - 1,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013) —
    the canonical shape-preserving visual downsample (what Grafana's
    LTTB mode computes): keep the first and last point per series;
    split the interior into ``n_out − 2`` equal-count buckets; for each
    bucket keep the point forming the largest triangle with the
    PREVIOUSLY KEPT point and the NEXT bucket's average point.

    Output (series, time_ns, field) — ≤ n_out rows per series, in time
    order.  NULL field rows are dropped first (area needs a value).
    Determinism: the triangle area is quantized to 9 decimals and ties
    fall to the earliest time, so the selection is engine-portable; the
    recursive-CTE oracle replicates the identical arithmetic.

    At 100 TB: the selection is sequential per series BY DEFINITION
    (each pick depends on the previous pick), so the operator ships one
    series per task (``applyInPandas``, the ewma/holt shape) — the
    right trade for its use case: rendering windows, not full-history
    scans.  For the non-sequential alternative use
    ``minmax_downsample`` (two points per bucket, embarrassingly
    parallel).
    """
    import numpy as np
    import pandas as pd  # noqa: F401 (worker-side)

    n = int(n_out)
    if n < 3:
        raise ValueError("n_out must be ≥ 3")
    schema = f"series string, time_ns long, {field} double"

    def per_series(pdf):
        pdf = pdf.sort_values("time_ns").reset_index(drop=True)
        m = len(pdf)
        if m <= n:
            return pdf
        ts = pdf["time_ns"].to_numpy(dtype=np.float64)
        vs = pdf[field].to_numpy(dtype=np.float64)
        nb = n - 2
        # interior (0-based) index i ∈ [1, m-2] lands in bucket
        # ((i-1)·nb) // (m-2) — the multiplicative form both engines
        # compute identically (closed form, no edge array)
        edges = [1] * (nb + 1)
        for i in range(1, m - 1):
            b = ((i - 1) * nb) // (m - 2)
            edges[b + 1] = i + 1  # one past the bucket's last index
        keep = [0]
        prev = 0
        for b in range(nb):
            lo, hi = edges[b], edges[b + 1]
            nlo, nhi = (edges[b + 1], edges[b + 2]) if b + 1 < nb else (m - 1, m)
            ax, ay = ts[prev], vs[prev]
            # sequential (index-order) mean — np.mean switches to
            # pairwise summation on big buckets, which the SQL oracle
            # could not replicate
            sx = sy = 0.0
            for j in range(nlo, nhi):
                sx += ts[j]
                sy += vs[j]
            cx = sx / (nhi - nlo)
            cy = sy / (nhi - nlo)
            best, best_area = lo, -1.0
            for i in range(lo, hi):
                # unrounded: the Python and DuckDB sides perform the
                # same IEEE ops in the same order, so areas compare
                # bit-identically (a round() pair here is the known
                # cross-engine boundary divergence)
                area = abs(
                    (ax - cx) * (vs[i] - ay) - (ax - ts[i]) * (cy - ay)
                )
                if area > best_area:
                    best, best_area = i, area
            keep.append(best)
            prev = best
        keep.append(m - 1)
        return pdf.iloc[keep]

    return (
        df.select("series", "time_ns", F.col(field).cast("double").alias(field))
        .where(
            (F.col("time_ns") >= t0)
            & (F.col("time_ns") <= t1)
            & F.col(field).isNotNull()
        )
        .groupBy("series")
        .applyInPandas(per_series, schema=schema)
    )


def lttb_downsample_oracle(
    measurement_sql: str, *, field: str, n_out: int
) -> str:
    """Recursive-CTE twin of ``lttb_downsample``: the sequential pick
    chain runs as one recursion over buckets, each step choosing the
    max-area point (unrounded area, earliest-time tiebreak) —
    identical arithmetic and bucket formula to the operator."""
    n = int(n_out)
    nb = n - 2
    return f"""
WITH RECURSIVE ord AS (
  SELECT series, time_ns, CAST({field} AS DOUBLE) AS v,
         ROW_NUMBER() OVER (PARTITION BY series ORDER BY time_ns) AS rn,
         COUNT(*) OVER (PARTITION BY series) AS m
  FROM ({measurement_sql}) WHERE {field} IS NOT NULL),
interior AS (
  SELECT series, rn, time_ns, v, m,
         ((rn - 2) * {nb}) // (m - 2) AS b
  FROM ord WHERE rn > 1 AND rn < m AND m > {n}),
bavg AS (
  SELECT series, b,
         list_reduce(list(CAST(time_ns AS DOUBLE) ORDER BY rn), (a, x) -> a + x)
           / COUNT(*) AS cx,
         list_reduce(list(v ORDER BY rn), (a, x) -> a + x) / COUNT(*) AS cy
  FROM interior GROUP BY series, b),
lastp AS (SELECT series, CAST(time_ns AS DOUBLE) AS cx, v AS cy FROM ord WHERE rn = m),
navg AS (
  SELECT i.series, i.b,
         COALESCE(ba.cx, lp.cx) AS cx, COALESCE(ba.cy, lp.cy) AS cy
  FROM (SELECT DISTINCT series, b FROM interior) i
  LEFT JOIN bavg ba ON ba.series = i.series AND ba.b = i.b + 1
  JOIN lastp lp ON lp.series = i.series),
rec AS (
  SELECT series, CAST(-1 AS BIGINT) AS b, rn, CAST(time_ns AS DOUBLE) AS ax, v AS ay
  FROM ord WHERE rn = 1 AND m > {n}
  UNION ALL
  SELECT series, b, rn, ax, ay FROM (
    SELECT i.series, i.b, i.rn, CAST(i.time_ns AS DOUBLE) AS ax, i.v AS ay,
           ROW_NUMBER() OVER (
             PARTITION BY i.series
             ORDER BY abs((r.ax - n.cx) * (i.v - r.ay)
                          - (r.ax - CAST(i.time_ns AS DOUBLE)) * (n.cy - r.ay)) DESC,
                      i.rn ASC) AS _pick
    FROM rec r
    JOIN interior i ON i.series = r.series AND i.b = r.b + 1
    JOIN navg n ON n.series = i.series AND n.b = i.b)
  WHERE _pick = 1)
SELECT series, time_ns, {field} FROM (
  SELECT series, time_ns, v AS {field} FROM ord WHERE m <= {n}
  UNION ALL
  SELECT series, time_ns, v AS {field} FROM ord WHERE m > {n} AND (rn = 1 OR rn = m)
  UNION ALL
  SELECT o.series, o.time_ns, o.v AS {field}
  FROM rec r JOIN ord o ON o.series = r.series AND o.rn = r.rn
  WHERE r.b >= 0)
"""


def quantile_points(
    df: DataFrame,
    *,
    field: str,
    window_ns: int,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
    t0: int = 0,
    t1: int = 2**63 - 1,
) -> DataFrame:
    """Windowed latency percentiles per series — the SLO readout: for
    each (series, aligned window), the exact continuous quantiles of
    ``field`` at ``probs`` (columns ``p50``/``p90``/… from the prob ×
    100, trailing zeros trimmed).  NULL values skipped; empty windows
    absent (join against ``sum_points(emit_empty=True)`` for a spine).

    Exact by design: ``percentile``/``quantile_cont`` interpolate
    identically in both engines (verified bit-level for arbitrary
    probs), so the result hash-matches with NO rounding — except where
    the two ranks around the position hold the same value: Spark returns
    that value, and the DuckDB twin picks it explicitly to match.  At 100 TB the
    exact quantile buffers each (series, window) group's values — the
    deliberate price (use ``approx_quantiles`` to pre-screen at extreme
    per-window cardinality); one shuffle keyed (series, window).
    """
    w = int(window_ns)
    if w <= 0:
        raise ValueError("window_ns must be positive")
    ps = [float(p) for p in probs]
    if any(not 0.0 <= p <= 1.0 for p in ps):
        raise ValueError("probs must be in [0, 1]")
    src = df.where(
        (F.col("time_ns") >= t0) & (F.col("time_ns") <= t1) & F.col(field).isNotNull()
    ).withColumn("wstart", _bucket(F.col("time_ns"), w))
    arr = ", ".join(repr(p) for p in ps)
    agg = src.groupBy("series", "wstart").agg(
        F.expr(f"percentile(CAST({field} AS DOUBLE), array({arr}))").alias("_q"),
        F.count(F.lit(1)).alias("npoints"),
    )
    cols = [F.col("_q")[i].alias(quantile_col_name(p)) for i, p in enumerate(ps)]
    return agg.select("series", "wstart", "npoints", *cols).orderBy("series", "wstart")


def quantile_col_name(p: float) -> str:
    """0.5 → p50, 0.99 → p99, 0.999 → p99_9 (column-name safe)."""
    s = f"{p * 100:.6f}".rstrip("0").rstrip(".")
    return "p" + s.replace(".", "_")


def quantile_points_oracle(
    measurement_sql: str,
    *,
    field: str,
    window_ns: int,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
) -> str:
    w = int(window_ns)
    ps = [float(p) for p in probs]
    arr = ", ".join(repr(p) for p in ps)
    # Spark's ``percentile`` returns the value itself when the floor and
    # ceiling ranks of the position (n-1)·p hold the same value; DuckDB's
    # ``quantile_cont`` interpolates it anyway (0.8·x + 0.2·x can miss x
    # by an ulp).  Elsewhere the two interpolate identically.
    ranks = lambda rnd, p: f"CAST({rnd}((npoints - 1) * CAST({p!r} AS DOUBLE)) AS BIGINT) + 1"
    cols = ",\n       ".join(
        f"CASE WHEN _s[{ranks('floor', p)}] = _s[{ranks('ceil', p)}] "
        f"THEN _s[{ranks('floor', p)}] ELSE _q[{i + 1}] END AS {quantile_col_name(p)}"
        for i, p in enumerate(ps)
    )
    return f"""
WITH m AS ({measurement_sql}),
src AS (
  SELECT series, time_ns - (time_ns % {w}) AS wstart, CAST({field} AS DOUBLE) AS v
  FROM m WHERE {field} IS NOT NULL),
agg AS (
  SELECT series, wstart, quantile_cont(v, [{arr}]) AS _q, list_sort(list(v)) AS _s,
         COUNT(*) AS npoints
  FROM src GROUP BY series, wstart)
SELECT series, wstart, npoints,
       {cols}
FROM agg
"""
