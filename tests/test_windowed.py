"""A2/A3/W4 — windowed aggregation vs an independent Python model of the
reference semantics (``sum_op_test.cc:45-132`` shapes: window_ns=100 over
the canonical fixture, gap windows with window_ns=5, empty-bucket
emission, alignment rule)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from simple_tsdb_spark.operators import sum_points, mean_points, minmax_downsample


def model_sum(pdf: pd.DataFrame, field: str, t0: int, t1: int, w: int) -> pd.DataFrame:
    """Direct transcription of sum_op semantics (sum_op.cc:9-11, 76-281)."""
    time_first = pdf.time_ns.min()
    t0a = max(-(-t0 // w) * w, (time_first // w) * w)
    sel = pdf[(pdf.time_ns >= t0a) & (pdf.time_ns <= t1)].sort_values("time_ns")
    if sel.empty:
        return pd.DataFrame(columns=["wstart", "sum", "min", "max", "count"])
    last_bucket = (sel.time_ns.max() // w) * w
    rows = []
    for ws in range(t0a, last_bucket + 1, w):
        win = sel[(sel.time_ns >= ws) & (sel.time_ns < ws + w)]
        vals = win[field].dropna()
        rows.append(
            {
                "wstart": ws,
                "sum": vals.sum() if len(vals) else None,
                "min": vals.min() if len(vals) else None,
                "max": vals.max() if len(vals) else None,
                "count": len(vals),
            }
        )
    return pd.DataFrame(rows)


def check(got: pd.DataFrame, want: pd.DataFrame, field: str):
    got = got.sort_values("wstart", ignore_index=True)
    want = want.reset_index(drop=True)
    assert list(got.wstart) == list(want.wstart)
    assert list(got[f"{field}_count"]) == list(want["count"])
    for gv, wv in zip(got[f"{field}_sum"], want["sum"]):
        if wv is None or (isinstance(wv, float) and math.isnan(wv)):
            assert gv is None or math.isnan(gv)
        else:
            assert abs(gv - wv) < 1e-6 * max(1.0, abs(wv))
    for stat in ("min", "max"):
        for gv, wv in zip(got[f"{field}_{stat}"], want[stat]):
            if wv is None or (isinstance(wv, float) and math.isnan(wv)):
                assert gv is None or (isinstance(gv, float) and math.isnan(gv))
            else:
                assert gv == wv or abs(gv - wv) < 1e-9


def test_window_100(spark, f1, f1_pdf):
    got = sum_points(f1, fields=["field2"], series="series1", t0=0, t1=10**6, window_ns=100).toPandas()
    want = model_sum(f1_pdf, "field2", 0, 10**6, 100)
    check(got, want, "field2")


def test_window_gap_5(spark, f1, f1_pdf):
    # window_ns=5 with dt=10 → every other bucket empty (sum_op_test gap shape)
    got = sum_points(f1, fields=["field2"], series="series1", t0=200, t1=400, window_ns=5).toPandas()
    want = model_sum(f1_pdf, "field2", 200, 400, 5)
    assert (got.window_npoints == 0).any(), "expected empty buckets"
    check(got, want, "field2")


def test_alignment_rule(spark, f1, f1_pdf):
    # Unaligned t0: first window = MAX(round_up(t0,w), round_down(tf,w)).
    for t0, w in [(150, 100), (101, 100), (99, 100), (0, 7), (103, 10)]:
        got = sum_points(f1, fields=["field2"], series="series1", t0=t0, t1=900, window_ns=w).toPandas()
        want = model_sum(f1_pdf, "field2", t0, 900, w)
        check(got, want, "field2")


def test_no_points_no_windows(spark, f1):
    got = sum_points(f1, fields=["field2"], series="series1", t0=10**7, t1=10**8, window_ns=100)
    assert got.count() == 0


def test_exact_mode_matches(spark, f1, f1_pdf):
    a = sum_points(f1, fields=["field2"], series="series1", t0=0, t1=10**6, window_ns=100, exact=True).toPandas()
    b = model_sum(f1_pdf, "field2", 0, 10**6, 100)
    check(a, b, "field2")


def test_mean(spark, f1, f1_pdf):
    got = mean_points(f1, fields=["field2"], series="series1", t0=0, t1=10**6, window_ns=100).toPandas()
    want = model_sum(f1_pdf, "field2", 0, 10**6, 100)
    for gv, cnt, s in zip(got.field2_mean, want["count"], want["sum"]):
        if cnt == 0:
            assert gv is None or np.isnan(gv)
        else:
            assert abs(gv - s / cnt) < 1e-9 * max(1.0, abs(s))


def test_minmax_downsample(spark, f1, f1_pdf):
    got = minmax_downsample(f1, field="field2", series="series1", t0=0, t1=10**6, window_ns=100).toPandas()
    want = model_sum(f1_pdf, "field2", 0, 10**6, 100)
    nonempty = want[want["count"] > 0]
    assert len(got) == 3 * len(nonempty)
    mins = got[got.stat == "min"].set_index("wstart")["value"]
    for ws, row in nonempty.set_index("wstart").iterrows():
        assert abs(mins.loc[ws] - row["min"]) < 1e-12


def test_time_first_hint_matches_scan(spark, tmp_path):
    """sum_points with the recorded time_first equals the scan-based path,
    including through the client (writer records marks on first write)."""
    import pandas as pd
    from pyspark.sql import types as T

    from simple_tsdb_spark.client import TsdbClient

    c = TsdbClient(spark, str(tmp_path / "wh"))
    c.create_database("db")
    c.create_measurement("db", "m", {"v": "f64"})
    schema = c.catalog.spark_schema("db", "m")
    rows = [("s1", 137 + 10 * i, float(i)) for i in range(300)]
    c.write_points(
        "db", "m",
        spark.createDataFrame(pd.DataFrame(rows, columns=["series", "time_ns", "v"]), schema),
    )
    df = c.catalog.read("db", "m")
    via_client = c.sum_points("db", "m", "s1", window_ns=100, t0=200, t1=2500).toPandas()
    via_scan = sum_points(df, fields=["v"], series="s1", t0=200, t1=2500, window_ns=100).toPandas()
    pd.testing.assert_frame_equal(
        via_client.sort_values("wstart", ignore_index=True),
        via_scan.sort_values("wstart", ignore_index=True),
    )
    # explicit dict hint too (unaligned time_first exercises round_down)
    hinted = sum_points(
        df, fields=["v"], series="s1", t0=200, t1=2500, window_ns=100,
        time_first={"s1": 137},
    ).toPandas()
    pd.testing.assert_frame_equal(
        hinted.sort_values("wstart", ignore_index=True),
        via_scan.sort_values("wstart", ignore_index=True),
    )


def test_partial_time_first_hint_keeps_uncovered_series(spark, f2, f2_pdf):
    """A hint dict missing some requested series must fall back to the
    min-scan for those series, not silently drop them (ADVICE
    windowed.py:109)."""
    tf_s0 = int(f2_pdf[f2_pdf.series == "series_0"].time_ns.min())
    full = sum_points(f2, fields=["value"], window_ns=50_000).toPandas()
    for series in [["series_0", "series_1"], None]:  # explicit list + all
        hinted = sum_points(
            f2, fields=["value"], window_ns=50_000, series=series,
            time_first={"series_0": tf_s0},  # covers only series_0
        ).toPandas()
        want = full if series is None else full[full.series.isin(series)]
        assert sorted(hinted.series.unique()) == sorted(want.series.unique())
        pd.testing.assert_frame_equal(
            hinted.sort_values(["series", "wstart"], ignore_index=True),
            want.sort_values(["series", "wstart"], ignore_index=True),
        )


def test_lttb_downsample_model(spark):
    """LTTB vs a reference python implementation: keeps first/last,
    exactly n_out points, passthrough below n_out, and the picks
    maximize the triangle area chain."""
    import pandas as pd

    from simple_tsdb_spark.operators import lttb_downsample

    import math
    import random

    rng = random.Random(5)
    rows = [("a", i * 10, math.sin(i / 5) * 10 + rng.uniform(-1, 1)) for i in range(200)]
    rows += [("tiny", i * 10, float(i)) for i in range(7)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["series", "time_ns", "value"]))
    got = lttb_downsample(df, field="value", n_out=20).toPandas()

    a = got[got.series == "a"].sort_values("time_ns")
    assert len(a) == 20
    assert a.time_ns.iloc[0] == 0 and a.time_ns.iloc[-1] == 1990
    assert list(got[got.series == "tiny"].sort_values("time_ns").time_ns) == [
        i * 10 for i in range(7)
    ]

    # reference implementation (classic formulation, same bucketing)
    ts = [float(t) for s, t, v in rows if s == "a"]
    vs = [v for s, t, v in rows if s == "a"]
    m, nb = len(ts), 18
    edges = [1] * (nb + 1)
    for i in range(1, m - 1):
        edges[(((i - 1) * nb) // (m - 2)) + 1] = i + 1
    keep, prev = [0], 0
    for b in range(nb):
        lo, hi = edges[b], edges[b + 1]
        nlo, nhi = (edges[b + 1], edges[b + 2]) if b + 1 < nb else (m - 1, m)
        ax, ay = ts[prev], vs[prev]
        sx = sy = 0.0
        for j in range(nlo, nhi):
            sx += ts[j]
            sy += vs[j]
        cx, cy = sx / (nhi - nlo), sy / (nhi - nlo)
        best, ba = lo, -1.0
        for i in range(lo, hi):
            area = round(abs((ax - cx) * (vs[i] - ay) - (ax - ts[i]) * (cy - ay)), 9)
            if area > ba:
                best, ba = i, area
        keep.append(best)
        prev = best
    keep.append(m - 1)
    assert list(a.time_ns) == [int(ts[i]) for i in keep]


def test_quantile_points_model(spark):
    """quantile_points vs numpy linear-interpolation percentiles per
    (series, window); NULLs skipped; column naming."""
    import numpy as np
    import pandas as pd

    from simple_tsdb_spark.operators import quantile_points
    from simple_tsdb_spark.operators.windowed import quantile_col_name

    import random

    rng = random.Random(4)
    rows = []
    for i in range(200):
        rows.append(("a", i, None if i % 17 == 0 else rng.uniform(0, 100)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["series", "time_ns", "value"]))
    got = quantile_points(df, field="value", window_ns=50, probs=(0.5, 0.99)).toPandas()
    assert list(got.columns) == ["series", "wstart", "npoints", "p50", "p99"]
    for _, r in got.iterrows():
        vals = [v for s, t, v in rows if v is not None and r.wstart <= t < r.wstart + 50]
        assert r.npoints == len(vals)
        # numpy's interpolation formula differs from the engines' by
        # ≤1 ulp (lo+(hi-lo)·g vs lo·(1-g)+hi·g); engine-to-engine
        # equality is exact (the driver hash gate)
        np.testing.assert_allclose(r.p50, np.percentile(vals, 50), rtol=1e-12)
        np.testing.assert_allclose(r.p99, np.percentile(vals, 99), rtol=1e-12)
    assert quantile_col_name(0.999) == "p99_9" and quantile_col_name(0.25) == "p25"


def test_quantile_points_tied_ranks_match_oracle(spark):
    """p90 of 339 values sits at position 304.2, between two ranks that
    both hold 115.01: Spark's percentile returns 115.01 exactly, and the
    DuckDB twin must too (quantile_cont alone interpolates it to
    115.01000000000002)."""
    import duckdb

    from simple_tsdb_spark.operators import quantile_points
    from simple_tsdb_spark.operators.windowed import quantile_points_oracle

    vals = [i * 0.1 for i in range(304)] + [115.01, 115.01] + [200.0 + i for i in range(33)]
    pdf = pd.DataFrame({"series": "a", "time_ns": np.arange(len(vals), dtype=np.int64), "value": vals})
    got = quantile_points(
        spark.createDataFrame(pdf), field="value", window_ns=10_000, probs=(0.5, 0.9)
    ).toPandas()
    con = duckdb.connect()
    con.register("pts", pdf)
    want = con.execute(
        quantile_points_oracle("SELECT * FROM pts", field="value", window_ns=10_000, probs=(0.5, 0.9))
    ).df()
    assert got.p90.tolist() == want.p90.tolist() == [115.01]
    assert got.p50.tolist() == want.p50.tolist()


def test_hopping_mean_model(spark, f2, f2_pdf):
    """Hopping windows vs a pandas model: every in-range point lands in
    exactly window/slide windows; per-window count/min/max/mean match."""
    import pandas as pd

    from simple_tsdb_spark.operators import hopping_mean

    w, s = 40 * 10**9, 10 * 10**9
    got = hopping_mean(f2, field="value", t0=0, t1=2**62, window_ns=w, slide_ns=s).toPandas()
    # model: explode each point into its covering window starts
    rows = []
    for r in f2_pdf.itertuples():
        hi = r.time_ns - (r.time_ns % s)
        for ws in range(hi - (w - s), hi + s, s):
            rows.append((r.series, ws, r.value))
    m = pd.DataFrame(rows, columns=["series", "wstart", "value"])
    want = m.groupby(["series", "wstart"]).agg(
        npoints=("value", "size"),
        cnt=("value", "count"),
        vmin=("value", "min"),
        vmax=("value", "max"),
        vmean=("value", "mean"),
    )
    assert len(got) == len(want)
    assert got.npoints.sum() == len(f2_pdf) * (w // s)
    for r in got.itertuples():
        wrow = want.loc[(r.series, r.wstart)]
        assert r.npoints == wrow.npoints
        assert r.value_count == wrow.cnt
        if wrow.cnt == 0:
            assert pd.isna(r.value_mean)
        else:
            assert r.value_min == wrow.vmin and r.value_max == wrow.vmax
            assert abs(r.value_mean - wrow.vmean) < 1e-9 * max(1.0, abs(wrow.vmean))


def test_hopping_mean_rejects_nonmultiple(spark, f2):
    import pytest as _pytest

    from simple_tsdb_spark.operators import hopping_mean

    with _pytest.raises(ValueError):
        hopping_mean(f2, field="value", window_ns=30, slide_ns=7)


def test_chunked_spine_crosses_blocks(spark, monkeypatch):
    """The empty-bucket spine is generated in blocks of _SPINE_BLOCK
    buckets (so no single row materializes the whole range as one array —
    sum_op.cc streams empty buckets at any window width).  Shrinking the
    block size must not change results: a range spanning many blocks, with
    data only at the two ends, emits the identical full spine."""
    import simple_tsdb_spark.operators.windowed as wmod

    pdf = pd.DataFrame(
        {
            "series": ["s1"] * 4,
            "time_ns": [0, 7, 10_000, 10_003],
            "v": [1.0, 2.0, None, 4.0],
        }
    )
    df = spark.createDataFrame(pdf)
    want = sum_points(df, fields=["v"], series="s1", t0=0, t1=10**6, window_ns=10).toPandas()
    # 1001 buckets; block=16 → 63 blocks, block=1 → one bucket per block.
    for blk in (16, 1, 1000, 1001, 2048):
        monkeypatch.setattr(wmod, "_SPINE_BLOCK", blk)
        got = sum_points(df, fields=["v"], series="s1", t0=0, t1=10**6, window_ns=10).toPandas()
        pd.testing.assert_frame_equal(
            got.sort_values("wstart", ignore_index=True),
            want.sort_values("wstart", ignore_index=True),
        )
    assert len(want) == 1001
    assert want.window_npoints.sum() == 4
    assert want.v_count.sum() == 3
