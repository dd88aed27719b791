"""``dashboard``: a closed loop of read-only wire commands.

One ``WireClient`` connection to a ``TsdbServer`` in this process, over a
measurement preloaded in set-up (24 series x 100k points; f64/u32/i64
fields with NULLs).  The commands rotate in a fixed order, so every run
issues the same mix; the seed picks each command's series and time range.
Sizes are fixed per command type and every range lies inside its series'
data, so every command of a type does the same amount of work.

- light: SELECT_POINTS_LIMIT (1000 points), SELECT_POINTS_LAST (100
  points) and COUNT_POINTS (12 h);
- heavy: SUM_POINTS (300 s windows over 24 h, all fields), about five
  times a light read.

Every reply is checked against a numpy model of the generated points.
"""

from __future__ import annotations

import time
from contextlib import nullcontext

import numpy as np

from perfbench.harness import Op, Run, traced_turn

SERIES = 24
POINTS = 100_000
SCHEMA = {"v": "f64", "n": "u32", "k": "i64"}
T_BASE = 1_700_000_000_000_000_000
SEC = 1_000_000_000
LIMIT_N, LAST_N = 1000, 100
LIMIT_SPAN, LAST_SPAN, COUNT_SPAN = 3600 * SEC, 6 * 3600 * SEC, 12 * 3600 * SEC
SUM_WINDOW, SUM_SPAN = 300 * SEC, 24 * 3600 * SEC
ROTATION = ("limit", "last", "count", "sum")
WARMUP_ROUNDS = 3
# A run measures a fixed number of rotations, set by ``--seconds`` alone:
# one per ROUND_S seconds (about a rotation's time on 4 cores), at least
# MIN_ROUNDS, so a slow box does the same work, only slower.
ROUND_S, MIN_ROUNDS = 2.0, 5


def generate(rng: np.random.Generator) -> dict[str, dict[str, np.ndarray]]:
    """Per series: strictly increasing times (~1 s cadence with jitter)
    and three fields with independent NULL masks."""
    model = {}
    for i in range(SERIES):
        t = T_BASE + int(rng.integers(0, 3600)) * SEC + np.cumsum(
            rng.integers(SEC // 2, 3 * SEC // 2, POINTS, dtype=np.int64)
        )
        model[f"s{i:02d}"] = {
            "time_ns": t,
            "v": np.round(rng.normal(100.0, 25.0, POINTS), 3),
            "v_ok": rng.random(POINTS) >= 0.02,
            "n": rng.integers(0, 2**32, POINTS, dtype=np.int64),
            "n_ok": rng.random(POINTS) >= 0.01,
            "k": rng.integers(-(10**12), 10**12, POINTS, dtype=np.int64),
            "k_ok": rng.random(POINTS) >= 0.01,
        }
    return model


def preload(client, model) -> None:
    import pandas as pd

    client.create_database("db")
    client.create_measurement("db", "m", SCHEMA)
    for name, s in model.items():
        v = s["v"].copy()
        v[~s["v_ok"]] = np.nan
        client.write_points_pandas("db", "m", pd.DataFrame({
            "series": name,
            "time_ns": s["time_ns"],
            "v": v,
            "n": pd.arrays.IntegerArray(s["n"], ~s["n_ok"]),
            "k": pd.arrays.IntegerArray(s["k"], ~s["k_ok"]),
        }))


def plan_ops(rng: np.random.Generator, model, count: int) -> list[dict]:
    names = sorted(model)
    spans = {"limit": LIMIT_SPAN, "last": LAST_SPAN, "count": COUNT_SPAN, "sum": SUM_SPAN}
    ops = []
    for i in range(count):
        kind = ROTATION[i % len(ROTATION)]
        s = names[int(rng.integers(len(names)))]
        t = model[s]["time_ns"]
        span = spans[kind]
        t0 = int(rng.integers(int(t[0]), int(t[-1]) - span))  # the whole range holds data
        ops.append({"kind": kind, "series": s, "t0": t0, "t1": t0 + span})
    return ops


def call(wire, op):
    s, t0, t1 = op["series"], op["t0"], op["t1"]
    if op["kind"] == "limit":
        return wire.select_points_limit("db", "m", s, None, t0, t1, LIMIT_N)
    if op["kind"] == "last":
        return wire.select_points_last("db", "m", s, None, t0, t1, LAST_N)
    if op["kind"] == "count":
        return wire.count_points("db", "m", s, t0, t1)
    return wire.sum_points("db", "m", s, SUM_WINDOW, list(SCHEMA), t0, t1)


# -- the numpy model's answers -------------------------------------------
def _range(s, t0, t1) -> tuple[int, int]:
    t = s["time_ns"]
    return int(np.searchsorted(t, t0, "left")), int(np.searchsorted(t, t1, "right"))


def _check_points(s, idx: slice, got) -> bool:
    if not np.array_equal(np.asarray(got["time_ns"], dtype=np.int64), s["time_ns"][idx]):
        return False
    for f in SCHEMA:
        col = got[f]
        ok = s[f + "_ok"][idx]
        if not np.array_equal(~np.asarray(col.isna()), ok):
            return False
        if not np.array_equal(np.asarray(col[ok], dtype=s[f].dtype), s[f][idx][ok]):
            return False
    return True


def _check_sum(s, t0, t1, got) -> bool:
    w = SUM_WINDOW
    t = s["time_ns"]
    t0a = max(-(-t0 // w) * w, int(t[0]) - int(t[0]) % w)
    lo, hi = int(np.searchsorted(t, t0a, "left")), int(np.searchsorted(t, t1, "right"))
    if hi <= lo:
        return len(got) == 0
    slot = (t[lo:hi] - t0a) // w
    nwin = int(slot[-1]) + 1
    if not np.array_equal(np.asarray(got["wstart"], dtype=np.int64), t0a + np.arange(nwin, dtype=np.int64) * w):
        return False
    for f in SCHEMA:
        vals, ok = s[f][lo:hi], s[f + "_ok"][lo:hi]
        cnt = np.bincount(slot[ok], minlength=nwin)
        if not np.array_equal(np.asarray(got[f + "_count"], dtype=np.int64), cnt):
            return False
        has = cnt > 0
        if f == "v":
            exp_sum = np.bincount(slot[ok], weights=vals[ok], minlength=nwin)
            if not np.allclose(np.asarray(got[f + "_sum"], dtype=float)[has], exp_sum[has], rtol=1e-9, atol=1e-9):
                return False
        else:  # integer sums are exact in f64 at these magnitudes
            exp_sum = np.zeros(nwin, dtype=object)
            np.add.at(exp_sum, slot[ok], vals[ok].astype(object))
            if [float(x) for x in exp_sum[has]] != list(np.asarray(got[f + "_sum"], dtype=float)[has]):
                return False
        mins = np.full(nwin, np.inf)
        maxs = np.full(nwin, -np.inf)
        np.minimum.at(mins, slot[ok], vals[ok].astype(float))
        np.maximum.at(maxs, slot[ok], vals[ok].astype(float))
        if not (np.array_equal(np.asarray(got[f + "_min"][has], dtype=float), mins[has])
                and np.array_equal(np.asarray(got[f + "_max"][has], dtype=float), maxs[has])):
            return False
    return True


def check(model, op, got) -> bool:
    s = model[op["series"]]
    t0, t1 = op["t0"], op["t1"]
    lo, hi = _range(s, t0, t1)
    if op["kind"] == "limit":
        return _check_points(s, slice(lo, min(hi, lo + LIMIT_N)), got)
    if op["kind"] == "last":
        return _check_points(s, slice(max(lo, hi - LAST_N), hi), got)
    if op["kind"] == "count":
        n = hi - lo
        want = {"npoints": n, "time_first": int(s["time_ns"][lo]) if n else 0,
                "time_last": int(s["time_ns"][hi - 1]) if n else 0}
        return got == want
    return _check_sum(s, t0, t1, got)


def instrument(tracer) -> None:
    """Spans for a traced run: the TsdbClient call the server handler makes
    (DataFrame construction) and the bytes the client reads off the wire."""
    from simple_tsdb_spark.client import TsdbClient
    from simple_tsdb_spark.wire_client import WireClient

    for name in ("select_points_limit", "select_points_last", "count_points", "sum_points"):
        tracer.wrap(TsdbClient, name, "construct")
    recvall = WireClient._recvall

    def counted(self, size):
        tracer.count("reply_bytes", size)
        return recvall(self, size)

    WireClient._recvall = counted


def run(ctx) -> Run:
    from simple_tsdb_spark.client import TsdbClient
    from simple_tsdb_spark.server import TsdbServer
    from simple_tsdb_spark.wire_client import WireClient

    # The harness's own input generation is not engine work: it comes
    # before set-up is timed.
    rng = np.random.default_rng(ctx.seed)
    model = generate(rng)
    warm = plan_ops(rng, model, WARMUP_ROUNDS * len(ROTATION))
    ops = plan_ops(rng, model, max(MIN_ROUNDS, round(ctx.seconds / ROUND_S)) * len(ROTATION))

    t_setup = time.perf_counter()
    warehouse = f"{ctx.workdir}/warehouse"
    preload(TsdbClient(ctx.spark, warehouse), model)
    ctx.log(f"preload {time.perf_counter() - t_setup:.2f} s")
    tracer = ctx.tracer
    server = TsdbServer(ctx.spark, warehouse).start()
    out: list[Op] = []
    try:
        with WireClient("127.0.0.1", server.address[1]) as wire:
            for o in warm:
                if not check(model, o, call(wire, o)):
                    raise RuntimeError(f"warm-up answer wrong: {o}")
            setup_s = ctx.session_start_s + time.perf_counter() - t_setup
            ctx.log(f"set-up {setup_s:.2f} s")

            for i, o in enumerate(ops):
                role = "heavy" if o["kind"] == "sum" else "light"
                traced = tracer is not None and traced_turn(i // len(ROTATION))
                ok = True
                with (tracer.op(o["kind"], traced) if tracer else nullcontext()) as rid:
                    t = time.perf_counter()
                    try:
                        got = call(wire, o)
                    except Exception as e:  # a failed command counts; the loop goes on
                        ctx.log(f"{o['kind']} failed: {e!r}")
                        got, ok = None, False
                    ms = (time.perf_counter() - t) * 1000
                ok = ok and check(model, o, got)
                out.append(Op(role, o["kind"], ms, ok, traced, {"rid": rid} if traced else {}))
    finally:
        server.stop()
    return Run(setup_s=setup_s, ops=out, attempted=len(out), failed=sum(not o.ok for o in out),
               detail={"measurement.files": _count_files(warehouse)})


def _count_files(root: str) -> int:
    import os

    return sum(
        1 for _, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )
