"""``analytics``: passes over a fixed set of declared queries through
``toPandas()``.

The inputs are generated in the shape of the repository's ``events`` and
``documents`` fixtures (10k events over January 2024, 500 documents with
~5% near-duplicates), so the declared ``queries()`` and their DuckDB
``oracle_sql()`` twins run on them unchanged.  The run's seed makes the
tables and orders the queries within each pass.

- heavy: the construction-heavy pipeline queries, whose DataFrames run
  eager jobs while they are built;
- light: the time-series queries, including a single-task global window
  (``quantile_points``), the 10k-row Arrow boundary (``ewma``) and a join.

Each op is one sub-pass over one of the two sets, queries in a seeded
order.  Set-up runs one cold round of both (JIT and codegen) and the
light pass once more; a run then measures a fixed number of rounds.
Every measured result is compared with DuckDB after the last round, using
``scripts/check_oracle.py``'s comparison.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

import numpy as np

from perfbench.harness import Op, Run, traced_turn

HEAVY = ("ccnet_curate", "lm_perplexity_buckets", "hybrid_rollup_sum", "ngram_jaccard", "simhash_band_dedup")
LIGHT = ("bollinger", "range_moving_avg", "quantile_points", "ewma", "asof_join", "sum_points",
         "select_last_per_series")
N_EVENTS, N_DOCS = 10_000, 500
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark line sort window "
         "data column join small customer query order group stream big filter vector").split()
# The cold round, then the cheap light pass once more: its queries are
# still warming after one run (up to 1.6x slower on their second run).
WARMUP = ("heavy", "light", "light")
# A run measures a fixed number of rounds, set by ``--seconds`` alone:
# one per ROUND_S seconds (about a warm round's time on 4 cores), at least
# MIN_ROUNDS, so a slow box does the same work, only slower.
ROUND_S, MIN_ROUNDS = 10.0, 2
JAN_2024_US = 1_704_067_200_000_000
MONTH_US = 30 * 86_400 * 1_000_000


def generate(rng: np.random.Generator, out: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    ts = np.unique(rng.integers(JAN_2024_US, JAN_2024_US + MONTH_US, N_EVENTS * 2))
    ts = np.sort(rng.choice(ts, N_EVENTS, replace=False))
    events = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, N_EVENTS, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), N_EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })
    pq.write_table(events, out / "events.parquet")

    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:  # a near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))))
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), N_DOCS, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    pq.write_table(docs, out / "documents.parquet")


class Oracle:
    """DuckDB answers for the declared queries, and the repository's own
    result comparison.  Both run after the measured rounds, outside every
    timed region."""

    def __init__(self, root: Path, log):
        spec = importlib.util.spec_from_file_location("perfbench_check_oracle", root / "scripts" / "check_oracle.py")
        self._mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self._mod)
        self._log = log

    def answers(self, sql: dict[str, str], data: Path, names) -> dict[str, object]:
        import duckdb

        con = duckdb.connect(config={"threads": len(os.sched_getaffinity(0))})
        try:
            for t in ("events", "documents"):  # tables: the recursive ewma oracle rescans its input
                con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{data / t}.parquet'")
            return {name: con.execute(sql[name]).df() for name in names}
        finally:
            con.close()

    def check(self, name: str, got, want) -> bool:
        with contextlib.redirect_stdout(sys.stderr):
            ok = self._mod.compare(name, got, want)
        if not ok:
            self._log(f"{name}: result differs from the DuckDB oracle")
        return ok


def instrument(tracer) -> None:
    """Nothing to wrap: ``run`` opens a ``query`` span per declared query
    and a ``construct`` span around its construction function (``pipeline`` / ``plans``
    / ``operators``); the DataFrame actions are wrapped for every
    workload."""


def run(ctx) -> Run:
    import __spark_entry__ as entry

    # The harness's own input generation is not engine work: it comes
    # before set-up is timed.
    rng = np.random.default_rng(ctx.seed)
    data = Path(ctx.workdir) / "data"
    generate(rng, data)
    queries = entry.queries()
    tracer = ctx.tracer
    spark, sf = ctx.spark, str(data)

    span = tracer.span if tracer is not None else (lambda layer, name: nullcontext())

    def sub_pass(role: str) -> tuple[float, list]:
        names = list(HEAVY if role == "heavy" else LIGHT)
        rng.shuffle(names)
        total, results = 0.0, []
        for name in names:
            t = time.perf_counter()
            with span("query", name):
                try:
                    with span("construct", name):
                        df = queries[name](spark, sf)
                    pdf = df.toPandas()
                except Exception as e:  # a failing query stays in the set and counts
                    ctx.log(f"{name} failed: {e!r}")
                    pdf = None
            total += time.perf_counter() - t
            results.append((name, pdf))
        return total * 1000, results

    t_setup = time.perf_counter()
    warm_ms = [round(sub_pass(role)[0]) for role in WARMUP]
    setup_s = ctx.session_start_s + time.perf_counter() - t_setup
    ctx.log(f"set-up {setup_s:.2f} s; warm-up passes {list(zip(WARMUP, warm_ms))} ms")

    # A fixed number of rounds (a heavy then a light pass), set by
    # ``--seconds`` alone.  A traced run traces the heavy pass of rounds
    # 0, 3, 4, 7, ... and the light pass of the others, so each role has
    # traced and untraced samples, and warming over the run loads on
    # neither side of the tracing overhead.
    rounds = max(MIN_ROUNDS, round(ctx.seconds / ROUND_S))
    ops: list[Op] = []
    measured = []
    for r in range(rounds):
        for role in ("heavy", "light"):
            traced = tracer is not None and traced_turn(r) == (role == "heavy")
            with (tracer.op(f"{role}_pass", traced) if tracer else nullcontext()) as rid:
                ms, results = sub_pass(role)
            ops.append(Op(role, f"{role}_pass", ms, True, traced, {"rid": rid} if traced else {}))
            measured.append(results)

    t = time.perf_counter()
    oracle = Oracle(Path(entry.__file__).resolve().parent, ctx.log)
    want = oracle.answers(entry.oracle_sql(), data, HEAVY + LIGHT)
    ctx.log(f"oracle answers {time.perf_counter() - t:.2f} s")
    attempted = failed = 0
    for op, results in zip(ops, measured):
        good = [pdf is not None and oracle.check(name, pdf, want[name]) for name, pdf in results]
        attempted += len(good)
        failed += good.count(False)
        op.ok = all(good)
    return Run(setup_s=setup_s, ops=ops, attempted=attempted, failed=failed,
               detail={"queries": query_breakdown(ctx.spark, tracer) if tracer else {}})


def query_breakdown(spark, tracer) -> dict:
    """Per declared query, medians over its traced runs: construction time
    and jobs, planning, execution, Arrow-to-pandas, stages, tasks, shuffle."""
    from perfbench.trace import drain_listener, stage_figures

    drain_listener(spark)
    per: dict[str, list[dict]] = {}
    for idx, s in enumerate(tracer.spans):
        if s["layer"] == "query" and s["end"] is not None:
            st = tracer.self_times(idx)
            row = {
                "ms": (s["end"] - s["start"]) * 1000,
                "pipeline.construct_ms": st.get("construct", 0.0),
                "pipeline.construct_jobs": len(tracer.jobs(idx, "construct")),
                "catalyst.plan_ms": st.get("catalyst", 0.0),
                "spark.execute_ms": st.get("spark", 0.0),
                "arrow.to_pandas_ms": st.get("arrow", 0.0),
            }
            row.update({f"spark.{k}": v for k, v in stage_figures(spark, tracer.jobs(idx)).items()})
            per.setdefault(s["name"], []).append(row)
    return {q: {k: statistics.median([r[k] for r in rows]) for k in rows[0]} for q, rows in sorted(per.items())}
