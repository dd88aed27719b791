"""Optimization-round profiling harness (guide §1): run one or more
declared queries with the Spark UI on, time cold (first plan+run) and
warm (best of N) executions, and report per-query job/stage counts and
stage time breakdown from the status API.

Usage: python scripts/opt_profile.py <query> [query ...] [--sf DIR] [--warm N]

The timed action is toPandas() — the same action bench.py times — so the
numbers are directly comparable to the bench's per-query map.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--warm", type=int, default=2)
    ap.add_argument("--explain", action="store_true", help="print formatted plan")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from simple_tsdb_spark import get_spark

    spark = get_spark("opt_profile", ui=True)
    sc = spark.sparkContext
    # warm footer caches like bench.py does
    spark.read.parquet(f"{args.sf}/events.parquet").limit(1).collect()

    import urllib.request, json

    url = sc.uiWebUrl

    def snap():
        jobs = json.load(
            urllib.request.urlopen(f"{url}/api/v1/applications/{sc.applicationId}/jobs")
        )
        stages = json.load(
            urllib.request.urlopen(
                f"{url}/api/v1/applications/{sc.applicationId}/stages?status=complete"
            )
        )
        return jobs, stages

    qs = entry_mod.queries()
    for name in args.queries:
        fn = qs[name]
        j0, s0 = snap()
        sc.setJobDescription(f"opt_profile:{name}:cold")
        t0 = time.time()
        df = fn(spark, args.sf)
        n = len(df.toPandas())
        t_cold = time.time() - t0
        t_warm = None
        for _ in range(args.warm):
            sc.setJobDescription(f"opt_profile:{name}:warm")
            t1 = time.time()
            df = fn(spark, args.sf)
            len(df.toPandas())
            dt = time.time() - t1
            t_warm = dt if t_warm is None else min(t_warm, dt)
        sc.setJobDescription(None)
        j1, s1 = snap()
        new_jobs = len(j1) - len(j0)
        seen = {s["stageId"] for s in s0}
        new_stages = [s for s in s1 if s["stageId"] not in seen]
        stage_ms = sorted(
            (
                (
                    s["stageId"],
                    s.get("executorRunTime", 0),
                    s.get("numTasks", 0),
                    s.get("shuffleWriteBytes", 0),
                    (s.get("name") or "")[:60],
                )
                for s in new_stages
            ),
            key=lambda x: -x[1],
        )
        runs = 1 + args.warm
        print(
            f"== {name}: rows={n} cold={t_cold:.3f}s warm={t_warm:.3f}s "
            f"jobs={new_jobs} stages={len(new_stages)} ({runs} runs total)"
        )
        for sid, ms, nt, sw, nm in stage_ms[:12]:
            print(f"   stage {sid}: execRun={ms}ms tasks={nt} shufW={sw}B {nm}")
        if args.explain:
            df.explain("formatted")
    return 0


if __name__ == "__main__":
    sys.exit(main())
