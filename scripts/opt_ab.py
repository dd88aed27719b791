"""Interleaved A/B timing for the adaptive fan-out (and other env-gated
optimizations): runs each query alternating the env toggle off/on several
times in one session and reports min/median per mode.  Interleaving
cancels the box's co-tenant noise drift (calib probe showed 1.3x swings).

Usage: python scripts/opt_ab.py [--env VAR] [--off V] [--on V] [--reps N] q...
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=4)
    ap.add_argument("--env", default="SPARK_GRAFT_FAN_OUT_BYTES")
    ap.add_argument("--off", default="0")
    ap.add_argument("--on", default="")  # "" = unset (default behavior)
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from simple_tsdb_spark import get_spark

    spark = get_spark("opt_ab")
    spark.read.parquet(f"{args.sf}/events.parquet").limit(1).collect()
    qs = entry_mod.queries()

    def run(name):
        t0 = time.time()
        df = qs[name](spark, args.sf)
        len(df.toPandas())
        return time.time() - t0

    for name in args.queries:
        times = {"off": [], "on": []}
        # one throwaway warm-up in each mode
        for mode, val in (("off", args.off), ("on", args.on)):
            if val == "":
                os.environ.pop(args.env, None)
            else:
                os.environ[args.env] = val
            run(name)
        for _ in range(args.reps):
            for mode, val in (("off", args.off), ("on", args.on)):
                if val == "":
                    os.environ.pop(args.env, None)
                else:
                    os.environ[args.env] = val
                times[mode].append(run(name))
        off, on = times["off"], times["on"]
        print(
            f"{name}: OFF min={min(off):.3f} med={statistics.median(off):.3f} | "
            f"ON min={min(on):.3f} med={statistics.median(on):.3f} | "
            f"speedup(min) {min(off)/min(on):.2f}x"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
