"""Dump `explain("formatted")` for declared queries into plans/<tag>/.

Usage: python scripts/capture_plans.py <outdir> <suffix> [--env VAR=VAL] q...
Writes <outdir>/<query>_<suffix>.txt for each query.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("outdir")
    ap.add_argument("suffix")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--env", action="append", default=[])
    args = ap.parse_args()

    for kv in args.env:
        k, _, v = kv.partition("=")
        if v == "":
            os.environ.pop(k, None)
        else:
            os.environ[k] = v

    import __spark_entry__ as entry_mod
    from simple_tsdb_spark import get_spark

    spark = get_spark("capture_plans")
    os.makedirs(args.outdir, exist_ok=True)
    qs = entry_mod.queries()
    for name in args.queries:
        df = qs[name](spark, args.sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(args.outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
