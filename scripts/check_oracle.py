"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given scale factor, then compares
row count, column set and (column-name-sorted, row-order-insensitive)
values.  Exact comparison — any float bit-difference is reported, since the
driver hashes values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> bool:
    ok = True
    if sorted(sdf.columns) != sorted(odf.columns):
        print(f"  [{name}] COLUMN MISMATCH spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return False
    if len(sdf) != len(odf):
        print(f"  [{name}] ROWCOUNT MISMATCH spark={len(sdf)} oracle={len(odf)}")
        ok = False
    # Driver-faithful dtype parity: the driver's value hash includes the
    # rendered value, so int64 123 on the Spark side vs float64 123.0 on the
    # oracle side (DuckDB HUGEINT -> pandas float64) hash-mismatches even
    # though a float-coerced compare passes.  Rounds 7-10 were burned by
    # exactly this class.  The driver DOES canonicalize integer widths
    # (int32 vs int64 passed r8-r10: knn_*, tfidf_topk, token_counts...)
    # and date objects vs datetime64 (daily_pivot passed r8), so compare
    # normalized KINDS, not exact dtypes — int-vs-float is the fatal pair.
    def _kind(dt) -> str:
        k = dt.kind  # i/u int, f float, b bool, M datetime, O object
        if k in "iu":
            return "int"
        if k in "OMS":
            return "object"  # strings, dates, datetimes all render stably
        return {"f": "float", "b": "bool"}.get(k, k)

    for c in sorted(sdf.columns):
        sk, ok_ = _kind(sdf[c].dtype), _kind(odf[c].dtype)
        if sk != ok_:
            print(
                f"  [{name}] DTYPE KIND MISMATCH col={c} "
                f"spark={sdf[c].dtype}({sk}) oracle={odf[c].dtype}({ok_})"
            )
            ok = False
    s, o = canon(sdf), canon(odf)
    if len(s) != len(o):
        return False
    for c in s.columns:
        a, b = s[c].to_numpy(), o[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a = a.astype(float)
            b = b.astype(float)
            both_nan = np.isnan(a) & np.isnan(b)
            neq = ~both_nan & (a != b)
            if neq.any():
                diffs = np.abs(a[neq] - b[neq])
                print(
                    f"  [{name}] FLOAT MISMATCH col={c} n={neq.sum()} "
                    f"maxabs={np.nanmax(diffs):.3e} first spark={a[neq][0]!r} oracle={b[neq][0]!r}"
                )
                ok = False
        else:
            a2, b2 = pd.Series(a), pd.Series(b)
            neq = ~((a2 == b2) | (a2.isna() & b2.isna()))
            if neq.any():
                print(
                    f"  [{name}] VALUE MISMATCH col={c} n={int(neq.sum())} "
                    f"first spark={a2[neq].iloc[0]!r} oracle={b2[neq].iloc[0]!r}"
                )
                ok = False
    return ok


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import os

    # Data-dependent oracle builders (knn_ivf_trained fits its quantizer
    # from the oracle tables) must train at the sf under test; the real
    # driver always evaluates at sf0.01, the builder's default.
    os.environ["SPARK_GRAFT_ORACLE_SF"] = sf_dir

    import __spark_entry__ as entry_mod
    from simple_tsdb_spark import get_spark

    spark = get_spark("check_oracle")
    con = duck_con(sf_dir)
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"[{name}] rows={len(sdf)} spark={t_spark:.2f}s (no oracle — rows-only)")
            continue
        rel = con.sql(oracles[name])
        # Hard invariant: gated oracle finals must be BIGINT/INTEGER/DOUBLE/
        # VARCHAR/BOOLEAN.  DuckDB promotes SUM(BIGINT) and BIGINT*BIGINT//
        # quotients to HUGEINT, which pandas fetches as float64 while Spark
        # emits int64 — the driver's value hash then sees 123.0 != 123.
        # CAST the DuckDB side to BIGINT; never widen the Spark side.
        bad_types = [
            (col, str(t))
            for col, t in zip(rel.columns, rel.types)
            if str(t) in ("HUGEINT", "UHUGEINT") or str(t).startswith("DECIMAL")
        ]
        type_ok = True
        if bad_types:
            print(f"  [{name}] ORACLE TYPE VIOLATION (cast to BIGINT): {bad_types}")
            type_ok = False
        odf = rel.df()
        if compare(name, sdf, odf) and type_ok:
            print(f"[{name}] OK rows={len(sdf)} spark={t_spark:.2f}s")
            n_pass += 1
        else:
            print(f"[{name}] FAIL")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
