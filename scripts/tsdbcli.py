#!/usr/bin/env python
"""tsdbcli — the reference CLI's query language on the Spark engine.

Implements the tsdbcli2 command surface
(``/root/reference/src/tsdbcli2/main.cc:393-412``; WHERE grammar
``parse_types.cc:153-257``):

    CREATE DATABASE db
    ADD USER username password
    CREATE MEASUREMENT db/meas WITH FIELDS name/type,name/type,...
    LIST DATABASES | LIST MEASUREMENTS db | LIST SERIES db/meas
    LIST SCHEMA db/meas | LIST ACTIVE SERIES db/meas [WHERE ...]
    SELECT [f1,f2] FROM db/meas/series [WHERE ...] [LIMIT n | LAST n]
    COUNT db/meas/series [WHERE ...]
    MEAN f1,f2 FROM db/meas/series WHERE ... WINDOW_NS w
    INTEGRATE f1,f2 FROM db/meas/series [WHERE ...]
    DELETE db/meas/series WHERE time_ns <|<= t

WHERE forms: ``WHERE t0 <|<= time_ns <|<= t1`` and
``WHERE time_ns OP t`` for OP in < <= == >= >.  Divergence from the
reference: its 6-arg parser adds +1 to the upper bound for ``<`` (an
apparent off-by-one, parse_types.cc:176-177); this CLI uses the standard
exclusive semantics (t1-1).  ``--ref-compat`` reproduces the reference's
t1+1 instead, so behavior-diff tests against a live tsdbcli2 line up.

Usage:
  python scripts/tsdbcli.py WAREHOUSE_DIR [--ref-compat] [-c "COMMAND"]
  python scripts/tsdbcli.py --host H [--port P] [--user U --password W]
         [--ref-compat] [-c "COMMAND"]
(REPL otherwise.)  ``--host`` runs as a pure WIRE client of a running
tsdbserver — the reference tsdbcli2 deployment shape, no Spark on the
CLI side; ADD USER is warehouse-mode only (not a wire command).
"""

from __future__ import annotations

import os
import sys

MAXT = 2**63 - 1

#: --ref-compat: widen ``time_ns < t1`` to t1+1 exactly like the
#: reference's 6-arg parser (parse_types.cc:176-177) instead of the
#: intended t1-1 — for behavior-diffing against a live tsdbcli2.
REF_COMPAT = False


def parse_where(toks: list[str], i: int) -> tuple[int, int, int]:
    """Parse an optional WHERE clause at position i → (t0, t1, next_i)."""
    if i >= len(toks) or toks[i].upper() != "WHERE":
        return 0, MAXT, i
    rest = toks[i + 1 :]
    if len(rest) >= 5 and rest[2] == "time_ns":
        t0, op1, _, op2, t1 = int(rest[0]), rest[1], rest[2], rest[3], int(rest[4])
        if op1 == "<":
            t0 += 1
        elif op1 != "<=":
            raise ValueError("expected 'WHERE t <|<= time_ns <|<= t'")
        if op2 == "<":
            t1 += 1 if REF_COMPAT else -1
        elif op2 != "<=":
            raise ValueError("expected 'WHERE t <|<= time_ns <|<= t'")
        return t0, t1, i + 6
    if len(rest) >= 3 and rest[0] == "time_ns":
        op, t = rest[1], int(rest[2])
        ranges = {
            "<": (0, t - 1),
            "<=": (0, t),
            "==": (t, t),
            ">=": (t, MAXT),
            ">": (t + 1, MAXT),
        }
        if op not in ranges:
            raise ValueError(f"bad operator {op!r}")
        return (*ranges[op], i + 4)
    raise ValueError("unparseable WHERE clause")


def split_spec(spec: str, parts: int) -> list[str]:
    out = spec.split("/")
    if len(out) != parts:
        raise ValueError(f"expected {'/'.join(['name'] * parts)}, got {spec!r}")
    return out


def show(df, limit: int = 50) -> None:
    if hasattr(df, "show"):  # Spark DataFrame (warehouse mode)
        df.show(limit, truncate=False)
    else:  # pandas (network mode via WireClient)
        print(df.head(limit).to_string(index=False))


def execute(client, line: str) -> None:
    toks = line.strip().split()
    if not toks:
        return
    kw = " ".join(toks[:2]).upper()
    kw3 = " ".join(toks[:3]).upper()

    if kw == "CREATE DATABASE":
        client.create_database(toks[2])
        print("ok")
    elif kw == "ADD USER":  # tsdbcli2 main.cc:395 — ADD USER name password
        if len(toks) != 4:
            raise ValueError("expected: ADD USER username password")
        client.add_user(toks[2], toks[3])
        print("ok")
    elif kw == "CREATE MEASUREMENT":
        db, meas = split_spec(toks[2], 2)
        if len(toks) < 6 or toks[3].upper() != "WITH" or toks[4].upper() != "FIELDS":
            raise ValueError("expected: CREATE MEASUREMENT db/meas WITH FIELDS n/t,...")
        fields = dict(f.split("/", 1) for f in toks[5].split(","))
        client.create_measurement(db, meas, fields)
        print("ok")
    elif kw == "LIST DATABASES":
        print("\n".join(client.list_databases()))
    elif kw == "LIST MEASUREMENTS":
        print("\n".join(client.list_measurements(toks[2])))
    elif kw3 == "LIST ACTIVE SERIES":
        db, meas = split_spec(toks[3], 2)
        t0, t1, _ = parse_where(toks, 4)
        print("\n".join(client.active_series(db, meas, t0, t1)))
    elif kw == "LIST SERIES":
        db, meas = split_spec(toks[2], 2)
        print("\n".join(client.list_series(db, meas)))
    elif kw == "LIST SCHEMA":
        db, meas = split_spec(toks[2], 2)
        for name, ftype in client.get_schema(db, meas):
            print(f"{name}/{ftype}")
    elif toks[0].upper() == "SELECT":
        i = 1
        fields = None
        if toks[i].upper() != "FROM":
            fields = toks[i].split(",")
            i += 1
        if toks[i].upper() != "FROM":
            raise ValueError("expected FROM")
        db, meas, series = split_spec(toks[i + 1], 3)
        t0, t1, i = parse_where(toks, i + 2)
        limit = last = None
        if i < len(toks):
            if toks[i].upper() == "LIMIT":
                limit = int(toks[i + 1])
            elif toks[i].upper() == "LAST":
                last = int(toks[i + 1])
        if last is not None:
            show(client.select_points_last(db, meas, series, fields, t0, t1, last))
        else:
            show(client.select_points_limit(db, meas, series, fields, t0, t1, limit))
    elif toks[0].upper() == "COUNT":
        db, meas, series = split_spec(toks[1], 3)
        t0, t1, _ = parse_where(toks, 2)
        show(client.count_points(db, meas, series, t0, t1))
    elif toks[0].upper() == "MEAN":
        fields = toks[1].split(",")
        db, meas, series = split_spec(toks[3], 3)
        t0, t1, i = parse_where(toks, 4)
        if i >= len(toks) or toks[i].upper() != "WINDOW_NS":
            raise ValueError("expected WINDOW_NS w")
        # client.mean_points works in BOTH modes: the embedded client is a
        # first-class operator call; the wire adapter derives mean from
        # SUM_POINTS exactly like the reference's own client
        # (client.py:1103-1120)
        show(
            client.mean_points(
                db, meas, series, int(toks[i + 1]), fields, t0, min(t1, MAXT)
            )
        )
    elif toks[0].upper() == "INTEGRATE":
        fields = toks[1].split(",")
        db, meas, series = split_spec(toks[3], 3)
        t0, t1, _ = parse_where(toks, 4)
        show(client.integrate_points(db, meas, series, fields, t0, t1))
    elif toks[0].upper() == "DELETE":
        db, meas, series = split_spec(toks[1], 3)
        if toks[2].upper() != "WHERE" or toks[3] != "time_ns" or toks[4] not in ("<", "<="):
            raise ValueError("expected: DELETE db/meas/series WHERE time_ns <|<= t")
        t = int(toks[5]) - (1 if toks[4] == "<" else 0)
        client.delete_points(db, meas, series, t)
        print("ok")
    else:
        raise ValueError(f"unknown command: {line!r}")


class WireCli:
    """Network-mode backend: the ``execute()`` surface over
    :class:`simple_tsdb_spark.wire_client.WireClient` — the reference
    deployment shape (tsdbcli2 is a wire client of tsdbserver).  No
    Spark on the CLI side; scalar replies wrap into one-row pandas
    frames so ``show()`` prints them uniformly.  MEAN derives from
    SUM_POINTS exactly like the reference's client."""

    def __init__(self, host: str, port: int, credentials=None):
        from simple_tsdb_spark.wire_client import WireClient

        self._wc = WireClient(host, port, credentials=credentials)

    def __getattr__(self, name):  # passthrough for 1:1 commands
        return getattr(self._wc, name)

    def add_user(self, username: str, password: str) -> None:
        raise ValueError(
            "ADD USER is not a wire command (the reference manages users "
            "via the root passwd table) — run against the warehouse dir"
        )

    @staticmethod
    def _clamp(t: int) -> int:
        return max(0, min(int(t), 2**64 - 1))

    def select_points_limit(self, db, meas, series, fields=None, t0=0, t1=2**64 - 1, n=None):
        return self._wc.select_points_limit(
            db, meas, series, fields, self._clamp(t0), self._clamp(t1),
            2**64 - 1 if n is None else int(n),
        )

    def select_points_last(self, db, meas, series, fields=None, t0=0, t1=2**64 - 1, n=100):
        return self._wc.select_points_last(
            db, meas, series, fields, self._clamp(t0), self._clamp(t1), int(n)
        )

    def count_points(self, db, meas, series, t0=0, t1=2**64 - 1):
        import pandas as pd

        return pd.DataFrame([self._wc.count_points(db, meas, series, self._clamp(t0), self._clamp(t1))])

    def integrate_points(self, db, meas, series, fields, t0=0, t1=2**64 - 1):
        import pandas as pd

        return pd.DataFrame(
            [self._wc.integrate_points(db, meas, series, fields, self._clamp(t0), self._clamp(t1))]
        )

    def mean_points(self, db, meas, series, window_ns, fields=None, t0=0, t1=2**64 - 1):
        sums = self._wc.sum_points(
            db, meas, series, int(window_ns), fields, self._clamp(t0), self._clamp(t1)
        )
        names = list(fields) if fields else [
            f for f, _ in self._wc.get_schema(db, meas)
        ]
        out = sums[["wstart"]].copy()
        for f in names:
            # mean = sum / count, NULL for empty windows (count 0) —
            # the reference client's SUM-derived mean (client.py:1103-1120)
            out[f + "_mean"] = [
                (s / c) if c else None
                for s, c in zip(sums[f + "_sum"], sums[f + "_count"])
            ]
            out[f + "_count"] = sums[f + "_count"]
        return out


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    if "--ref-compat" in sys.argv:
        global REF_COMPAT
        REF_COMPAT = True
        sys.argv.remove("--ref-compat")

    def _flag(name: str, default=None):
        if name in sys.argv:
            i = sys.argv.index(name)
            v = sys.argv[i + 1]
            del sys.argv[i:i + 2]
            return v
        return default

    host = _flag("--host")
    if host is not None:
        port = int(_flag("--port", "4000"))
        user = _flag("--user")
        password = _flag("--password")
        if (user is None) != (password is None):
            print("error: --user and --password must be given together")
            return 2
        creds = (user, password) if user is not None else None
        client = WireCli(host, port, credentials=creds)
        # keep argv shape: argv[1] stays the (ignored) positional slot
        # only when one was given; -c parsing below is unchanged
        if len(sys.argv) >= 2 and sys.argv[1] == "-c":
            sys.argv.insert(1, host)  # synthesize the positional slot
    else:
        from simple_tsdb_spark import get_spark
        from simple_tsdb_spark.client import TsdbClient

        client = TsdbClient(get_spark("tsdbcli"), sys.argv[1])
    if len(sys.argv) >= 4 and sys.argv[2] == "-c":
        for cmd in sys.argv[3].split(";"):
            if cmd.strip():
                execute(client, cmd)
        return 0
    while True:
        try:
            line = input("tsdb> ")
        except (EOFError, KeyboardInterrupt):
            return 0
        try:
            execute(client, line)
        except Exception as e:  # REPL: report, keep going
            print(f"error: {e}")


if __name__ == "__main__":
    main()
