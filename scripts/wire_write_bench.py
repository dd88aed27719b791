"""Wire WRITE_POINTS throughput micro-benchmark.

Drives the reference's own Python client against TsdbServer: N commands
of `points_per_cmd` points each (the push_queue drain shape), then one
bulk command, and prints points/s for both.  The commit path is the
fused 3-job validated write (sources/writer.py); SCALE.md records the
history (~23k pts/s with the pre-fusion ~10-job commit).

Run: python scripts/wire_write_bench.py [n_cmds] [points_per_cmd]
"""

from __future__ import annotations

import importlib.util
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF_CLIENT = "/root/reference/python/simple_tsdb/simple_tsdb/client.py"


def main() -> None:
    n_cmds = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    per_cmd = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000

    from simple_tsdb_spark import get_spark
    from simple_tsdb_spark.client import TsdbClient
    from simple_tsdb_spark.server import TsdbServer

    spec = importlib.util.spec_from_file_location("_ref_tsdb_client", REF_CLIENT)
    ref = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ref)

    spark = get_spark("wire-write-bench")
    wh = tempfile.mkdtemp(prefix="wirebench_")
    c = TsdbClient(spark, wh)
    c.create_database("db")
    c.create_measurement("db", "m", {"v": "f64", "n": "u32"})

    with TsdbServer(spark, wh, port=0) as s:
        conn = ref.Connection(host="127.0.0.1", port=s.address[1])
        schema = conn.get_schema("db", "m")

        # Incremental shape: n_cmds sequential WRITE_POINTS commands.
        t0 = time.monotonic()
        for k in range(n_cmds):
            base = 1_000_000 * k
            pts = [
                {"time_ns": base + i, "v": float(i % 97), "n": i % 1000}
                for i in range(per_cmd)
            ]
            conn.write_points("db", "m", "s_inc", schema, pts)
        dt_inc = time.monotonic() - t0
        total = n_cmds * per_cmd
        print(
            f"incremental: {total} pts in {dt_inc:.2f}s over {n_cmds} cmds "
            f"-> {total / dt_inc:,.0f} pts/s ({dt_inc / n_cmds * 1000:.0f} ms/cmd)"
        )

        # Bulk shape: one command, many chunks.
        bulk = [
            {"time_ns": 10**12 + i, "v": float(i % 97), "n": i % 1000}
            for i in range(total)
        ]
        t0 = time.monotonic()
        conn.write_points("db", "m", "s_bulk", schema, bulk)
        dt_bulk = time.monotonic() - t0
        print(f"bulk: {total} pts in {dt_bulk:.2f}s -> {total / dt_bulk:,.0f} pts/s")
        conn.close()


if __name__ == "__main__":
    main()
