#!/usr/bin/env python
"""Launch a TsdbServer — the reference's ``tsdbserver`` binary analog.

Plaintext listener by default; pass ``--cert/--key`` (and optionally
``--require-auth``) for the reference's authenticated TLS listener
(server.cc:963-1069).  The engine is the local-mode Spark session; on a
cluster, point ``--master``/spark-submit at it instead.

    python scripts/tsdbserver.py --warehouse /tmp/wh --port 4000
"""

from __future__ import annotations

import argparse
import ssl
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=4000)
    ap.add_argument("--cert", help="TLS certificate (PEM)")
    ap.add_argument("--key", help="TLS private key (PEM)")
    ap.add_argument("--require-auth", action="store_true",
                    help="first command must be AUTHENTICATE")
    args = ap.parse_args()

    ctx = None
    if args.cert:
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.load_cert_chain(args.cert, args.key or args.cert)

    from simple_tsdb_spark import get_spark
    from simple_tsdb_spark.server import TsdbServer

    spark = get_spark("tsdbserver")
    server = TsdbServer(
        spark, args.warehouse, args.host, args.port,
        require_auth=args.require_auth, ssl_context=ctx,
    )
    server.start()
    print(f"tsdbserver listening on {server.address[0]}:{server.address[1]}")
    try:
        server._thread.join()
    except KeyboardInterrupt:
        server.stop()


if __name__ == "__main__":
    main()
