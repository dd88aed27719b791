"""TsdbServer wire protocol — byte-compatibility with the reference client.

The strongest check here loads the reference's OWN Python client
(``/root/reference/python/simple_tsdb/simple_tsdb/client.py``) read-only
from disk via importlib — never copied into this repo, skipped when the
reference tree is absent — and drives every wire command end-to-end
against our server: if that client can't parse our frames, we aren't
byte-compatible.  A second set of struct-level tests asserts the frame
grammar directly from the documented format (tokens.h:13-60,
server.cc:245-327) so the suite still proves the protocol without the
reference present.
"""

from __future__ import annotations

import importlib.util
import math
import os
import ssl
import struct
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import types as T

from simple_tsdb_spark import server as srv
from simple_tsdb_spark.client import TsdbClient
from simple_tsdb_spark.server import TsdbServer
from simple_tsdb_spark.wire_client import WireClient

REF_CLIENT = "/root/reference/python/simple_tsdb/simple_tsdb/client.py"


def _load_ref_client():
    spec = importlib.util.spec_from_file_location("_ref_tsdb_client", REF_CLIENT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _seed(spark, warehouse: str) -> TsdbClient:
    c = TsdbClient(spark, warehouse)
    c.create_database("db")
    c.create_measurement("db", "m", {"v": "f64", "n": "u32"})
    schema = T.StructType(
        [
            T.StructField("series", T.StringType(), False),
            T.StructField("time_ns", T.LongType(), False),
            T.StructField("v", T.DoubleType(), True),
            T.StructField("n", T.LongType(), True),
        ]
    )
    rows = [
        ("s1", 1000 + 100 * i, None if i % 7 == 3 else math.sin(i / 8), i)
        for i in range(300)
    ]
    pdf = pd.DataFrame(rows, columns=["series", "time_ns", "v", "n"])
    c.write_points("db", "m", spark.createDataFrame(pdf, schema))
    return c


@pytest.fixture()
def server(spark, tmp_path):
    wh = str(tmp_path / "wh")
    _seed(spark, wh)
    with TsdbServer(spark, wh, port=0) as s:
        yield s


# -- parity against the reference's own client ---------------------------
@pytest.mark.skipif(not os.path.exists(REF_CLIENT), reason="reference tree absent")
class TestReferenceClientParity:
    @pytest.fixture()
    def ref_conn(self, server):
        ref = _load_ref_client()
        conn = ref.Connection(host="127.0.0.1", port=server.address[1])
        yield ref, conn
        conn.close()

    def test_catalog_roundtrip(self, ref_conn):
        ref, conn = ref_conn
        assert conn.list_databases() == ["db"]
        assert conn.list_measurements("db") == ["m"]
        schema = conn.get_schema("db", "m")
        assert [(f.name, f.field_type.name) for f in schema.fields] == [
            ("v", "f64"), ("n", "u32"),
        ]
        assert conn.list_series("db", "m") == ["s1"]
        assert conn.list_active_series("db", "m", 0, 2**64 - 1) == ["s1"]

    def test_select_points(self, ref_conn):
        ref, conn = ref_conn
        schema = conn.get_schema("db", "m")
        op = conn.select_points("db", "m", "s1", schema, ["v", "n"], 0,
                                2**64 - 1, 2**64 - 1)
        ts, vs, ns = [], [], []
        while (chunk := op.read_chunk()) is not None:
            ts.extend(int(t) for t in chunk.timestamps)
            vs.extend(chunk.fields["v"].to_idb_type(i) for i in range(chunk.npoints))
            ns.extend(chunk.fields["n"].to_idb_type(i) for i in range(chunk.npoints))
        assert ts == [1000 + 100 * i for i in range(300)]
        # NULL pattern survives the bitmap round-trip
        assert [v is None for v in vs] == [i % 7 == 3 for i in range(300)]
        assert vs[0] == pytest.approx(math.sin(0))
        assert ns == list(range(300))

    def test_select_last(self, ref_conn):
        ref, conn = ref_conn
        schema = conn.get_schema("db", "m")
        op = conn.select_last_points("db", "m", "s1", schema, ["n"], 0,
                                     2**64 - 1, 5)
        ts = []
        while (chunk := op.read_chunk()) is not None:
            ts.extend(int(t) for t in chunk.timestamps)
        assert ts == [1000 + 100 * i for i in range(295, 300)]

    def test_count_sum_integrate(self, ref_conn):
        ref, conn = ref_conn
        cr = conn.count_points("db", "m", "s1", 0, 2**64 - 1)
        assert cr.npoints == 300
        assert cr.time_first == 1000 and cr.time_last == 1000 + 100 * 299

        op = conn.sum_points("db", "m", "s1", ["v"], 0, 2**64 - 1, 10_000)
        total_windows = 0
        total_n = 0
        while (chunk := op.read_chunk()) is not None:
            total_windows += len(chunk.timestamps)
            total_n += int(sum(chunk.npoints[0]))
        assert total_n == sum(1 for i in range(300) if i % 7 != 3)
        # points span 1000..30900ns → aligned 10µs windows 0/10000/20000/30000
        assert total_windows == 4

        ir = conn.integrate_points("db", "m", "s1", ["n"], 0, 2**64 - 1)
        # trapezoid over n=i at 100ns steps: mean of consecutive i over 299 steps
        expect = sum((i + i + 1) / 2 * 100 for i in range(299)) / 1e9
        assert ir.integrals[0] == pytest.approx(expect)

    def test_write_points_roundtrip(self, ref_conn):
        ref, conn = ref_conn
        schema = conn.get_schema("db", "m")
        points = [
            {"time_ns": 100_000 + 50 * i,
             "v": None if i == 2 else float(i),
             "n": i}
            for i in range(10)
        ]
        conn.write_points("db", "m", "s2", schema, points)
        cr = conn.count_points("db", "m", "s2", 0, 2**64 - 1)
        assert cr.npoints == 10
        op = conn.select_points("db", "m", "s2", schema, ["v", "n"], 0,
                                2**64 - 1, 2**64 - 1)
        chunk = op.read_chunk()
        assert chunk.fields["v"].to_idb_type(2) is None
        assert chunk.fields["v"].to_idb_type(3) == pytest.approx(3.0)
        assert op.read_chunk() is None

    def test_status_errors(self, ref_conn):
        ref, conn = ref_conn
        with pytest.raises(ref.StatusException) as ei:
            conn.list_measurements("nope")
        assert ei.value.status_code == ref.StatusCode.NO_SUCH_DATABASE
        with pytest.raises(ref.StatusException) as ei:
            conn.get_schema("db", "nope")
        assert ei.value.status_code == ref.StatusCode.NO_SUCH_MEASUREMENT
        # connection stays usable after an error status
        assert conn.list_databases() == ["db"]

    def test_delete_points(self, ref_conn):
        ref, conn = ref_conn
        conn.delete_points("db", "m", "s1", 1000 + 100 * 149)
        assert conn.count_points("db", "m", "s1", 0, 2**64 - 1).npoints == 150


# -- TLS + AUTHENTICATE listener (server.cc:963-1069) --------------------
@pytest.mark.skipif(not os.path.exists(REF_CLIENT), reason="reference tree absent")
def test_tls_authenticated_listener(spark, tmp_path):
    cert = tmp_path / "cert.pem"
    key = tmp_path / "key.pem"
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", str(key), "-out", str(cert), "-days", "1",
         "-subj", "/CN=localhost"],
        check=True, capture_output=True,
    )
    wh = str(tmp_path / "wh")
    c = _seed(spark, wh)
    c.add_user("alice", "sekrit")

    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(str(cert), str(key))

    ref = _load_ref_client()
    # trust our self-signed cert on the client side
    client_ctx = ssl.create_default_context(cafile=str(cert))
    client_ctx.check_hostname = False
    ref.Connection.DEFAULT_SSL_CTX = client_ctx

    with TsdbServer(spark, wh, port=0, require_auth=True, ssl_context=ctx) as s:
        conn = ref.Connection(host="127.0.0.1", port=s.address[1],
                              credentials=("alice", "sekrit"))
        try:
            assert conn.list_databases() == ["db"]
            assert conn.count_points("db", "m", "s1", 0, 2**64 - 1).npoints == 300
        finally:
            conn.close()

        # bad credentials: connection closed without a status frame
        with pytest.raises((ref.ConnectionClosedException, OSError)):
            ref.Connection(host="127.0.0.1", port=s.address[1],
                           credentials=("alice", "wrong")).list_databases()


# -- struct-level grammar checks (no reference needed) -------------------
def _connect(server):
    import socket

    sock = socket.create_connection(("127.0.0.1", server.address[1]))
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, True)
    return sock


def _recvall(sock, n):
    buf = b""
    while len(buf) < n:
        part = sock.recv(n - len(buf))
        assert part, "connection closed early"
        buf += part
    return buf


def test_nop_and_status_frame(server):
    sock = _connect(server)
    try:
        sock.sendall(struct.pack("<II", srv.CT_NOP, srv.DT_END))
        dt, code = struct.unpack("<Ii", _recvall(sock, 8))
        assert dt == srv.DT_STATUS_CODE and code == 0
    finally:
        sock.close()


def test_list_databases_frames(server):
    sock = _connect(server)
    try:
        sock.sendall(struct.pack("<II", srv.CT_LIST_DATABASES, srv.DT_END))
        dt = struct.unpack("<I", _recvall(sock, 4))[0]
        assert dt == srv.DT_DATABASE
        ln = struct.unpack("<H", _recvall(sock, 2))[0]
        assert _recvall(sock, ln) == b"db"
        dt, code = struct.unpack("<Ii", _recvall(sock, 8))
        assert dt == srv.DT_STATUS_CODE and code == 0
    finally:
        sock.close()


def test_select_chunk_layout(server):
    """DT_CHUNK body: u64 ts[n], then per field bitmap/values/pad8."""
    sock = _connect(server)
    try:
        db, meas, series, fl = b"db", b"m", b"s1", b"n"
        cmd = struct.pack(
            "<IIH%dsIH%dsIH%dsIH%dsIQIQIQI" % (len(db), len(meas), len(series), len(fl)),
            srv.CT_SELECT_POINTS_LIMIT,
            srv.DT_DATABASE, len(db), db,
            srv.DT_MEASUREMENT, len(meas), meas,
            srv.DT_SERIES, len(series), series,
            srv.DT_FIELD_LIST, len(fl), fl,
            srv.DT_TIME_FIRST, 1000,
            srv.DT_TIME_LAST, 1000 + 100 * 2,
            srv.DT_NLIMIT, 2**64 - 1,
            srv.DT_END,
        )
        sock.sendall(cmd)
        dt = struct.unpack("<I", _recvall(sock, 4))[0]
        assert dt == srv.DT_CHUNK
        npoints, bitmap_offset, data_len = struct.unpack("<III", _recvall(sock, 12))
        assert npoints == 3 and bitmap_offset == 0
        # 3 ts u64 + 1 bitmap word + 3 u32 values padded to 16
        assert data_len == 3 * 8 + 8 + 16
        data = _recvall(sock, data_len)
        ts = struct.unpack("<3Q", data[:24])
        assert ts == (1000, 1100, 1200)
        bitmap = struct.unpack("<Q", data[24:32])[0]
        assert bitmap & 0b111 == 0b111  # all three valid
        vals = struct.unpack("<3I", data[32:44])
        assert vals == (0, 1, 2)
        dt = struct.unpack("<I", _recvall(sock, 4))[0]
        assert dt == srv.DT_END
        dt, code = struct.unpack("<Ii", _recvall(sock, 8))
        assert dt == srv.DT_STATUS_CODE and code == 0
    finally:
        sock.close()


def test_unknown_command_drops_connection(server):
    sock = _connect(server)
    try:
        sock.sendall(struct.pack("<I", 0xDEADBEEF))
        assert sock.recv(1) == b""  # tokens.h:234-238 — no reply, teardown
    finally:
        sock.close()


@pytest.mark.skipif(not os.path.exists(REF_CLIENT), reason="reference tree absent")
def test_concurrent_connections(server):
    """Parallel connections: concurrent reads interleave freely, and two
    clients writing the SAME measurement serialize on the writer lock
    (the per-measurement analog of the reference's series write lock)."""
    import threading

    ref = _load_ref_client()
    results: dict[str, object] = {}

    def reader(tag: str):
        conn = ref.Connection(host="127.0.0.1", port=server.address[1])
        try:
            got = []
            for _ in range(3):
                got.append(conn.count_points("db", "m", "s1", 0, 2**64 - 1).npoints)
            results[tag] = got
        finally:
            conn.close()

    def writer(tag: str, series: str, t_base: int):
        conn = ref.Connection(host="127.0.0.1", port=server.address[1])
        try:
            schema = conn.get_schema("db", "m")
            points = [{"time_ns": t_base + 10 * i, "v": float(i), "n": i}
                      for i in range(50)]
            conn.write_points("db", "m", series, schema, points)
            results[tag] = "ok"
        finally:
            conn.close()

    threads = [
        threading.Thread(target=reader, args=("r1",)),
        threading.Thread(target=reader, args=("r2",)),
        threading.Thread(target=writer, args=("w1", "w_a", 10_000_000)),
        threading.Thread(target=writer, args=("w2", "w_b", 20_000_000)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert results["r1"] == [300, 300, 300] and results["r2"] == [300, 300, 300]
    assert results["w1"] == "ok" and results["w2"] == "ok"

    conn = ref.Connection(host="127.0.0.1", port=server.address[1])
    try:
        assert conn.count_points("db", "m", "w_a", 0, 2**64 - 1).npoints == 50
        assert conn.count_points("db", "m", "w_b", 0, 2**64 - 1).npoints == 50
    finally:
        conn.close()


# -- codec round-trip property (no server needed) ------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


def _pack_like_reference(schema, points, bitmap_offset=0):
    """Pack points exactly as the reference client's Schema.pack_points
    (client.py:204-215): u64 ts, then per field u64 bitmap + values + pad."""
    import numpy as np

    n = len(points)
    data = np.array([p["time_ns"] for p in points], dtype="<u8").tobytes()
    np_types = {"bool": "u1", "u32": "<u4", "u64": "<u8", "f32": "<f4",
                "f64": "<f8", "i32": "<i4", "i64": "<i8"}
    for name, ftype in schema:
        words = [0xFFFFFFFFFFFFFFFF] * (-(-(bitmap_offset + n) // 64))
        vals = []
        for i, p in enumerate(points):
            v = p[name]
            if v is None:
                vals.append(0)
                words[(bitmap_offset + i) // 64] ^= 1 << ((bitmap_offset + i) % 64)
            else:
                vals.append(v)
        data += np.array(words, dtype="<u8").tobytes()
        vb = np.array(vals, dtype=np_types[ftype]).tobytes()
        data += vb + b"\x00" * ((8 - len(vb) % 8) % 8)
    return data


@settings(max_examples=60, deadline=None)
@given(
    data=st.data(),
    n=st.integers(min_value=1, max_value=130),
    bitmap_offset=st.integers(min_value=0, max_value=63),
)
def test_chunk_decode_roundtrip_property(data, n, bitmap_offset):
    """decode(reference-pack(points)) == points for random schemas,
    values, NULL patterns, and bitmap offsets."""
    types = ["bool", "u32", "u64", "f32", "f64", "i32", "i64"]
    nf = data.draw(st.integers(min_value=1, max_value=4))
    schema = [(f"f{i}", data.draw(st.sampled_from(types))) for i in range(nf)]
    rng = {
        "bool": st.booleans().map(int),
        "u32": st.integers(min_value=0, max_value=2**32 - 1),
        "u64": st.integers(min_value=0, max_value=2**63 - 1),
        "f32": st.floats(width=32, allow_nan=False),
        "f64": st.floats(allow_nan=False),
        "i32": st.integers(min_value=-(2**31), max_value=2**31 - 1),
        "i64": st.integers(min_value=-(2**63), max_value=2**63 - 1),
    }
    points = []
    for i in range(n):
        p = {"time_ns": 1000 + i}
        for name, ftype in schema:
            p[name] = data.draw(st.none() | rng[ftype])
        points.append(p)

    packed = _pack_like_reference(schema, points, bitmap_offset)
    pdf = TsdbServer._decode_chunk(schema, "s", n, bitmap_offset, packed)
    assert len(pdf) == n
    assert (pdf["series"] == "s").all()
    for i in range(n):
        assert int(pdf["time_ns"].iloc[i]) == points[i]["time_ns"]
        for name, ftype in schema:
            want = points[i][name]
            got = pdf[name].iloc[i]
            if want is None:
                assert pd.isna(got)
            elif ftype in ("f32", "f64"):
                import numpy as np

                expected = float(np.float32(want)) if ftype == "f32" else want
                assert float(got) == expected
            elif ftype == "bool":
                assert bool(got) == bool(want)
            else:
                assert int(got) == want


# -- malformed frames tear the connection down (tokens.h behavior) -------
def _assert_dropped(sock):
    """Closed cleanly (b"") or reset (RST when our unread bytes remain)."""
    try:
        assert sock.recv(1) == b""
    except ConnectionError:
        pass


def test_overlong_string_token_drops_connection(server):
    sock = _connect(server)
    try:
        # DT_DATABASE with len 2000 >= 1024 — reference throws EINVAL
        sock.sendall(struct.pack("<IIH", srv.CT_CREATE_DATABASE, srv.DT_DATABASE, 2000))
        sock.sendall(b"x" * 2000)
        _assert_dropped(sock)
    finally:
        sock.close()


def test_wrong_token_order_drops_connection(server):
    sock = _connect(server)
    try:
        # CREATE_DATABASE grammar expects DT_DATABASE, send DT_SERIES
        sock.sendall(struct.pack("<IIH2s", srv.CT_CREATE_DATABASE, srv.DT_SERIES, 2, b"db"))
        _assert_dropped(sock)
    finally:
        sock.close()


def test_oversized_write_chunk_drops_connection(server):
    sock = _connect(server)
    try:
        db, meas, series = b"db", b"m", b"sx"
        sock.sendall(struct.pack(
            "<IIH%dsIH%dsIH%ds" % (len(db), len(meas), len(series)),
            srv.CT_WRITE_POINTS,
            srv.DT_DATABASE, len(db), db,
            srv.DT_MEASUREMENT, len(meas), meas,
            srv.DT_SERIES, len(series), series,
        ))
        dt, max_len = struct.unpack("<II", _recvall(sock, 8))
        assert dt == srv.DT_READY_FOR_CHUNK and max_len == srv.MAX_CHUNK_DATA_LEN
        # data_len over the 10 MiB contract: connection dropped (ENOMEM path)
        sock.sendall(struct.pack("<IIII", srv.DT_CHUNK, 1, 0, srv.MAX_CHUNK_DATA_LEN + 1))
        _assert_dropped(sock)
    finally:
        sock.close()


@pytest.mark.skipif(not os.path.exists(REF_CLIENT), reason="reference tree absent")
def test_write_points_error_status(server):
    """WRITE_POINTS to a missing measurement answers with a status frame
    in place of DT_READY_FOR_CHUNK (the reference client's
    _write_points_begin path), and the connection stays usable."""
    ref = _load_ref_client()
    conn = ref.Connection(host="127.0.0.1", port=server.address[1])
    try:
        schema = conn.get_schema("db", "m")
        points = [{"time_ns": 1, "v": 1.0, "n": 1}]
        with pytest.raises(ref.StatusException) as ei:
            conn.write_points("db", "nope", "s1", schema, points)
        assert ei.value.status_code == ref.StatusCode.NO_SUCH_MEASUREMENT
        assert conn.list_databases() == ["db"]
    finally:
        conn.close()


@pytest.mark.skipif(not os.path.exists(REF_CLIENT), reason="reference tree absent")
def test_reference_client_grafana_mean_path(server, spark, tmp_path):
    """The reference's high-level Client.get_all_points_mean — its
    Grafana query path (windowed sums/npoints folded to means) — against
    our server, compared to the engine's own mean_points."""
    ref = _load_ref_client()
    cl = ref.Client(host="127.0.0.1", port=server.address[1])
    try:
        res = cl.get_all_points_mean("db", "m", "s1", ["v"], 0, 2**64 - 1, 10_000)
        got = {int(t): v for t, v in zip(res.time_ns, res.columns["v"])}

        eng = TsdbClient(spark, str(tmp_path / "wh"))
        want_pdf = eng.mean_points("db", "m", "s1", window_ns=10_000).toPandas()
        want = dict(zip(want_pdf.wstart, want_pdf.v_mean))
        assert set(got) == set(int(w) for w in want)
        import math as _m

        for w, v in want.items():
            g = got[int(w)]
            if v is None or (isinstance(v, float) and _m.isnan(v)):
                assert _m.isnan(g)  # empty window: 0/0 on the wire
            else:
                assert g == pytest.approx(v)
    finally:
        cl.close()


@pytest.mark.skipif(not os.path.exists(REF_CLIENT), reason="reference tree absent")
def test_u64f_full_range_over_the_wire(spark, tmp_path):
    """u64f (DECIMAL(20,0), the engine's full-range u64 extension) rides
    the wire as type u64: values above 2^63 round-trip exactly through
    the reference client's uint64 packing and our Decimal decode."""
    wh = str(tmp_path / "wh")
    c = TsdbClient(spark, wh)
    c.create_database("db")
    c.create_measurement("db", "m", {"big": "u64f"})

    ref = _load_ref_client()
    with TsdbServer(spark, wh, port=0) as s:
        conn = ref.Connection(host="127.0.0.1", port=s.address[1])
        try:
            schema = conn.get_schema("db", "m")
            assert [(f.name, f.field_type.name) for f in schema.fields] == [("big", "u64")]
            vals = [2**64 - 1, 2**63 + 12345, 7, None]
            points = [{"time_ns": 1000 + i, "big": v} for i, v in enumerate(vals)]
            conn.write_points("db", "m", "s1", schema, points)

            op = conn.select_points("db", "m", "s1", schema, ["big"], 0,
                                    2**64 - 1, 2**64 - 1)
            chunk = op.read_chunk()
            got = [chunk.fields["big"].to_idb_type(i) for i in range(chunk.npoints)]
            assert op.read_chunk() is None
            assert got == vals
        finally:
            conn.close()


@pytest.mark.skipif(not os.path.exists(REF_CLIENT), reason="reference tree absent")
def test_sum_points_bool_field_over_wire(spark, tmp_path):
    """Windowed SUM over a bool field through the wire: sums count the
    Trues, npoints count the non-NULLs (min/max ride native wal_field
    words — see test_sums_minmax_native_wal_field)."""
    wh = str(tmp_path / "wh")
    c = TsdbClient(spark, wh)
    c.create_database("db")
    c.create_measurement("db", "m", {"flag": "bool"})
    schema_t = T.StructType(
        [
            T.StructField("series", T.StringType(), False),
            T.StructField("time_ns", T.LongType(), False),
            T.StructField("flag", T.BooleanType(), True),
        ]
    )
    rows = [("s1", 1000 + 10 * i, None if i == 7 else i % 3 == 0) for i in range(50)]
    c.write_points(
        "db", "m",
        spark.createDataFrame(pd.DataFrame(rows, columns=["series", "time_ns", "flag"]), schema_t),
    )

    ref = _load_ref_client()
    with TsdbServer(spark, wh, port=0) as s:
        conn = ref.Connection(host="127.0.0.1", port=s.address[1])
        try:
            op = conn.sum_points("db", "m", "s1", ["flag"], 0, 2**64 - 1, 100)
            sums, counts = [], []
            while (chunk := op.read_chunk()) is not None:
                sums.extend(float(x) for x in chunk.sums[0])
                counts.extend(int(x) for x in chunk.npoints[0])
            want = {}
            for i, (_s, t, v) in enumerate(rows):
                w = t - t % 100
                tot, n = want.get(w, (0.0, 0))
                want[w] = (tot + (1.0 if v else 0.0), n + (v is not None))
            assert sums == [want[w][0] for w in sorted(want)]
            assert counts == [want[w][1] for w in sorted(want)]
        finally:
            conn.close()


def _sum_cmd(db=b"db", meas=b"m", series=b"s1", fl=b"", t0=0, t1=2**64 - 1, window=100):
    return struct.pack(
        "<IIH%dsIH%dsIH%dsIH%dsIQIQIQI" % (len(db), len(meas), len(series), len(fl)),
        srv.CT_SUM_POINTS,
        srv.DT_DATABASE, len(db), db,
        srv.DT_MEASUREMENT, len(meas), meas,
        srv.DT_SERIES, len(series), series,
        srv.DT_FIELD_LIST, len(fl), fl,
        srv.DT_TIME_FIRST, t0,
        srv.DT_TIME_LAST, t1,
        srv.DT_WINDOW_NS, window,
        srv.DT_END,
    )


def test_sums_minmax_native_wal_field(spark, tmp_path):
    """DT_SUMS_CHUNK min/max words carry the field's NATIVE dtype in the
    low bytes of each 8-byte wal_field (sum_op.h:32-33), with the
    reference's untouched-accumulator sentinels in empty windows
    (sum_op.cc:40-71) — decoded here exactly like the Grafana
    datasource does (datasource.go:1841-1916)."""
    wh = str(tmp_path / "wh")
    c = TsdbClient(spark, wh)
    c.create_database("db")
    fields = {"a": "i32", "b": "u32", "c": "bool", "d": "f32", "e": "i64"}
    c.create_measurement("db", "m", fields)
    schema_t = c.catalog.spark_schema("db", "m")
    rows = [
        ("s1", 0, -5, 7, True, 1.5, -(2**40)),
        ("s1", 10, 3, 1, False, -2.25, 5),
        ("s1", 20, None, 2, None, 0.5, 9),
        ("s1", 200, 100, 9, True, 8.0, -1),
        ("s1", 210, -100, 3, True, -8.0, 2**40),
    ]
    pdf = pd.DataFrame(rows, columns=["series", "time_ns", *fields])
    c.write_points("db", "m", spark.createDataFrame(pdf, schema_t))

    with TsdbServer(spark, wh, port=0) as s:
        sock = _connect(s)
        try:
            sock.sendall(_sum_cmd(fl=b"a,b,c,d,e", t0=0, t1=299, window=100))
            dt = struct.unpack("<I", _recvall(sock, 4))[0]
            assert dt == srv.DT_SUMS_CHUNK
            n = struct.unpack("<H", _recvall(sock, 2))[0]
            assert n == 3  # windows 0, 100 (empty), 200
            nf = 5
            body = _recvall(sock, n * 8 * (1 + 4 * nf))
            ts = struct.unpack("<3Q", body[:24])
            assert ts == (0, 100, 200)
            off = 24
            sums = {}
            for f in fields:
                sums[f] = struct.unpack("<3d", body[off:off + 24])
                off += 24
            min_words, max_words = {}, {}
            for d in (min_words, max_words):
                for f in fields:
                    d[f] = [body[off + 8 * i: off + 8 * (i + 1)] for i in range(3)]
                    off += 24
            counts = {}
            for f in fields:
                counts[f] = struct.unpack("<3Q", body[off:off + 24])
                off += 24
            dt = struct.unpack("<I", _recvall(sock, 4))[0]
            assert dt == srv.DT_END
            dt, code = struct.unpack("<Ii", _recvall(sock, 8))
            assert dt == srv.DT_STATUS_CODE and code == 0
        finally:
            sock.close()

    def dec(word, fmt):
        return struct.unpack_from("<" + fmt, word, 0)[0]

    # window 0 and 2: native-typed min/max of the stored values
    assert dec(min_words["a"][0], "i") == -5 and dec(max_words["a"][0], "i") == 3
    assert dec(min_words["a"][2], "i") == -100 and dec(max_words["a"][2], "i") == 100
    assert dec(min_words["b"][0], "I") == 1 and dec(max_words["b"][0], "I") == 7
    assert dec(min_words["c"][0], "B") == 0 and dec(max_words["c"][0], "B") == 1
    assert dec(min_words["c"][2], "B") == 1 and dec(max_words["c"][2], "B") == 1
    assert dec(min_words["d"][0], "f") == -2.25 and dec(max_words["d"][0], "f") == 1.5
    assert dec(min_words["e"][0], "q") == -(2**40) and dec(max_words["e"][0], "q") == 9
    assert dec(min_words["e"][2], "q") == -1 and dec(max_words["e"][2], "q") == 2**40
    # empty middle window: the reference's untouched accumulator sentinels
    assert dec(min_words["a"][1], "i") == 2**31 - 1 and dec(max_words["a"][1], "i") == -(2**31)
    assert dec(min_words["b"][1], "I") == 2**32 - 1 and dec(max_words["b"][1], "I") == 0
    assert dec(min_words["c"][1], "B") == 1 and dec(max_words["c"][1], "B") == 0
    assert dec(min_words["d"][1], "f") == float("inf") and dec(max_words["d"][1], "f") == float("-inf")
    assert dec(min_words["e"][1], "q") == 2**63 - 1 and dec(max_words["e"][1], "q") == -(2**63)
    # high bytes of every narrow-typed word are zero
    for f, w in (("a", 4), ("b", 4), ("c", 1), ("d", 4)):
        for i in range(3):
            assert min_words[f][i][w:] == b"\x00" * (8 - w)
            assert max_words[f][i][w:] == b"\x00" * (8 - w)
    # counts and sums still correct alongside
    assert counts["a"] == (2, 0, 2) and counts["b"] == (3, 0, 2)
    assert sums["a"] == (-2.0, 0.0, 0.0)


def test_sums_stream_many_chunks(spark, tmp_path):
    """A window count past SUMS_CHUNK_WINDOWS streams as multiple
    incrementally generated chunks (toLocalIterator path), in window
    order, without materializing the whole result on the driver."""
    wh = str(tmp_path / "wh")
    c = TsdbClient(spark, wh)
    c.create_database("db")
    c.create_measurement("db", "m", {"v": "f64"})
    schema_t = c.catalog.spark_schema("db", "m")
    n_windows = 1500
    pdf = pd.DataFrame(
        {
            "series": ["s1", "s1"],
            "time_ns": [5, (n_windows - 1) * 100 + 5],
            "v": [2.5, 7.5],
        }
    )
    c.write_points("db", "m", spark.createDataFrame(pdf, schema_t))

    with TsdbServer(spark, wh, port=0) as s, WireClient("127.0.0.1", s.address[1]) as conn:
        # every DT_SUMS_CHUNK token is followed by its u16 window count,
        # then one body read: ts u64[n], then the field's sums f64[n] —
        # read the sums as the wire carries them (the client reports an
        # empty window's sum as None)
        sizes, sums, recv, last, body = [], [], conn._recvall, [None], [0]

        def counting_recv(n):
            b = recv(n)
            if body[0]:
                k, body[0] = body[0], 0
                sums.extend(struct.unpack_from("<%dd" % k, b, 8 * k))
            elif n == 2 and last[0] == struct.pack("<I", srv.DT_SUMS_CHUNK):
                sizes.append(struct.unpack("<H", b)[0])
                body[0] = sizes[-1]
            last[0] = b
            return b

        conn._recvall = counting_recv
        got = conn.sum_points("db", "m", "s1", 100, ["v"], 0, 2**64 - 1)
    ts = [int(x) for x in got["wstart"]]
    assert sizes == [srv.SUMS_CHUNK_WINDOWS, n_windows - srv.SUMS_CHUNK_WINDOWS]
    assert ts == [100 * i for i in range(n_windows)]
    assert len(sums) == n_windows
    assert sums[0] == 2.5 and sums[-1] == 7.5 and sum(sums) == 10.0


def _pack_f64_chunk(ts_vals):
    """One DT_CHUNK body for a single-f64-field measurement, all valid."""
    n = len(ts_vals)
    body = struct.pack("<%dQ" % n, *[t for t, _ in ts_vals])
    words = -(-n // 64)
    bitmap = [0] * words
    for i in range(n):
        bitmap[i // 64] |= 1 << (i % 64)
    body += struct.pack("<%dQ" % words, *bitmap)
    body += struct.pack("<%dd" % n, *[v for _, v in ts_vals])
    return body


def test_write_points_bounded_group_flush(spark, tmp_path):
    """With a small write_flush_bytes every chunk commits as it arrives
    (bounded driver staging), and a later chunk retransmitting an
    earlier group's points verifies-and-drops like the reference WAL
    (wal.cc:87-246) instead of erroring."""
    wh = str(tmp_path / "wh")
    c = TsdbClient(spark, wh)
    c.create_database("db")
    c.create_measurement("db", "m", {"v": "f64"})

    with TsdbServer(spark, wh, port=0, write_flush_bytes=1) as s:
        sock = _connect(s)
        try:
            db, meas, series = b"db", b"m", b"sx"
            sock.sendall(
                struct.pack(
                    "<IIH%dsIH%dsIH%ds" % (len(db), len(meas), len(series)),
                    srv.CT_WRITE_POINTS,
                    srv.DT_DATABASE, len(db), db,
                    srv.DT_MEASUREMENT, len(meas), meas,
                    srv.DT_SERIES, len(series), series,
                )
            )
            groups = [
                [(100 + 10 * i, float(i)) for i in range(5)],
                [(200 + 10 * i, float(50 + i)) for i in range(5)],
                # retransmit of group 2 — must verify-and-drop, not error
                [(200 + 10 * i, float(50 + i)) for i in range(5)],
                [(300 + 10 * i, float(90 + i)) for i in range(5)],
            ]
            for g in groups:
                dt, maxlen = struct.unpack("<II", _recvall(sock, 8))
                assert dt == srv.DT_READY_FOR_CHUNK and maxlen > 0
                body = _pack_f64_chunk(g)
                sock.sendall(struct.pack("<IIII", srv.DT_CHUNK, len(g), 0, len(body)) + body)
            dt, maxlen = struct.unpack("<II", _recvall(sock, 8))
            assert dt == srv.DT_READY_FOR_CHUNK
            sock.sendall(struct.pack("<I", srv.DT_END))
            dt, code = struct.unpack("<Ii", _recvall(sock, 8))
            assert dt == srv.DT_STATUS_CODE and code == 0
        finally:
            sock.close()

    got = (
        c.select_points_limit("db", "m", "sx", ["v"], 0, 2**64 - 1, None)
        .orderBy("time_ns")
        .collect()
    )
    assert len(got) == 15
    assert [r["time_ns"] for r in got[:5]] == [100, 110, 120, 130, 140]
    assert [r["v"] for r in got[5:10]] == [50.0, 51.0, 52.0, 53.0, 54.0]
    assert [r["v"] for r in got[10:]] == [90.0, 91.0, 92.0, 93.0, 94.0]


def test_write_points_bounded_group_mismatch_rejects(spark, tmp_path):
    """A cross-group retransmit with DIFFERENT values still errors
    (byte-verified retransmit, wal.cc:87-246)."""
    wh = str(tmp_path / "wh")
    c = TsdbClient(spark, wh)
    c.create_database("db")
    c.create_measurement("db", "m", {"v": "f64"})

    with TsdbServer(spark, wh, port=0, write_flush_bytes=1) as s:
        sock = _connect(s)
        try:
            db, meas, series = b"db", b"m", b"sy"
            sock.sendall(
                struct.pack(
                    "<IIH%dsIH%dsIH%ds" % (len(db), len(meas), len(series)),
                    srv.CT_WRITE_POINTS,
                    srv.DT_DATABASE, len(db), db,
                    srv.DT_MEASUREMENT, len(meas), meas,
                    srv.DT_SERIES, len(series), series,
                )
            )
            groups = [
                [(100 + 10 * i, float(i)) for i in range(5)],
                [(100 + 10 * i, float(999 + i)) for i in range(5)],  # corrupt retransmit
            ]
            for g in groups:
                dt, _ = struct.unpack("<II", _recvall(sock, 8))
                assert dt == srv.DT_READY_FOR_CHUNK
                body = _pack_f64_chunk(g)
                sock.sendall(struct.pack("<IIII", srv.DT_CHUNK, len(g), 0, len(body)) + body)
            # server commits per chunk: the corrupt group fails the
            # byte-verify and the command answers a non-zero status.
            sock.sendall(struct.pack("<I", srv.DT_END))
            frames = b""
            while True:
                part = sock.recv(4096)
                if not part:
                    break
                frames += part
            # last 8 bytes on the stream are DT_STATUS_CODE + code
            dt, code = struct.unpack("<Ii", frames[-8:])
            assert dt == srv.DT_STATUS_CODE and code != 0
        finally:
            sock.close()
    # the first group committed (reference WAL shape); the corrupt one did not
    got = c.select_points_limit("db", "m", "sy", ["v"], 0, 2**64 - 1, None).collect()
    assert len(got) == 5


def test_select_unbounded_paginates(spark, tmp_path, monkeypatch):
    """An unbounded SELECT streams in time-paginated segments (driver
    memory bounded by SELECT_SEGMENT_POINTS) with no row lost or
    reordered across segment seams, and a bounded NLIMIT still honors
    the limit across segments."""
    monkeypatch.setattr(srv, "SELECT_SEGMENT_POINTS", 100)
    wh = str(tmp_path / "wh")
    c = TsdbClient(spark, wh)
    c.create_database("db")
    c.create_measurement("db", "m", {"v": "f64"})
    n = 337
    pdf = pd.DataFrame(
        {
            "series": ["s1"] * n,
            "time_ns": [10 * i for i in range(n)],
            "v": [float(i) for i in range(n)],
        }
    )
    c.write_points("db", "m", spark.createDataFrame(pdf, c.catalog.spark_schema("db", "m")))

    with TsdbServer(spark, wh, port=0) as s, WireClient("127.0.0.1", s.address[1]) as conn:
        got = conn.select_points_limit("db", "m", "s1", ["v"], 0, 2**64 - 1, 2**64 - 1)
        ts = [int(t) for t in got["time_ns"]]
        vs = [float(v) for v in got["v"]]
        assert ts == [10 * i for i in range(n)]
        assert vs == [float(i) for i in range(n)]

        # bounded limit that crosses a segment boundary
        got = conn.select_points_limit("db", "m", "s1", ["v"], 0, 2**64 - 1, 250)
        ts = [int(t) for t in got["time_ns"]]
        assert ts == [10 * i for i in range(250)]


def test_select_after_compaction_over_wire(spark, tmp_path):
    """Generation-pointer compaction under a live server: reads through
    the wire resolve the new generation directory transparently."""
    from simple_tsdb_spark.sources.writer import compact_measurement

    wh = str(tmp_path / "wh")
    c = TsdbClient(spark, wh)
    c.create_database("db")
    c.create_measurement("db", "m", {"v": "f64"})
    schema_t = c.catalog.spark_schema("db", "m")
    for k in range(3):  # several appends → several small files
        pdf = pd.DataFrame(
            {
                "series": ["s1"] * 50,
                "time_ns": [1000 * k + i for i in range(50)],
                "v": [float(k * 50 + i) for i in range(50)],
            }
        )
        c.write_points("db", "m", spark.createDataFrame(pdf, schema_t))

    with TsdbServer(spark, wh, port=0) as s, WireClient("127.0.0.1", s.address[1]) as conn:

        def read_all():
            got = conn.select_points_limit("db", "m", "s1", ["v"], 0, 2**64 - 1, 2**64 - 1)
            return [(int(t), float(v)) for t, v in zip(got["time_ns"], got["v"])]

        before = read_all()
        compact_measurement(spark, c.catalog.measurement_path("db", "m"))
        after = read_all()
        assert after == before and len(after) == 150
        # and the post-compaction store still accepts validated writes
        pdf = pd.DataFrame({"series": ["s1"], "time_ns": [10**9], "v": [9.0]})
        c.write_points("db", "m", spark.createDataFrame(pdf, schema_t))
        assert len(read_all()) == 151
