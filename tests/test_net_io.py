"""Protocol inputs/outputs against real localhost servers: exec, http
input, http POST output, tcp socket output, GELF UDP output (chunk
reassembly + gunzip verified)."""

import gzip
import json
import socket
import socketserver
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql import functions as F

from gogstash_spark import outputs
from gogstash_spark.runner import run_pipeline
from gogstash_spark.sources.ingest import exec_input, http_input


@pytest.fixture()
def events_df(spark):
    return spark.createDataFrame(
        [("e1", "user"), ("e2", "tool"), ("e3", "user")], "text string, role string"
    ).repartition(2)


class _HttpRecorder(BaseHTTPRequestHandler):
    bodies: list[bytes] = []

    def do_POST(self):
        n = int(self.headers.get("Content-Length", 0))
        _HttpRecorder.bodies.append(self.rfile.read(n))
        self.send_response(200)
        self.end_headers()

    def do_GET(self):
        body = b"line one\nline two\n"
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture()
def http_server():
    _HttpRecorder.bodies = []
    srv = HTTPServer(("127.0.0.1", 0), _HttpRecorder)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield "http://127.0.0.1:%d/" % srv.server_address[1]
    srv.shutdown()


class TestHttpIO:
    def test_http_output_posts_ndjson(self, spark, events_df, http_server):
        sent = outputs.http_output(events_df, http_server, batch_size=2)
        assert sent == 3
        lines = b"".join(_HttpRecorder.bodies).decode().strip().splitlines()
        got = sorted(json.loads(ln)["message"] for ln in lines)
        assert got == ["e1", "e2", "e3"]

    def test_http_input_lines(self, spark, http_server):
        df = http_input(spark, http_server)
        assert sorted(r["text"] for r in df.collect()) == ["line one", "line two"]

    def test_runner_http_sink(self, spark, events_df, http_server, tmp_path):
        res = run_pipeline(
            spark,
            {
                "input": {},
                "filter": [],
                "output": [
                    {"type": "http", "name": "web", "url": http_server,
                     "condition": "role == 'user'"},
                    {"type": "table", "name": "rest", "condition": "role != 'user'"},
                ],
                "aggregate": [{"name": "counts", "group_by": ["role"]}],
            },
            input_df=events_df,
            out_dir=str(tmp_path / "out"),
            resume=False,
        )
        assert res.sink_rows == {"web": 2, "rest": 1}


class TestLokiOutput:
    def test_loki_payload_shape(self, spark, http_server):
        df = spark.createDataFrame(
            [("e1",), ("e2",)], "text string"
        ).withColumn("ts", F.to_timestamp(F.lit("2024-03-01 12:00:00")))
        sent = outputs.loki_output(df.coalesce(1), http_server, labels={"job": "t"})
        assert sent == 2
        payload = json.loads(_HttpRecorder.bodies[-1])
        stream = payload["streams"][0]
        assert stream["stream"] == {"job": "t"}
        assert len(stream["values"]) == 2
        ns, line = stream["values"][0]
        assert int(ns) > 1_600_000_000 * 10**9  # ns epoch
        assert json.loads(line)["message"] in ("e1", "e2")


def _stream_spool(spark, typ, spool, name):
    """Stream a listener spool the way a config reads it: through
    stream_source with the input from_gogstash maps the listener to.
    Returns the `text` of every event."""
    from gogstash_spark.plans.spec import PipelineSpec
    from gogstash_spark.sources.files import stream_source

    inp = PipelineSpec.from_gogstash(
        {"input": [{"type": typ, "spool_dir": spool}], "output": [{"type": "stdout"}]}
    ).input
    q = (
        stream_source(spark, inp)
        .writeStream.format("memory").queryName(name)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return sorted(r["text"] for r in spark.sql("SELECT * FROM %s" % name).collect())


class TestListenerInputs:
    def test_httplisten_to_stream(self, spark, tmp_path):
        import urllib.request

        from gogstash_spark.sources.ingest import httplisten_input

        spool = str(tmp_path / "spool_http")
        srv, addr = httplisten_input(spool)
        try:
            req = urllib.request.Request(
                "http://%s/" % addr, data=b"ev one\nev two\n", method="POST"
            )
            urllib.request.urlopen(req, timeout=5).read()
        finally:
            srv.shutdown()
        assert _stream_spool(spark, "httplisten", spool, "httplisten_t") == ["ev one", "ev two"]

    def test_socket_listen_to_stream(self, spark, tmp_path):
        from gogstash_spark.sources.ingest import socket_listen_input

        spool = str(tmp_path / "spool_sock")
        srv, addr = socket_listen_input(spool)
        host, _, port = addr.rpartition(":")
        try:
            conn = socket.create_connection((host, int(port)), timeout=5)
            conn.sendall(b"sock one\nsock two\n")
            conn.close()
            import time
            for _ in range(50):  # listener thread drains asynchronously
                import os
                if len([f for f in os.listdir(spool) if not f.startswith(".")]) >= 2:
                    break
                time.sleep(0.1)
        finally:
            srv.shutdown()
        assert _stream_spool(spark, "socket", spool, "socklisten_t") == ["sock one", "sock two"]


class TestBeatsInput:
    """Speak lumberjack v2 to the beats listener like a filebeat would:
    window frame, zlib-compressed batch of JSON data frames, wait for
    the ACK, then watch the events emerge from the spool, read with the
    json codec that from_gogstash gives a beats input."""

    @staticmethod
    def _jframe(seq: int, doc: dict) -> bytes:
        import json as _json
        import struct

        payload = _json.dumps(doc).encode()
        return b"2J" + struct.pack(">II", seq, len(payload)) + payload

    def test_lumberjack_v2_roundtrip(self, spark, tmp_path):
        import struct
        import zlib

        from gogstash_spark.sources.ingest import beats_input

        spool = str(tmp_path / "spool_beats")
        srv, addr = beats_input(spool)
        host, _, port = addr.rpartition(":")
        try:
            conn = socket.create_connection((host, int(port)), timeout=5)
            events = [
                {"message": "beat one", "beat": {"hostname": "edge-1"}},
                {"message": "beat two", "beat": {"hostname": "edge-1"}},
                {"message": "beat three", "beat": {"hostname": "edge-2"}},
            ]
            frames = b"".join(self._jframe(i + 1, e) for i, e in enumerate(events))
            comp = zlib.compress(frames)
            conn.sendall(b"2W" + struct.pack(">I", len(events)))
            conn.sendall(b"2C" + struct.pack(">I", len(comp)) + comp)
            ack = b""
            while len(ack) < 6:
                chunk = conn.recv(6 - len(ack))
                assert chunk, "no ACK before close"
                ack += chunk
            assert ack[:2] == b"2A"
            assert struct.unpack(">I", ack[2:])[0] == len(events)
            conn.close()
        finally:
            srv.shutdown()
        # the json codec lifts each lumberjack `message` into text
        assert _stream_spool(spark, "beats", spool, "beats_t") == [
            "beat one", "beat three", "beat two",
        ]

    def test_lumberjack_uncompressed_and_kv_frames(self, tmp_path):
        import os
        import struct
        import time

        from gogstash_spark.sources.ingest import beats_input

        spool = str(tmp_path / "spool_beats2")
        srv, addr = beats_input(spool)
        host, _, port = addr.rpartition(":")
        try:
            conn = socket.create_connection((host, int(port)), timeout=5)
            conn.sendall(b"2W" + struct.pack(">I", 2))
            conn.sendall(self._jframe(1, {"message": "plain json"}))
            kv = b"2D" + struct.pack(">II", 2, 1)
            kv += struct.pack(">I", 7) + b"message"
            kv += struct.pack(">I", 8) + b"plain kv"
            conn.sendall(kv)
            ack = conn.recv(6)
            assert ack[:2] == b"2A" and struct.unpack(">I", ack[2:6])[0] == 2
            conn.close()
            for _ in range(50):
                if [f for f in os.listdir(spool) if not f.startswith(".")]:
                    break
                time.sleep(0.1)
        finally:
            srv.shutdown()
        import json as _json

        lines = []
        for f in sorted(os.listdir(spool)):
            if not f.startswith("."):
                lines += open(os.path.join(spool, f)).read().splitlines()
        msgs = sorted(_json.loads(ln)["message"] for ln in lines)
        assert msgs == ["plain json", "plain kv"]

    def test_tls_verify_without_cert_raises(self, tmp_path):
        """ssl_verify=True with no cert/key must error, never silently
        serve plaintext when the caller asked for mutual TLS."""
        import pytest as _pytest

        from gogstash_spark.sources.ingest import beats_input

        with _pytest.raises(ValueError, match="ssl_certificate"):
            beats_input(str(tmp_path / "sp"), ssl_verify=True)
        # ssl_ca alone is also a TLS request (client-cert verification)
        with _pytest.raises(ValueError, match="ssl_certificate"):
            beats_input(str(tmp_path / "sp"), ssl_ca="ca.pem")

    def test_lumberjack_over_tls(self, tmp_path):
        """TLS listener (reference inputbeats.go:33-40,78-87): same
        lumberjack frames through an ssl-wrapped connection, self-signed
        server cert, client skips verification (ssl_verify=false mode)."""
        import json as _json
        import os
        import ssl
        import struct
        import subprocess
        import time

        from gogstash_spark.sources.ingest import beats_input

        cert = str(tmp_path / "srv.crt")
        key = str(tmp_path / "srv.key")
        subprocess.run(
            ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
             "-keyout", key, "-out", cert, "-days", "1",
             "-subj", "/CN=127.0.0.1"],
            check=True, capture_output=True,
        )
        spool = str(tmp_path / "spool_tls")
        srv, addr = beats_input(spool, ssl_certificate=cert, ssl_key=key)
        host, _, port = addr.rpartition(":")
        try:
            # a client that connects and STALLS mid-handshake must only
            # block its own handler thread — the TLS exchange below has
            # to succeed while this one sits silent (the handshake runs
            # in the handler, never the accept loop)
            stalled = socket.create_connection((host, int(port)), timeout=5)
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
            raw = socket.create_connection((host, int(port)), timeout=5)
            conn = ctx.wrap_socket(raw)
            conn.sendall(b"2W" + struct.pack(">I", 1))
            conn.sendall(self._jframe(1, {"message": "secure beat"}))
            ack = b""
            while len(ack) < 6:
                chunk = conn.recv(6 - len(ack))
                assert chunk, "no ACK before close"
                ack += chunk
            assert ack[:2] == b"2A" and struct.unpack(">I", ack[2:6])[0] == 1
            conn.close()
            # a PLAINTEXT client must be rejected by the TLS listener
            plain = socket.create_connection((host, int(port)), timeout=5)
            plain.sendall(b"2W" + struct.pack(">I", 1))
            plain.settimeout(5)
            try:
                got = plain.recv(6)
            except (ConnectionError, OSError):
                got = b""
            assert not got.startswith(b"2A")
            plain.close()
            stalled.close()
            for _ in range(50):
                if [f for f in os.listdir(spool) if not f.startswith(".")]:
                    break
                time.sleep(0.1)
        finally:
            srv.shutdown()
        lines = []
        for f in sorted(os.listdir(spool)):
            if not f.startswith("."):
                lines += open(os.path.join(spool, f)).read().splitlines()
        assert [_json.loads(ln)["message"] for ln in lines] == ["secure beat"]


class TestProtocolOutputTypes:
    def test_one_list_for_compile_and_emit(self):
        """`outputs.PROTOCOL_OUTPUTS` is the one list: the compiler gives
        exactly those types a protocol route and `emit` dispatches each."""
        import inspect
        import re

        from gogstash_spark.plans.compile import flatten_outputs

        kinds = sorted(outputs.PROTOCOL_OUTPUTS) + ["table", "elastic"]
        routes = flatten_outputs([{"type": t, "name": t} for t in kinds])
        assert {r.sink for r in routes if r.out_cfg is not None} == outputs.PROTOCOL_OUTPUTS
        dispatched = set(re.findall(r'typ == "(\w+)"', inspect.getsource(outputs.emit)))
        assert dispatched == outputs.PROTOCOL_OUTPUTS


class TestPartitionedProtocolSink:
    def test_http_sink_emits_in_partitioned_mode(self, spark, events_df, http_server, tmp_path):
        res = run_pipeline(
            spark,
            {
                "input": {},
                "filter": [],
                "output": [
                    {"type": "http", "name": "web", "url": http_server,
                     "condition": "role == 'user'"},
                    {"type": "table", "name": "rest", "condition": "role != 'user'"},
                ],
                "aggregate": [{"name": "counts", "group_by": ["role"]}],
            },
            input_df=events_df,
            out_dir=str(tmp_path / "out"),
            write_mode="partitioned", resume=False,
        )
        assert res.sink_rows["web"] == 2 and res.sink_rows["rest"] == 1
        lines = b"".join(_HttpRecorder.bodies).decode().strip().splitlines()
        assert sorted(json.loads(ln)["message"] for ln in lines) == ["e1", "e3"]


class TestGelfOversize:
    def test_oversize_error_and_drop(self, spark):
        import random

        import string

        rng = random.Random(3)
        # high-entropy text: gzip stays > 128 chunks * 1420 B
        huge = "".join(rng.choice(string.ascii_letters + string.digits)
                       for _ in range(400_000))
        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        sock.bind(("127.0.0.1", 0))
        addr = "127.0.0.1:%d" % sock.getsockname()[1]
        df = spark.createDataFrame([(huge,)], "text string").coalesce(1)
        with pytest.raises(Exception, match="chunk"):
            outputs.gelf_output(df, addr, chunk_size=1420)  # >128 chunks
        sent = outputs.gelf_output(df, addr, chunk_size=1420, on_oversize="drop")
        assert sent == 0  # dropped, reflected in the count
        sock.close()


class TestExecInput:
    def test_lines_and_prefix(self, spark):
        df = exec_input(spark, "printf", ["a\\nb\\n"], message_prefix="x ")
        assert sorted(r["text"] for r in df.collect()) == ["x a", "x b"]


class _TcpRecorder(socketserver.StreamRequestHandler):
    lines: list[bytes] = []

    def handle(self):
        for ln in self.rfile:
            _TcpRecorder.lines.append(ln.strip())


class TestSocketOutput:
    def test_tcp_lines(self, spark, events_df):
        _TcpRecorder.lines = []
        srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _TcpRecorder)
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        try:
            addr = "127.0.0.1:%d" % srv.server_address[1]
            sent = outputs.socket_output(events_df, addr)
            assert sent == 3
            got = sorted(json.loads(ln)["message"] for ln in _TcpRecorder.lines)
            assert got == ["e1", "e2", "e3"]
        finally:
            srv.shutdown()

    def test_empty_partitions_open_no_connection(self, spark):
        """One row over 8 partitions: only the one non-empty task
        connects."""
        conns = []

        class _Counting(_TcpRecorder):
            def handle(self):
                conns.append(self.client_address)
                super().handle()

        _TcpRecorder.lines = []
        srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _Counting)
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        try:
            df = spark.createDataFrame([("e1",)], "text string").repartition(8)
            assert df.rdd.getNumPartitions() == 8
            sent = outputs.socket_output(df, "127.0.0.1:%d" % srv.server_address[1])
        finally:
            srv.shutdown()
            srv.server_close()  # joins the handler threads
        assert sent == 1
        assert len(conns) == 1
        assert [json.loads(ln)["message"] for ln in _TcpRecorder.lines] == ["e1"]


class TestGelfOutput:
    def _recv_all(self, sock, expect_msgs: int):
        datagrams = []
        sock.settimeout(5)
        try:
            while True:
                datagrams.append(sock.recv(65535))
                # heuristic stop: enough datagrams to cover expected msgs
                if len(datagrams) >= expect_msgs and not any(
                    d[:2] == outputs.GELF_MAGIC for d in datagrams
                ):
                    break
        except socket.timeout:
            pass
        return datagrams

    def _reassemble(self, datagrams):
        msgs, chunks = [], {}
        for d in datagrams:
            if d[:2] == outputs.GELF_MAGIC:
                mid, seq, total = d[2:10], d[10], d[11]
                chunks.setdefault((mid, total), {})[seq] = d[12:]
            else:
                msgs.append(d)
        for (mid, total), parts in chunks.items():
            assert len(parts) == total
            msgs.append(b"".join(parts[i] for i in range(total)))
        return [json.loads(gzip.decompress(m)) for m in msgs]

    def test_gelf_datagrams_and_chunking(self, spark):
        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        sock.bind(("127.0.0.1", 0))
        addr = "127.0.0.1:%d" % sock.getsockname()[1]
        big = "z" * 9000  # gzip of repeated char stays small; add entropy
        import random

        rng = random.Random(7)
        big = "".join(rng.choice("abcdefgh ") for _ in range(9000))
        df = spark.createDataFrame(
            [("small msg", "user"), (big, "tool")], "text string, role string"
        ).coalesce(1)
        sent = outputs.gelf_output(df, addr, chunk_size=1420)
        assert sent == 2
        msgs = self._reassemble(self._recv_all(sock, 2))
        sock.close()
        by_role = {m["_role"]: m for m in msgs}
        assert by_role["user"]["short_message"] == "small msg"
        assert by_role["tool"]["short_message"] == big
        assert all(m["version"] == "1.1" for m in msgs)


class _RespRecorder(socketserver.StreamRequestHandler):
    """Minimal RESP server: parses array-of-bulk-strings commands,
    records them, answers :1 (or -ERR for a 'boom' key)."""
    commands: list[list[bytes]] = []

    def handle(self):
        while True:
            line = self.rfile.readline()
            if not line or not line.startswith(b"*"):
                return
            nargs = int(line[1:].strip())
            args = []
            for _ in range(nargs):
                ln = int(self.rfile.readline()[1:].strip())
                args.append(self.rfile.read(ln))
                self.rfile.read(2)  # \r\n
            _RespRecorder.commands.append(args)
            if args[1] == b"boom":
                self.wfile.write(b"-ERR synthetic\r\n")
            else:
                self.wfile.write(b":1\r\n")


class _NsqRecorder(socketserver.StreamRequestHandler):
    """Minimal nsqd: expects '  V2' magic then PUB frames; records
    (topic, body), answers OK response frames."""
    messages: list[tuple[str, bytes]] = []

    def handle(self):
        import struct

        magic = self.rfile.read(4)
        assert magic == b"  V2", magic
        while True:
            line = self.rfile.readline()
            if not line:
                return
            cmd = line.decode().strip().split()
            assert cmd[0] == "PUB", cmd
            size = struct.unpack(">I", self.rfile.read(4))[0]
            body = self.rfile.read(size)
            _NsqRecorder.messages.append((cmd[1], body))
            data = b"OK"
            self.wfile.write(struct.pack(">Ii", len(data) + 4, 0) + data)


class _SmtpRecorder(socketserver.StreamRequestHandler):
    """Minimal ESMTP server: 220 greeting, 250s, 354 DATA; records
    (mail_from, rcpts, data)."""
    messages: list[dict] = []

    def handle(self):
        def send(s):
            self.wfile.write(s.encode() + b"\r\n")

        send("220 fake ESMTP")
        cur = {"rcpt": []}
        while True:
            line = self.rfile.readline()
            if not line:
                return
            u = line.decode().strip()
            up = u.upper()
            if up.startswith(("EHLO", "HELO")):
                send("250 fake")
            elif up.startswith("MAIL FROM:"):
                cur["from"] = u[10:].strip(" <>")
                send("250 ok")
            elif up.startswith("RCPT TO:"):
                cur["rcpt"].append(u[8:].strip(" <>"))
                send("250 ok")
            elif up == "DATA":
                send("354 go")
                data = []
                while True:
                    ln = self.rfile.readline().decode()
                    if ln.rstrip("\r\n") == ".":
                        break
                    data.append(ln)
                cur["data"] = "".join(data)
                _SmtpRecorder.messages.append(cur)
                cur = {"rcpt": []}
                send("250 queued")
            elif up == "QUIT":
                send("221 bye")
                return
            else:
                send("250 ok")


def _tcp_server(handler):
    srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), handler)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, "127.0.0.1:%d" % srv.server_address[1]


class TestBrokerSinks:
    """redis / nsq / email emitters against live localhost fakes that
    speak the real wire protocols (RESP, nsq TCP v2, ESMTP)."""

    def test_redis_lpush_roundtrip(self, spark, events_df):
        _RespRecorder.commands = []
        srv, addr = _tcp_server(_RespRecorder)
        try:
            sent = outputs.redis_output(
                events_df, addr, key="gogstash-%{role}", data_type="list"
            )
        finally:
            srv.shutdown()
        assert sent == 3
        cmds = _RespRecorder.commands
        assert all(c[0] == b"LPUSH" for c in cmds)
        keys = sorted(c[1].decode() for c in cmds)
        assert keys == ["gogstash-tool", "gogstash-user", "gogstash-user"]
        bodies = {json.loads(c[2])["message"] for c in cmds}
        assert bodies == {"e1", "e2", "e3"}

    def test_redis_publish_and_error_surfaces(self, spark, events_df):
        _RespRecorder.commands = []
        srv, addr = _tcp_server(_RespRecorder)
        try:
            sent = outputs.redis_output(
                events_df, addr, key="chan", data_type="channel"
            )
            assert sent == 3
            assert all(c[0] == b"PUBLISH" for c in _RespRecorder.commands)
            with pytest.raises(Exception, match="synthetic"):
                outputs.redis_output(events_df, addr, key="boom")
        finally:
            srv.shutdown()

    def test_nsq_pub_roundtrip(self, spark, events_df):
        _NsqRecorder.messages = []
        srv, addr = _tcp_server(_NsqRecorder)
        try:
            sent = outputs.nsq_output(events_df, addr, topic="logs")
        finally:
            srv.shutdown()
        assert sent == 3
        assert {t for t, _ in _NsqRecorder.messages} == {"logs"}
        assert {json.loads(b)["message"] for _, b in _NsqRecorder.messages} == {
            "e1", "e2", "e3",
        }

    def test_email_per_event(self, spark, events_df):
        _SmtpRecorder.messages = []
        srv, addr = _tcp_server(_SmtpRecorder)
        host, _, port = addr.rpartition(":")
        try:
            sent = outputs.email_output(
                events_df, host, from_addr="gs@x", to="ops@x,sre@x",
                subject="alert %{role}", port=int(port),
            )
        finally:
            srv.shutdown()
        assert sent == 3
        msgs = _SmtpRecorder.messages
        assert len(msgs) == 3
        assert all(m["from"] == "gs@x" and m["rcpt"] == ["ops@x", "sre@x"] for m in msgs)
        subjects = sorted(
            ln.split(":", 1)[1].strip()
            for m in msgs for ln in m["data"].splitlines()
            if ln.lower().startswith("subject:")
        )
        assert subjects == ["alert tool", "alert user", "alert user"]


class TestNsqHeartbeat:
    def test_heartbeat_frames_are_answered_not_fatal(self, spark, events_df):
        import struct

        class _NsqHeartbeat(_NsqRecorder):
            nops: list[bytes] = []

            def handle(self):
                magic = self.rfile.read(4)
                assert magic == b"  V2", magic
                first = True
                while True:
                    line = self.rfile.readline()
                    if not line:
                        return
                    cmd = line.decode().strip().split()
                    if cmd[0] == "NOP":
                        _NsqHeartbeat.nops.append(b"NOP")
                        continue
                    assert cmd[0] == "PUB", cmd
                    size = struct.unpack(">I", self.rfile.read(4))[0]
                    body = self.rfile.read(size)
                    _NsqRecorder.messages.append((cmd[1], body))
                    if first:  # unsolicited heartbeat BEFORE the PUB reply
                        hb = b"_heartbeat_"
                        self.wfile.write(
                            struct.pack(">Ii", len(hb) + 4, 0) + hb
                        )
                        first = False
                    data = b"OK"
                    self.wfile.write(struct.pack(">Ii", len(data) + 4, 0) + data)

        _NsqRecorder.messages = []
        _NsqHeartbeat.nops = []
        srv, addr = _tcp_server(_NsqHeartbeat)
        try:
            sent = outputs.nsq_output(events_df.coalesce(1), addr, topic="logs")
        finally:
            srv.shutdown()
        assert sent == 3
        assert len(_NsqRecorder.messages) == 3
        assert _NsqHeartbeat.nops  # we answered the heartbeat


class _AmqpBroker(socketserver.StreamRequestHandler):
    """Minimal AMQP 0-9-1 broker: full handshake, channel/exchange
    bookkeeping, records publishes as (exchange, routing_key, body,
    persistent)."""
    publishes: list[tuple] = []
    declares: list[tuple] = []
    close_error: tuple | None = None  # (code, text): reply Close, not Close-OK

    def handle(self):
        import struct

        from gogstash_spark import amqp091 as A

        sock = self.request
        hdr = A.read_exact(sock, 8)
        assert hdr == b"AMQP\x00\x00\x09\x01", hdr
        # Start: ver 0.9, empty server-props table, PLAIN, en_US
        start = A.method(A.CONN_START, bytes([0, 9]) + A.longstr(b"")
                         + A.longstr(b"PLAIN") + A.longstr(b"en_US"))
        A.write_frame(sock, A.FRAME_METHOD, 0, start)
        pending_pub = None  # (exchange, rkey) awaiting header/body
        body_left, body_acc, pub_flags = 0, b"", 0
        while True:
            try:
                ftype, ch, payload = A.read_frame(sock)
            except (ConnectionError, OSError):
                return
            if ftype == A.FRAME_METHOD:
                cm, args = A.parse_method(payload)
                if cm == A.CONN_START_OK:
                    mech_off = 4 + struct.unpack(">I", args[:4])[0]
                    n = args[mech_off]
                    assert args[mech_off + 1:mech_off + 1 + n] == b"PLAIN"
                    A.write_frame(sock, A.FRAME_METHOD, 0,
                                  A.method(A.CONN_TUNE, struct.pack(">HIH", 0, 131072, 0)))
                elif cm == A.CONN_TUNE_OK:
                    pass
                elif cm == A.CONN_OPEN:
                    A.write_frame(sock, A.FRAME_METHOD, 0,
                                  A.method(A.CONN_OPEN_OK, A.shortstr("")))
                elif cm == A.CH_OPEN:
                    A.write_frame(sock, A.FRAME_METHOD, ch,
                                  A.method(A.CH_OPEN_OK, A.longstr(b"")))
                elif cm == A.EX_DECLARE:
                    p = 2
                    n = args[p]; ex = args[p+1:p+1+n].decode(); p += 1 + n
                    n = args[p]; et = args[p+1:p+1+n].decode(); p += 1 + n
                    bits = args[p]
                    _AmqpBroker.declares.append((ex, et, bits))
                    A.write_frame(sock, A.FRAME_METHOD, ch,
                                  A.method(A.EX_DECLARE_OK))
                elif cm == A.BASIC_PUBLISH:
                    p = 2
                    n = args[p]; ex = args[p+1:p+1+n].decode(); p += 1 + n
                    n = args[p]; rk = args[p+1:p+1+n].decode(); p += 1 + n
                    pending_pub = (ex, rk)
                elif cm == A.CONN_CLOSE:
                    if _AmqpBroker.close_error:
                        # broker reports publish failures as its OWN
                        # Connection.Close instead of Close-OK
                        code, txt = _AmqpBroker.close_error
                        A.write_frame(
                            sock, A.FRAME_METHOD, 0,
                            A.method(A.CONN_CLOSE,
                                     struct.pack(">H", code) + A.shortstr(txt)
                                     + struct.pack(">HH", 0, 0)))
                        return
                    A.write_frame(sock, A.FRAME_METHOD, 0,
                                  A.method(A.CONN_CLOSE_OK))
                    return
            elif ftype == A.FRAME_HEADER:
                _cls, _w, body_left, pub_flags = struct.unpack(">HHQH", payload[:14])
                body_acc = b""
                if body_left == 0 and pending_pub:
                    _AmqpBroker.publishes.append(
                        (*pending_pub, b"", bool(pub_flags & 0x1000)))
                    pending_pub = None
            elif ftype == A.FRAME_BODY:
                body_acc += payload
                if len(body_acc) >= body_left and pending_pub:
                    _AmqpBroker.publishes.append(
                        (*pending_pub, body_acc, bool(pub_flags & 0x1000)))
                    pending_pub = None


class TestAmqpOutput:
    def test_publish_roundtrip(self, spark, events_df):
        _AmqpBroker.publishes = []
        _AmqpBroker.declares = []
        _AmqpBroker.close_error = None
        srv, addr = _tcp_server(_AmqpBroker)
        try:
            sent = outputs.amqp_output(
                events_df, "amqp://guest:guest@%s/" % addr,
                exchange="logs", exchange_type="topic",
                routing_key="ev.%{role}", persistent=True,
            )
        finally:
            srv.shutdown()
        assert sent == 3
        assert all(d[0] == "logs" and d[1] == "topic" for d in _AmqpBroker.declares)
        pubs = _AmqpBroker.publishes
        assert len(pubs) == 3
        assert {p[1] for p in pubs} == {"ev.user", "ev.tool"}
        assert all(p[0] == "logs" and p[3] for p in pubs)  # persistent flag
        assert {json.loads(p[2])["message"] for p in pubs} == {"e1", "e2", "e3"}

    def test_broker_close_error_surfaces_on_close(self):
        """publish is fire-and-forget; a broker that rejected publishes
        reports it as Connection.Close while the client awaits
        CONN_CLOSE_OK — close() must raise, not count them as sent."""
        import pytest

        from gogstash_spark.amqp091 import AmqpClosedError, AmqpPublisher

        _AmqpBroker.publishes = []
        _AmqpBroker.close_error = (404, "NOT_FOUND - no exchange 'nope'")
        srv, addr = _tcp_server(_AmqpBroker)
        try:
            pub = AmqpPublisher("amqp://guest:guest@%s/" % addr)
            pub.publish("nope", "rk", b"dropped")
            with pytest.raises(AmqpClosedError) as ei:
                pub.close()
            assert ei.value.code == 404
        finally:
            _AmqpBroker.close_error = None
            srv.shutdown()


class TestRedisInput:
    def test_lpop_drain(self, spark):
        """redis list input: drain with LPOP count batches until empty."""

        class _RedisList(socketserver.StreamRequestHandler):
            items = ["ev one", "ev two", "ev three"]

            def handle(self):
                while True:
                    line = self.rfile.readline()
                    if not line or not line.startswith(b"*"):
                        return
                    nargs = int(line[1:].strip())
                    args = []
                    for _ in range(nargs):
                        ln = int(self.rfile.readline()[1:].strip())
                        args.append(self.rfile.read(ln))
                        self.rfile.read(2)
                    assert args[0] == b"LPOP" and args[1] == b"q1"
                    count = int(args[2])
                    take, _RedisList.items = (
                        _RedisList.items[:count], _RedisList.items[count:]
                    )
                    if not take:
                        self.wfile.write(b"*-1\r\n")  # nil: list empty
                        continue
                    out = b"*%d\r\n" % len(take)
                    for it in take:
                        b = it.encode()
                        out += b"$%d\r\n%s\r\n" % (len(b), b)
                    self.wfile.write(out)

        from gogstash_spark.sources.ingest import redis_input

        _RedisList.items = ["ev one", "ev two", "ev three"]
        srv, addr = _tcp_server(_RedisList)
        try:
            df = redis_input(spark, addr, key="q1")
            got = sorted(r["text"] for r in df.collect())
        finally:
            srv.shutdown()
        assert got == ["ev one", "ev three", "ev two"]
        assert _RedisList.items == []


class TestNsqInput:
    def test_sub_drain_with_fin(self, spark):
        """nsqd SUB/RDY/FIN drain: messages delivered as frames, FINed,
        heartbeats answered, idle timeout ends the batch."""
        import struct

        class _Nsqd(socketserver.StreamRequestHandler):
            fins: list[bytes] = []

            def handle(self):
                magic = self.rfile.read(4)
                assert magic == b"  V2", magic
                sub = self.rfile.readline().decode().split()
                assert sub == ["SUB", "logs", "ch1"], sub
                ok = b"OK"
                self.wfile.write(struct.pack(">Ii", len(ok) + 4, 0) + ok)
                rdy = self.rfile.readline().decode().split()
                assert rdy[0] == "RDY" and int(rdy[1]) > 0
                # heartbeat first, then three messages
                hb = b"_heartbeat_"
                self.wfile.write(struct.pack(">Ii", len(hb) + 4, 0) + hb)
                for i, body in enumerate([b"n one", b"n two", b"n three"]):
                    mid = b"%016d" % i
                    payload = struct.pack(">q", 0) + struct.pack(">H", 1) + mid + body
                    self.wfile.write(
                        struct.pack(">Ii", len(payload) + 4, 2) + payload
                    )
                # drain client commands (NOP + FINs) until it disconnects
                while True:
                    line = self.rfile.readline()
                    if not line:
                        return
                    cmd = line.decode().split()
                    if cmd and cmd[0] == "FIN":
                        _Nsqd.fins.append(cmd[1].encode())

        from gogstash_spark.sources.ingest import nsq_input

        _Nsqd.fins = []
        srv, addr = _tcp_server(_Nsqd)
        try:
            df = nsq_input(spark, addr, "logs", channel="ch1", idle_timeout=0.5)
            got = sorted(r["text"] for r in df.collect())
        finally:
            srv.shutdown()
        assert got == ["n one", "n three", "n two"]
        assert len(_Nsqd.fins) == 3


class TestNatsInput:
    def test_core_sub_drain(self, spark):
        """NATS core protocol: INFO -> CONNECT/SUB -> MSG frames with
        PING answered by PONG; idle timeout with an empty buffer ends
        the drain."""

        class _Nats(socketserver.StreamRequestHandler):
            pongs: list[bytes] = []

            def handle(self):
                self.wfile.write(b'INFO {"server_id":"fake","version":"2.0.0"}\r\n')
                # read CONNECT and SUB
                connect = self.rfile.readline()
                assert connect.startswith(b"CONNECT "), connect
                sub = self.rfile.readline().decode().split()
                assert sub[0] == "SUB" and sub[1] == "logs", sub
                sid = sub[2].encode()
                self.wfile.write(b"PING\r\n")
                msgs = [b"nats one", b"nats two"]
                for m in msgs:
                    self.wfile.write(
                        b"MSG logs %s %d\r\n%s\r\n" % (sid, len(m), m)
                    )
                while True:
                    line = self.rfile.readline()
                    if not line:
                        return
                    if line.strip() == b"PONG":
                        _Nats.pongs.append(b"PONG")

        from gogstash_spark.sources.ingest import nats_input

        _Nats.pongs = []
        srv, addr = _tcp_server(_Nats)
        try:
            df = nats_input(spark, addr, topic="logs", idle_timeout=0.5)
            got = sorted(r["text"] for r in df.collect())
        finally:
            srv.shutdown()
        assert got == ["nats one", "nats two"]
        assert _Nats.pongs  # keepalive answered

    def test_jetstream_pull_ack_and_redelivery(self, spark):
        """JetStream pull-consume is at-least-once: payloads are
        recorded BEFORE their +ACK goes out, and an ack the server
        never sees means redelivery on the next pull. The fake drops
        the FIRST ack it receives (a lost ack / consumer crash), so the
        second drain must redeliver exactly that message; a third pull
        gets the 404 status and returns empty without waiting out the
        idle timeout."""

        class _Js(socketserver.StreamRequestHandler):
            msgs = {1: b"js one", 2: b"js two", 3: b"js three"}
            acked: set = set()
            dropped_first_ack = False
            connect_opts: dict = {}

            def handle(self):
                self.wfile.write(b'INFO {"server_id":"fakejs"}\r\n')
                inbox = None
                while True:
                    line = self.rfile.readline()
                    if not line:
                        return
                    parts = line.decode().split()
                    if not parts:
                        continue
                    if parts[0] == "CONNECT":
                        _Js.connect_opts = json.loads(line.decode()[8:])
                        continue
                    if parts[0] == "SUB":
                        inbox = parts[1]
                        continue
                    if parts[0] != "PUB":
                        continue
                    subject, nbytes = parts[1], int(parts[-1])
                    body = self.rfile.read(nbytes + 2)[:-2]
                    if subject.startswith("$JS.API.CONSUMER.MSG.NEXT."):
                        req = json.loads(body)
                        pending = [s for s in sorted(_Js.msgs) if s not in _Js.acked]
                        out = pending[: req["batch"]]
                        for seq in out:
                            m = _Js.msgs[seq]
                            ack = "$JS.ACK.S.D.1.%d.%d.0.0" % (seq, seq)
                            if seq == 2:
                                # published WITH headers: arrives as HMSG
                                # with a header block before the body
                                h = b"NATS/1.0\r\nNats-Msg-Id: m2\r\n\r\n"
                                self.wfile.write(
                                    b"HMSG orders.x 1 %s %d %d\r\n%s%s\r\n"
                                    % (ack.encode(), len(h), len(h) + len(m), h, m)
                                )
                            else:
                                self.wfile.write(
                                    b"MSG orders.x 1 %s %d\r\n%s\r\n"
                                    % (ack.encode(), len(m), m)
                                )
                        if not out:
                            hdr = b"NATS/1.0 404 No Messages\r\n\r\n"
                            self.wfile.write(
                                b"HMSG %s 1 %d %d\r\n%s\r\n"
                                % (inbox.encode(), len(hdr), len(hdr), hdr)
                            )
                    elif subject.startswith("$JS.ACK."):
                        seq = int(subject.split(".")[5])
                        if not _Js.dropped_first_ack:
                            _Js.dropped_first_ack = True  # lost ack
                        else:
                            _Js.acked.add(seq)

        import time

        from gogstash_spark.sources.ingest import nats_jetstream_input

        _Js.acked = set()
        _Js.dropped_first_ack = False
        srv, addr = _tcp_server(_Js)
        try:
            d1 = [r["text"] for r in nats_jetstream_input(
                spark, addr, "S", "D", idle_timeout=0.5).collect()]
            d2 = [r["text"] for r in nats_jetstream_input(
                spark, addr, "S", "D", idle_timeout=0.5).collect()]
            t0 = time.time()
            d3 = [r["text"] for r in nats_jetstream_input(
                spark, addr, "S", "D", idle_timeout=5.0).collect()]
            fast_404 = time.time() - t0
        finally:
            srv.shutdown()
        assert sorted(d1) == ["js one", "js three", "js two"]
        assert d2 == ["js one"]  # the lost-ack message, redelivered
        assert d3 == [] and _Js.acked == {1, 2, 3}
        # the 404 status ended the drain, not the 5s idle timeout
        assert fast_404 < 4.0
        # the client must advertise header support or a real server
        # would strip HMSG down to plain MSGs (and statuses to empties)
        assert _Js.connect_opts.get("headers") is True

    def test_jetstream_error_status_raises(self, spark):
        """A persistent pull error (409 Exceeded MaxRequestBatch,
        Consumer Deleted, 503...) must raise, never return an empty
        frame every run with no operator-visible signal."""

        class _JsErr(socketserver.StreamRequestHandler):
            def handle(self):
                self.wfile.write(b'INFO {"server_id":"fakejs"}\r\n')
                inbox = None
                while True:
                    line = self.rfile.readline()
                    if not line:
                        return
                    parts = line.decode().split()
                    if not parts or parts[0] in ("CONNECT",):
                        continue
                    if parts[0] == "SUB":
                        inbox = parts[1]
                        continue
                    if parts[0] == "PUB":
                        self.rfile.read(int(parts[-1]) + 2)
                        hdr = b"NATS/1.0 409 Exceeded MaxRequestBatch\r\n\r\n"
                        self.wfile.write(
                            b"HMSG %s 1 %d %d\r\n%s\r\n"
                            % (inbox.encode(), len(hdr), len(hdr), hdr)
                        )

        from gogstash_spark.sources.ingest import nats_jetstream_input

        srv, addr = _tcp_server(_JsErr)
        try:
            with pytest.raises(RuntimeError, match="409"):
                nats_jetstream_input(spark, addr, "S", "D", idle_timeout=0.5)
        finally:
            srv.shutdown()


class _FakeDockerDaemon(socketserver.StreamRequestHandler):
    """Live Docker Engine API fake over a UNIX socket: /_ping,
    /containers/json, multiplexed /logs (c3 served CHUNKED), /stats."""

    import struct as _struct

    containers = [
        {"Id": "c1", "Names": ["/web"]},
        {"Id": "c2", "Names": ["/gogstash-agent"]},  # default-excluded
        {"Id": "c3", "Names": ["/db"]},
        {"Id": "c4", "Names": ["/term"]},  # tty:true -> RAW log stream
    ]
    stats_doc = {
        "read": "2024-03-01T10:00:00Z",
        "cpu_stats": {
            "cpu_usage": {"total_usage": 100, "percpu_usage": [50, 50],
                          "usage_in_kernelmode": 10, "usage_in_usermode": 20},
            "system_cpu_usage": 99999,
        },
        "precpu_stats": {
            "cpu_usage": {"total_usage": 90, "percpu_usage": [45, 45],
                          "usage_in_kernelmode": 9, "usage_in_usermode": 18},
            "system_cpu_usage": 88888,
        },
        "memory_stats": {"usage": 1024, "stats": {"cache": 512}},
        "blkio_stats": {"io_service_bytes_recursive": [1, 2]},
        "networks": {"eth0": {"rx_bytes": 7, "tx_bytes": 9}},
    }

    @staticmethod
    def _mux(stream: int, data: bytes) -> bytes:
        import struct
        return bytes([stream, 0, 0, 0]) + struct.pack(">I", len(data)) + data

    def _respond(self, body: bytes, chunked: bool = False):
        if chunked:
            hdr = (b"HTTP/1.1 200 OK\r\nContent-Type: application/octet-stream\r\n"
                   b"Transfer-Encoding: chunked\r\n\r\n")
            self.wfile.write(hdr)
            for i in range(0, len(body), 10):  # tiny chunks on purpose
                chunk = body[i:i + 10]
                self.wfile.write(b"%x\r\n" % len(chunk) + chunk + b"\r\n")
            self.wfile.write(b"0\r\n\r\n")
        else:
            self.wfile.write(
                b"HTTP/1.1 200 OK\r\nContent-Length: %d\r\n\r\n" % len(body) + body
            )

    def handle(self):
        req = self.rfile.readline().decode()
        while self.rfile.readline().strip():
            pass  # drain headers
        path = req.split(" ")[1]
        if path == "/_ping":
            self._respond(b"OK")
        elif path.startswith("/containers/json"):
            self._respond(json.dumps(self.containers).encode())
        elif path.endswith("/json"):  # inspect: Config.Tty drives demux
            cid = path.split("/")[2]
            self._respond(
                json.dumps({"Id": cid, "Config": {"Tty": cid == "c4"}}).encode()
            )
        elif "/logs" in path:
            cid = path.split("/")[2]
            since = 0
            if "since=" in path:
                since = int(path.split("since=")[1].split("&")[0])
            if since > 0:
                self._respond(b"")  # nothing newer: sincedb honored
            elif cid == "c1":
                # timestamps=1 shape: RFC3339Nano prefix per line
                body = (
                    self._mux(1, b"2024-03-01T10:00:01.123456789Z hello from web\n"
                                 b"2024-03-01T10:00:02Z part")
                    + self._mux(2, b"2024-03-01T10:00:01.5Z oops happened\n")
                    + self._mux(1, b"ial line\n")  # stdout continuation
                )
                self._respond(body)
            elif cid == "c4":
                # tty container: RAW stream, no frame headers
                self._respond(b"2024-03-01T10:00:04Z tty says hi\n")
            else:
                self._respond(
                    self._mux(1, b"2024-03-01T10:00:03Z db says hi\n"), chunked=True
                )
        elif "/stats" in path:
            self._respond(json.dumps(self.stats_doc).encode())
        else:
            self.wfile.write(b"HTTP/1.1 404 Not Found\r\nContent-Length: 0\r\n\r\n")


@pytest.fixture()
def docker_daemon(tmp_path):
    sock = str(tmp_path / "docker.sock")
    srv = socketserver.ThreadingUnixStreamServer(sock, _FakeDockerDaemon)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield "unix://" + sock
    srv.shutdown()


class TestDockerInputs:
    def test_dockerlog_drain_demux_and_filters(self, spark, docker_daemon, tmp_path):
        """Multiplexed stdout/stderr reassembly (incl. a line split
        across frames), chunked transfer, default 'gogstash' exclude,
        sincedb so the second drain returns nothing new."""
        from gogstash_spark.sources.dockerapi import docker_ping, dockerlog_input

        assert docker_ping(docker_daemon)
        since = str(tmp_path / "sincedb.json")
        df = dockerlog_input(spark, docker_daemon, sincepath=since)
        rows = {(r["containername"], r["stream"], r["text"]) for r in df.collect()}
        assert rows == {
            ("web", "stdout", "hello from web"),
            ("web", "stdout", "partial line"),
            ("web", "stderr", "oops happened"),
            ("db", "stdout", "db says hi"),
            ("term", "stdout", "tty says hi"),  # raw (tty) stream, not demuxed
        }
        assert all(r["host"] for r in df.collect())
        # the cursor comes from the DAEMON's log timestamps (clock-skew
        # safe), not the client clock
        from datetime import datetime, timezone

        state = json.load(open(since))
        assert state["c1"] == int(
            datetime(2024, 3, 1, 10, 0, 2, tzinfo=timezone.utc).timestamp()
        )
        # second drain: sincedb advanced, daemon returns nothing newer
        again = dockerlog_input(spark, docker_daemon, sincepath=since)
        assert again.count() == 0

    def test_dockerlog_include_and_start_position_end(self, spark, docker_daemon, tmp_path):
        from gogstash_spark.sources.dockerapi import dockerlog_input

        only_db = dockerlog_input(
            spark, docker_daemon, include_patterns=["^db$"],
            sincepath=str(tmp_path / "s1.json"),
        )
        assert {r["containername"] for r in only_db.collect()} == {"db"}
        skipped = dockerlog_input(
            spark, docker_daemon, start_position="end",
            sincepath=str(tmp_path / "s2.json"),
        )
        assert skipped.count() == 0  # first drain at 'end' skips history

    def test_dockerstats_to_metrics_pipeline(self, spark, docker_daemon, tmp_path):
        """The reference's stats-to-metrics use end to end
        (input/dockerstats/inputdockerstats.go:24-58 feeds the filter
        chain like any other input): stats drain -> schema-first json
        parse -> sql projection -> statsd-shape aggregate, through
        run_pipeline itself."""
        from gogstash_spark.runner import run_pipeline
        from gogstash_spark.sources.dockerapi import dockerstats_input

        stats = dockerstats_input(spark, docker_daemon, log_mode="simple")
        spec = {
            "input": {},
            "filter": [
                {"type": "json", "source": "stats",
                 "schema": ("memory_stats struct<usage:bigint>, "
                            "cpu_stats struct<cpu_usage:struct<total_usage:bigint>>"),
                 "tag_on_failure": False},
                {"type": "sql", "expr": {
                    "mem_usage": "memory_stats.usage",
                    "cpu_total": "cpu_stats.cpu_usage.total_usage",
                }},
            ],
            "output": [{"type": "table", "name": "docker_stats"}],
            "aggregate": [{
                "name": "docker_metrics",
                "metric_key": "docker.%{containername}",
                "ops": ["count", "avg:mem_usage", "max:cpu_total"],
            }],
        }
        out = str(tmp_path / "out")
        res = run_pipeline(spark, spec, input_df=stats, out_dir=out, resume=False)
        assert res.sink_rows["docker_stats"] == 3  # web, db, term
        agg = {
            r["metric"]: r
            for r in spark.read.parquet(out + "/agg_docker_metrics").collect()
        }
        assert set(agg) == {"docker.web", "docker.db", "docker.term"}
        for m in agg.values():
            assert m["n"] == 1
            assert m["avg_mem_usage"] == 1024.0
            assert m["max_cpu_total"] == 100

    def test_dockerstats_full_and_simple(self, spark, docker_daemon):
        from gogstash_spark.sources.dockerapi import dockerstats_input

        full = {r["containername"]: json.loads(r["stats"])
                for r in dockerstats_input(spark, docker_daemon).collect()}
        assert set(full) == {"web", "db", "term"}
        assert full["web"]["cpu_stats"]["cpu_usage"]["percpu_usage"] == [50, 50]
        simple = {r["containername"]: json.loads(r["stats"])
                  for r in dockerstats_input(
                      spark, docker_daemon, log_mode="simple").collect()}
        s = simple["web"]
        # filterStatsByMode: detail subtrees cleared, totals kept
        assert "percpu_usage" not in s["cpu_stats"]["cpu_usage"]
        assert "system_cpu_usage" not in s["cpu_stats"]
        assert "stats" not in s["memory_stats"]
        assert s["memory_stats"]["usage"] == 1024
        assert s["networks"]["eth0"] == {}
        assert s["cpu_stats"]["cpu_usage"]["total_usage"] == 100
