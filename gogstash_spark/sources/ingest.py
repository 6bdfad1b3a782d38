"""Driver-side pull inputs: exec and http.

The reference runs these on an interval forever (input/exec/
inputexec.go:20-33, input/http/inputhttp.go:17-24); the batch analog is
one pull per run — schedule reruns externally (cron / Airflow / the
streaming runner). The pull happens on the driver (it is one command /
one URL — there is nothing to distribute) and parallelizes immediately
after via spark.createDataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gogstash_spark import logevent
from gogstash_spark.functions.datefmt import go_layout_to_spark


def _lines_df(spark: SparkSession, lines: list[str]) -> DataFrame:
    return spark.createDataFrame([(ln,) for ln in lines], "%s string" % logevent.TEXT)


def _render_prefix(prefix: str) -> str:
    """Driver-side replica of event.Format() on message_prefix
    (reference input/exec/inputexec.go:123): at input time the event
    holds only its creation timestamp, so %{@timestamp} renders UTC-now
    in the reference's trim-trailing-zero nanosecond layout
    (config/logevent/logevent.go:35,122); unknown %{field} refs fall
    back to env / HOSTNAME and otherwise stay verbatim, exactly like
    Format. Rendered once per drain — the batch analog of per-event
    creation times milliseconds apart within one exec run."""
    import re as _re
    from datetime import datetime, timezone

    from gogstash_spark.logevent import _env_fallback

    def sub(m) -> str:
        key = m.group(1)
        if key == "@timestamp":
            now = datetime.now(timezone.utc)
            frac = ("%06d" % now.microsecond).rstrip("0")
            return now.strftime("%Y-%m-%dT%H:%M:%S") + (
                "." + frac if frac else ""
            ) + "Z"
        env = _env_fallback(key)
        return env if env is not None else m.group(0)

    return _re.sub(r"%\{([^}]+)\}", sub, prefix)


def exec_input(
    spark: SparkSession,
    command: str,
    args: list[str] | None = None,
    message_trim: str = " \t\r\n",
    message_prefix: str = "",
    message_type: str = "text",
    timeout: float = 60.0,
) -> DataFrame:
    """Run a command, one event per stdout line (message_type='text') or
    one event holding the whole stdout (message_type='json', decode with
    the json codec downstream). Reference input/exec/inputexec.go:20-33.
    """
    import subprocess

    message_prefix = _render_prefix(message_prefix) if message_prefix else ""
    out = subprocess.run(
        [command, *(args or [])], capture_output=True, text=True, timeout=timeout,
        check=True,
    ).stdout
    # every exec event carries the node's hostname
    # (reference input/exec/inputexec.go:103)
    import socket as _so

    host = _so.gethostname()
    if message_type == "json":
        lines = [out.strip(message_trim)]
    else:
        lines = [
            message_prefix + ln.strip(message_trim)
            for ln in out.splitlines()
            if ln.strip(message_trim)
        ]
    return spark.createDataFrame(
        [(ln, host) for ln in lines],
        "%s string, host string" % logevent.TEXT,
    )


def redis_input(
    spark: SparkSession,
    host: str = "localhost:6379",
    key: str = "gogstash",
    timeout: float = 5.0,
    max_events: int | None = None,
) -> DataFrame:
    """Drain a redis list into a batch frame (reference input/redis/
    inputredis.go:26-35 pops with a batched EVAL lrange+ltrim loop; the
    batch analog drains once per run). Uses LPOP with a COUNT loop over
    one connection — each pop is atomic, so concurrent producers are
    safe; events already popped are owned by this run (schedule reruns
    externally, like exec/http). Redis < 6.2 has no COUNT argument, so
    a 'wrong number of arguments' error falls back to single-key LPOPs
    (the reference targets old servers via EVAL). Driver-side pull:
    one key, one connection — parallelism starts after
    createDataFrame, same shape as the other pull inputs."""
    import socket as so

    from gogstash_spark.netproto import resp_encode, resp_read

    h, _, port = host.rpartition(":")
    conn = so.create_connection((h, int(port)), timeout=timeout)
    rf = conn.makefile("rb")
    lines: list[str] = []
    counted = True  # LPOP key count (redis >= 6.2)
    try:
        while max_events is None or len(lines) < max_events:
            batch = 1000 if max_events is None else min(1000, max_events - len(lines))
            if counted:
                conn.sendall(resp_encode(b"LPOP", key.encode(), b"%d" % batch))
                try:
                    got = resp_read(rf)
                except RuntimeError as e:
                    if "wrong number of arguments" not in str(e):
                        raise
                    counted = False  # pre-6.2 server: single-pop loop
                    continue
                if not got:
                    break
                lines.extend(b.decode("utf-8", errors="replace") for b in got)
            else:
                conn.sendall(resp_encode(b"LPOP", key.encode()))
                got = resp_read(rf)
                if got is None:
                    break
                lines.append(got.decode("utf-8", errors="replace"))
    finally:
        rf.close()
        conn.close()
    return _lines_df(spark, lines)


class _NatsWire:
    """Buffered NATS wire client shared by the core SUB drain and the
    JetStream pull consumer: INFO/CONNECT handshake plus line/exact
    reads. The buffer is explicit, NOT sock.makefile: a BufferedReader
    drops its buffered bytes when the underlying recv times out, so a
    mid-line timeout would silently lose data — here the buffer survives
    and only a timeout with an EMPTY buffer counts as idle."""

    def __init__(
        self,
        host: str,
        timeout: float,
        name: str = "gogstash_spark",
        headers: bool = False,
    ):
        import json as _json
        import socket as so

        h, _, port = host.rpartition(":")
        self.conn = so.create_connection((h, int(port)), timeout=timeout)
        self.buf = bytearray()
        try:
            info = self.readline(idle_ok=False)
            if info is None or not info.startswith(b"INFO "):
                raise RuntimeError(
                    "nats: expected INFO, got %r" % (info or b"")[:40]
                )
            # "headers": the server only sends HMSG frames (which carry
            # JetStream pull statuses and message headers) to clients
            # that advertised support — without it statuses arrive as
            # headers-stripped plain MSGs
            opts = {"verbose": False, "name": name, "headers": headers}
            self.send(b"CONNECT %s\r\n" % _json.dumps(opts).encode())
        except BaseException:
            # a reachable-but-not-NATS endpoint must not leak the fd:
            # the caller never gets the object, so its close() can't run
            self.conn.close()
            raise

    def send(self, data: bytes) -> None:
        self.conn.sendall(data)

    def settimeout(self, t: float) -> None:
        self.conn.settimeout(t)

    def close(self) -> None:
        self.conn.close()

    def _fill(self) -> None:
        chunk = self.conn.recv(65536)
        if not chunk:
            raise ConnectionError("nats: server closed")
        self.buf.extend(chunk)

    def readline(self, idle_ok: bool) -> bytes | None:
        while b"\r\n" not in self.buf:
            try:
                self._fill()
            except TimeoutError:
                if idle_ok and not self.buf:
                    return None  # clean idle: nothing pending
                raise RuntimeError("nats: timeout mid-line") from None
        i = self.buf.index(b"\r\n")
        line = bytes(self.buf[:i])
        del self.buf[: i + 2]
        return line

    def readn(self, n: int) -> bytes:
        while len(self.buf) < n:
            try:
                self._fill()
            except TimeoutError:
                raise RuntimeError("nats: timeout mid-payload") from None
        data = bytes(self.buf[:n])
        del self.buf[:n]
        return data


def nats_input(
    spark: SparkSession,
    host: str = "localhost:4222",
    topic: str = "gogstash",
    timeout: float = 5.0,
    idle_timeout: float = 1.0,
    max_events: int | None = None,
) -> DataFrame:
    """Drain a NATS subject into a batch frame (reference
    input/nats/inputnats.go:20-28 via nats.go). Wire protocol (public,
    docs.nats.io/reference/reference-protocols/nats-protocol): server
    greets INFO {...}; client CONNECT {...} + SUB <subject> <sid>;
    messages arrive as `MSG <subject> <sid> [reply] <#bytes>\\r\\n` +
    payload; PING must be answered PONG. Core NATS is at-most-once
    pub/sub (no replay), so the batch drain collects what arrives until
    idle_timeout — schedule it alongside live publishers, or use
    nats_jetstream_input for at-least-once replayable history.
    Driver-side pull like exec/http/redis/nsq."""
    w = _NatsWire(host, timeout)
    lines: list[str] = []
    try:
        w.send(b"SUB %s 1\r\n" % topic.encode())
        w.settimeout(idle_timeout)
        while max_events is None or len(lines) < max_events:
            line = w.readline(idle_ok=True)
            if line is None:
                break  # drained
            if line.startswith(b"PING"):
                w.send(b"PONG\r\n")
                continue
            if line.startswith(b"-ERR"):
                raise RuntimeError("nats: %s" % line.decode().strip())
            if not line.startswith(b"MSG "):
                continue  # +OK / INFO updates
            nbytes = int(line.decode().split()[-1])  # reply-to optional
            w.settimeout(timeout)  # payload started: full budget
            lines.append(w.readn(nbytes).decode("utf-8", errors="replace"))
            w.readn(2)  # trailing \r\n
            w.settimeout(idle_timeout)
    finally:
        w.close()
    return _lines_df(spark, lines)


def nats_jetstream_input(
    spark: SparkSession,
    host: str = "localhost:4222",
    stream: str = "gogstash",
    durable: str = "gogstash_spark",
    batch: int = 512,
    timeout: float = 5.0,
    idle_timeout: float = 1.0,
    max_events: int | None = None,
) -> DataFrame:
    """JetStream pull-consume with explicit per-message acks — the
    at-least-once upgrade over core NATS's at-most-once SUB drain (the
    reference consumes core subjects via nats.go; the JetStream pull
    API is public: docs.nats.io/reference/reference-protocols/
    nats-protocol + the $JS.API.CONSUMER.MSG.NEXT request contract).

    Flow: SUB a private inbox, publish the pull request
    {"batch": N, "no_wait": true} to
    $JS.API.CONSUMER.MSG.NEXT.<stream>.<durable> with the inbox as the
    reply subject; each delivered MSG carries a $JS.ACK.* reply subject
    and is acked (+ACK publish) only AFTER its payload is recorded, so
    a consumer that dies mid-drain leaves the un-acked tail for
    redelivery after the consumer's ack_wait — the same at-least-once
    shape as nsq's FIN path. A 404 No Messages / 408 Request Timeout
    status (headers-only HMSG) or an idle timeout ends the drain."""
    import json as _json
    import os as _os

    w = _NatsWire(host, timeout, headers=True)
    # unique inbox per drain: a fixed subject would make two concurrent
    # consumers on one server receive (and double-ingest) each other's
    # pull deliveries — NATS fans a subject out to every subscriber
    inbox = "_INBOX.gogstash_spark.%s" % _os.urandom(8).hex()
    api = "$JS.API.CONSUMER.MSG.NEXT.%s.%s" % (stream, durable)
    lines: list[str] = []
    try:
        w.send(b"SUB %s 1\r\n" % inbox.encode())
        done = False
        while not done and (max_events is None or len(lines) < max_events):
            want = (
                batch if max_events is None else min(batch, max_events - len(lines))
            )
            req = _json.dumps({"batch": want, "no_wait": True}).encode()
            w.send(
                b"PUB %s %s %d\r\n%s\r\n"
                % (api.encode(), inbox.encode(), len(req), req)
            )
            got = 0
            w.settimeout(idle_timeout)
            while got < want:
                line = w.readline(idle_ok=True)
                if line is None:
                    done = True
                    break
                if line.startswith(b"PING"):
                    w.send(b"PONG\r\n")
                    continue
                if line.startswith(b"-ERR"):
                    raise RuntimeError("nats: %s" % line.decode().strip())
                parts = line.decode().split()
                if parts and parts[0] == "HMSG":
                    # HMSG <subject> <sid> [reply] <#hdr> <#total>.
                    # Status vs message is decided by the REPLY subject,
                    # not by header/total arithmetic: pull statuses come
                    # back on the inbox with NO reply, while every real
                    # JetStream delivery — including a headers-ONLY
                    # message like a KV tombstone (hdr == total, empty
                    # body) — carries its $JS.ACK reply and must be
                    # recorded + acked, never dropped (an un-acked drop
                    # would redeliver forever)
                    reply = parts[3] if len(parts) == 6 else None
                    hdr_len, total = int(parts[-2]), int(parts[-1])
                    w.settimeout(timeout)
                    payload = w.readn(total)
                    w.readn(2)
                    if reply is None:
                        status = payload.split(b"\r\n", 1)[0]
                        if b" 404" in status or b" 408" in status:
                            done = True  # no messages / request expired
                            break
                        # 409 Exceeded MaxRequestBatch / Consumer
                        # Deleted / 503 ...: a persistent pull error
                        # must be LOUD, not an empty frame every run
                        raise RuntimeError(
                            "nats jetstream pull status: %s"
                            % status.decode("utf-8", errors="replace")
                        )
                    body = payload[hdr_len:]
                else:
                    if not parts or parts[0] != "MSG":
                        continue  # +OK / INFO updates
                    # MSG <subject> <sid> [reply] <#bytes>
                    reply = parts[3] if len(parts) == 5 else None
                    nbytes = int(parts[-1])
                    w.settimeout(timeout)
                    body = w.readn(nbytes)
                    w.readn(2)
                lines.append(body.decode("utf-8", errors="replace"))
                got += 1
                # record-THEN-ack: a crash above this line redelivers
                if reply and reply.startswith("$JS.ACK."):
                    w.send(b"PUB %s 4\r\n+ACK\r\n" % reply.encode())
                w.settimeout(idle_timeout)
            if got < want:
                done = True  # no_wait pull returned a partial batch
    finally:
        w.close()
    return _lines_df(spark, lines)


def nsq_input(
    spark: SparkSession,
    nsq: str,
    topic: str,
    channel: str = "gogstash",
    max_inflight: int = 150,
    timeout: float = 5.0,
    idle_timeout: float = 1.0,
    max_events: int | None = None,
) -> DataFrame:
    """Drain an nsqd topic/channel into a batch frame (reference
    input/nsq/inputnsq.go:22-26 via go-nsq). Wire protocol (public,
    nsq.io/clients/tcp_protocol_spec): '  V2' magic, `SUB topic
    channel`, `RDY n` flow control; message frames carry
    [8B ns-timestamp][2B attempts][16B id][body]; each message is FINed.
    RDY is re-issued as messages are consumed (go-nsq style) — nsqd
    decrements the ready count per delivery and stops sending at 0, so
    a single RDY would silently cap the drain at max_inflight. The
    drain stops after idle_timeout at a frame BOUNDARY (a timeout
    mid-frame is a protocol error, never a silent drop) or at
    max_events. Driver-side pull like exec/http/redis."""
    import socket as so

    from gogstash_spark.netproto import nsq_read_frame

    h, _, port = nsq.rpartition(":")
    conn = so.create_connection((h, int(port)), timeout=timeout)
    lines: list[str] = []
    try:
        conn.sendall(b"  V2")
        conn.sendall(b"SUB %s %s\n" % (topic.encode(), channel.encode()))
        got = nsq_read_frame(conn)  # SUB ack (full timeout)
        if got is None or got[0] == 1:
            raise RuntimeError("nsq SUB failed: %r" % (got and got[1]))
        conn.sendall(b"RDY %d\n" % max_inflight)
        rdy_left = max_inflight
        while max_events is None or len(lines) < max_events:
            got = nsq_read_frame(conn, idle_timeout=idle_timeout,
                                 frame_timeout=timeout)
            if got is None:  # clean idle at a frame boundary: drained
                break
            ftype, data = got
            if ftype == 0:
                if data == b"_heartbeat_":
                    conn.sendall(b"NOP\n")
                continue
            if ftype == 1:
                raise RuntimeError("nsq error frame: %r" % data)
            # message frame: ts(8) attempts(2) id(16) body
            mid = data[10:26]
            lines.append(data[26:].decode("utf-8", errors="replace"))
            conn.sendall(b"FIN %s\n" % mid)
            rdy_left -= 1
            if rdy_left <= max(1, max_inflight // 4):
                conn.sendall(b"RDY %d\n" % max_inflight)
                rdy_left = max_inflight
    finally:
        conn.close()
    return _lines_df(spark, lines)


# classic lorem-ipsum vocabulary (public domain), the same corpus family
# the reference's generator draws from (input/lorem/inputlorem.go:132-188)
LOREM_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam "
    "quis nostrud exercitation ullamco laboris nisi aliquip ex ea commodo "
    "consequat duis aute irure in reprehenderit voluptate velit esse cillum "
    "eu fugiat nulla pariatur excepteur sint occaecat cupidatat non proident "
    "sunt culpa qui officia deserunt mollit anim id est laborum"
).split()

_LOREM_BASE_TS = "2026-01-01 00:00:00"


def lorem_input(
    spark: SparkSession,
    count: int = 1000,
    format: str | None = None,
    fields: dict | None = None,
    empty: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Synthetic lorem event generator (reference input/lorem — workers
    emitting templated sentences for a duration; the batch analog emits
    `count` events). Pure codegen over spark.range: deterministic per
    (seed, id), no Python in the row path, partitions like any range
    scan — the generator itself is the scale test harness.

    format supports the reference's template functions:
    {{.TimeFormat "go-layout"}}, {{.Word min max}},
    {{.Sentence min max}}, {{.Paragraph min max}}, {{.Email}},
    {{.Host}}, {{.Url}}. Without a format, the message is one sentence
    of 4-12 words. Each event also carries ts = base + id seconds.
    """
    import re as _re

    from pyspark.sql import Column

    from gogstash_spark import logevent

    words_arr = F.array(*[F.lit(w) for w in LOREM_WORDS])
    nwords = len(LOREM_WORDS)
    df = spark.range(int(count))
    rid = F.col("id")
    ts = F.to_timestamp(F.lit(_LOREM_BASE_TS)) + F.make_interval(secs=rid.cast("double"))

    def pick(salt: Column) -> Column:
        return F.element_at(
            words_arr,
            (F.pmod(F.xxhash64(rid, F.lit(seed), salt), F.lit(nwords)) + 1).cast("int"),
        )

    def span(lo: int, hi: int, salt: int) -> Column:
        """lo..hi words, space-joined, seeded by (id, salt)."""
        n = (
            F.pmod(F.xxhash64(rid, F.lit(seed), F.lit(salt)), F.lit(max(hi - lo, 0) + 1))
            + F.lit(lo)
        ).cast("int")
        return F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
                lambda j: F.element_at(
                    words_arr,
                    (F.pmod(F.xxhash64(rid, F.lit(seed + salt), j), F.lit(nwords)) + 1)
                    .cast("int"),
                ),
            ),
        )

    def sentence(lo: int, hi: int, salt: int) -> Column:
        s = span(lo, hi, salt)
        return F.concat(
            F.upper(F.substring(s, 1, 1)),
            F.substr(s, F.lit(2), F.length(s)),
            F.lit("."),
        )

    if empty:
        text: Column = F.lit("")
    elif format is None:
        text = sentence(4, 12, 1)
    else:
        # split the Go template into literal pieces and function calls
        # args may be quoted strings WITH spaces (TimeFormat layouts)
        pat = _re.compile(r"\{\{\.(\w+)((?:\s+(?:\"[^\"]*\"|'[^']*'|\S+))*)\s*\}\}")
        arg_pat = _re.compile(r"\"[^\"]*\"|'[^']*'|\S+")
        pieces: list[Column] = []
        pos = 0
        salt = 10
        for m in pat.finditer(format):
            if m.start() > pos:
                pieces.append(F.lit(format[pos:m.start()]))
            fn, raw_args = m.group(1), arg_pat.findall(m.group(2))
            salt += 1
            if fn == "TimeFormat":
                layout = raw_args[0].strip("\"'")
                pieces.append(F.date_format(ts, go_layout_to_spark(layout)))
            elif fn == "Word":
                lo, hi = int(raw_args[0]), int(raw_args[1])
                pieces.append(span(lo, hi, salt))
            elif fn == "Sentence":
                lo, hi = int(raw_args[0]), int(raw_args[1])
                pieces.append(sentence(lo, hi, salt))
            elif fn == "Paragraph":
                lo, hi = int(raw_args[0]), int(raw_args[1])
                pieces.append(F.concat_ws(
                    " ", *[sentence(lo, hi, salt * 100 + k) for k in range(3)]
                ))
            elif fn == "Email":
                pieces.append(F.concat(pick(F.lit(salt)), F.lit("@"),
                                       pick(F.lit(salt + 500)), F.lit(".com")))
            elif fn == "Host":
                pieces.append(F.concat(pick(F.lit(salt)), F.lit(".example.com")))
            elif fn == "Url":
                pieces.append(F.concat(F.lit("http://"), pick(F.lit(salt)),
                                       F.lit(".example.com/"), pick(F.lit(salt + 500))))
            else:
                raise ValueError("lorem: unsupported template func %r" % fn)
            pos = m.end()
        if pos < len(format):
            pieces.append(F.lit(format[pos:]))
        text = F.concat(*pieces) if pieces else F.lit("")

    out = df.select(text.alias(logevent.TEXT), ts.alias(logevent.TS))
    for k, v in (fields or {}).items():
        out = out.withColumn(k, F.lit(v))
    return out


def _spool_writer(spool_dir: str):
    """Atomic line-file writer: events land as whole files (tmp +
    rename) so the Structured Streaming file source never reads a
    partial write."""
    import itertools
    import os
    import threading

    os.makedirs(spool_dir, exist_ok=True)
    counter = itertools.count()
    lock = threading.Lock()

    def write(lines: list[str]) -> None:
        if not lines:
            return
        with lock:
            i = next(counter)
        tmp = os.path.join(spool_dir, ".tmp-%d-%d" % (os.getpid(), i))
        final = os.path.join(spool_dir, "ev-%d-%d.log" % (os.getpid(), i))
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, final)

    return write


def httplisten_input(spool_dir: str, host: str = "127.0.0.1", port: int = 0):
    """HTTP listener -> spool -> stream bridge (reference
    input/httplisten accepts POSTed events). The listener is a daemon
    thread appending atomic spool files, which a `text` input reads
    (as a stream through `sources.files.stream_source`) — the
    push-daemon half and the distributed half stay decoupled, which is
    exactly how push inputs scale on a cluster (listeners on edge
    nodes, Spark reads the spool/object store). Returns
    (server, 'host:port'); server.shutdown() stops it.
    """
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer

    write = _spool_writer(spool_dir)

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(n).decode("utf-8", errors="replace")
            write([ln for ln in body.splitlines() if ln])
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = HTTPServer((host, port), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, "%s:%d" % srv.server_address


def socket_listen_input(spool_dir: str, host: str = "127.0.0.1", port: int = 0):
    """TCP line listener -> spool -> stream bridge (reference
    input/socket reads newline-delimited events). Returns
    (server, 'host:port'); server.shutdown() stops it."""
    import socketserver
    import threading

    write = _spool_writer(spool_dir)

    class Handler(socketserver.StreamRequestHandler):
        def handle(self):
            for raw in self.rfile:
                line = raw.decode("utf-8", errors="replace").rstrip("\r\n")
                if line:
                    write([line])

    srv = socketserver.ThreadingTCPServer((host, port), Handler)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, "%s:%d" % srv.server_address


def beats_input(
    spool_dir: str,
    host: str = "127.0.0.1",
    port: int = 0,
    ssl_certificate: str | None = None,
    ssl_key: str | None = None,
    ssl_verify: bool = False,
    ssl_ca: str | None = None,
):
    """Beats (filebeat/winlogbeat) listener speaking the lumberjack v2
    wire protocol -> spool -> stream bridge. Reference
    input/beats/inputbeats.go:26-40 delegates to elastic/go-lumber's
    server; the protocol itself (public, go-lumber + logstash-input-beats):

      frame   = version byte '2' + type byte
      'W'indow: uint32 BE window size (events per batch before an ACK)
      'J'son  : uint32 BE seq + uint32 BE payload len + JSON payload
      'D'ata  : uint32 BE seq + uint32 BE pair count + repeated
                (uint32 len + key, uint32 len + value)   (v1-style kv)
      'C'ompressed: uint32 BE len + zlib payload holding more frames
      'A'ck   : (server->client) uint32 BE seq — sent when a batch
                completes (seq reaches window start + window size).

    Each decoded event is spooled as one compact JSON line; run the
    json codec downstream (same shape the reference produces via its
    json codec). Returns (server, 'host:port'); server.shutdown()
    stops it. Like the other push listeners, the daemon half stays on
    edge nodes and Spark reads only the spool — that is the split that
    scales on a real cluster.

    TLS (reference input/beats/inputbeats.go:33-40,78-87: ssl,
    ssl_certificate, ssl_key, ssl_verify): pass ssl_certificate +
    ssl_key to serve lumberjack-over-TLS — real filebeat deployments
    commonly enable it. ssl_verify additionally REQUIRES a verified
    client certificate (mutual TLS; ssl_ca names the CA bundle to
    verify against, defaulting to the server certificate itself, the
    self-signed common case).
    """
    import json
    import socketserver
    import struct
    import threading
    import zlib

    write = _spool_writer(spool_dir)

    def read_exact(rf, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = rf.read(n - len(buf))
            if not chunk:
                raise EOFError("beats: connection closed mid-frame")
            buf += chunk
        return buf

    def u32(rf) -> int:
        return struct.unpack(">I", read_exact(rf, 4))[0]

    class _Buf:
        """file-like over bytes for parsing a decompressed 'C' payload."""

        def __init__(self, data: bytes):
            self.data, self.pos = data, 0

        def read(self, n: int) -> bytes:
            out = self.data[self.pos:self.pos + n]
            self.pos += len(out)
            return out

    class Handler(socketserver.StreamRequestHandler):
        def handle(self):
            state = {"window": 0, "seen": 0, "last_seq": 0, "batch": []}

            def flush_ack():
                write(state["batch"])
                state["batch"] = []
                self.wfile.write(b"2A" + struct.pack(">I", state["last_seq"]))
                self.wfile.flush()
                state["seen"] = 0

            def on_event(seq: int, ev: dict) -> None:
                state["last_seq"] = seq
                state["batch"].append(json.dumps(ev, separators=(",", ":")))
                state["seen"] += 1
                if state["window"] and state["seen"] >= state["window"]:
                    flush_ack()

            def parse(rf) -> bool:
                hdr = rf.read(2)
                if len(hdr) < 2:
                    return False
                version, ftype = hdr[0:1], hdr[1:2]
                if version not in (b"1", b"2"):
                    raise ValueError("beats: bad protocol version %r" % version)
                if ftype == b"W":
                    state["window"] = u32(rf)
                    state["seen"] = 0
                elif ftype == b"J":
                    seq = u32(rf)
                    n = u32(rf)
                    on_event(seq, json.loads(read_exact(rf, n)))
                elif ftype == b"D":
                    seq = u32(rf)
                    pairs = u32(rf)
                    ev = {}
                    for _ in range(pairs):
                        k = read_exact(rf, u32(rf)).decode("utf-8")
                        ev[k] = read_exact(rf, u32(rf)).decode("utf-8")
                    on_event(seq, ev)
                elif ftype == b"C":
                    n = u32(rf)
                    inner = _Buf(zlib.decompress(read_exact(rf, n)))
                    while inner.pos < len(inner.data):
                        parse(inner)
                else:
                    raise ValueError("beats: unknown frame type %r" % ftype)
                return True

            try:
                while parse(self.rfile):
                    pass
            except EOFError:
                pass
            finally:
                if state["batch"]:  # partial window at disconnect
                    write(state["batch"])

    tls_ctx = None
    if ssl_certificate or ssl_key or ssl_verify or ssl_ca:
        if not (ssl_certificate and ssl_key):
            # ANY tls option without a cert+key must not silently serve
            # plaintext — ssl_ca alone means the caller asked for
            # client-cert verification, same as ssl_verify
            raise ValueError("beats TLS needs BOTH ssl_certificate and ssl_key")
        import ssl as _ssl

        tls_ctx = _ssl.SSLContext(_ssl.PROTOCOL_TLS_SERVER)
        tls_ctx.load_cert_chain(ssl_certificate, ssl_key)
        if ssl_verify or ssl_ca:
            # a CA bundle IS a request to verify client certs — honoring
            # it only under ssl_verify would silently accept any client
            tls_ctx.verify_mode = _ssl.CERT_REQUIRED
            tls_ctx.load_verify_locations(ssl_ca or ssl_certificate)

    if tls_ctx is not None:
        # wrap in the HANDLER thread (setup), never the accept loop: a
        # client that connects and stalls mid-handshake must block only
        # its own thread, and a failed handshake must close only that
        # connection (socketserver's process_request_thread calls
        # shutdown_request on handler exceptions, so no fd leak)
        plain_handler = Handler

        class Handler(plain_handler):  # noqa: F811
            def setup(self):
                self.request.settimeout(30)  # bound a silent handshake
                self.request = tls_ctx.wrap_socket(self.request, server_side=True)
                self.request.settimeout(None)
                super().setup()

    srv = socketserver.ThreadingTCPServer((host, port), Handler)
    srv.daemon_threads = True
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, "%s:%d" % srv.server_address


def http_input(
    spark: SparkSession,
    url: str,
    method: str = "GET",
    timeout: float = 10.0,
) -> DataFrame:
    """Fetch a URL, one event per response line (reference
    input/http/inputhttp.go:17-24 polls with GET/HEAD; HEAD yields one
    status event)."""
    import urllib.request

    req = urllib.request.Request(url, method=method)
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        if method == "HEAD":
            return _lines_df(spark, ["%s %d" % (url, resp.status)])
        body = resp.read().decode("utf-8", errors="replace")
    return _lines_df(spark, [ln for ln in body.splitlines() if ln])
