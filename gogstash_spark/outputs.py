"""Protocol sinks: http POST, tcp/unix socket, GELF UDP, loki push,
redis list/channel, nsq, email (SMTP) and amqp.

The reference gives every output one interface, `Output(ctx, LogEvent)`
(config/output.go:20-23), and ships events over one connection per
process. Spark-first shape: every sink is a `send(rows) -> n` over one
partition's rows, and `_send_partitions` runs it with ONE
`foreachPartition`: one connection per non-empty task (an empty
partition opens nothing), events streamed out of the batch iterator, no
driver round-trip, and the events sent counted by one accumulator. At
1000 executors that is up to 1000 concurrent writers, which is exactly
how a log pipeline fans into an ingest tier.

Each emitter returns the number of events sent. Events are encoded
with codecs.encode_json semantics (ts rendered UTC as @timestamp, text
as message).
"""

from __future__ import annotations

import itertools
import json
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gogstash_spark import logevent
from gogstash_spark.codecs import encode_json
from gogstash_spark.netproto import nsq_read_frame
from gogstash_spark.netproto import resp_encode as _resp

# the output types `emit` dispatches; every other leaf output (not `cond`)
# is a table sink of the partitioned write
PROTOCOL_OUTPUTS = frozenset({"http", "socket", "gelf", "loki", "redis", "nsq", "email", "amqp"})


def _send_partitions(df: DataFrame, send) -> int:
    """Run `send(rows) -> events sent` once per NON-EMPTY partition of
    `df`, on the executors, and return the total."""
    sent = df.sparkSession.sparkContext.accumulator(0)

    def run(rows):
        rows = iter(rows)
        first = next(rows, None)
        if first is not None:
            sent.add(send(itertools.chain([first], rows)))

    df.foreachPartition(run)
    return int(sent.value)


def _encoded(df: DataFrame, json_opts: dict | None = None, **extra: str | Column) -> DataFrame:
    """The JSON-encoded event as `encoded`, plus each `extra` column: a
    %{} template rendered per event, or a Column of the encoded frame."""
    enc = encode_json(df, **(json_opts or {}))
    return enc.select("encoded", *[
        (logevent.format_expr(enc, v) if isinstance(v, str) else v).alias(k)
        for k, v in extra.items()
    ])


def _tcp(address: str, timeout: float):
    """A TCP connection to `host:port`."""
    import socket

    host, _, port = address.rpartition(":")
    return socket.create_connection((host, int(port)), timeout=timeout)


def _post_batches(url: str, rows, batch_size: int, body, headers: dict, timeout: float) -> int:
    """POST `body(batch)` for each batch of up to batch_size rows."""
    import urllib.request

    n = 0
    while batch := list(itertools.islice(rows, batch_size)):
        req = urllib.request.Request(url, data=body(batch), headers=headers, method="POST")
        with urllib.request.urlopen(req, timeout=timeout):
            pass
        n += len(batch)
    return n


def http_output(
    df: DataFrame,
    url: str,
    batch_size: int = 100,
    content_type: str = "application/json",
    headers: dict[str, str] | None = None,
    timeout: float = 10.0,
    json_opts: dict | None = None,
) -> int:
    """POST events as NDJSON batches (reference output/http/
    outputhttp.go:30-43 posts per event; batching amortizes the
    round-trip — batch_size=1 reproduces the reference exactly).
    """
    hdrs = {"Content-Type": content_type, **(headers or {})}

    def ndjson(batch) -> bytes:
        return "".join(r["encoded"] + "\n" for r in batch).encode()

    def send(rows):
        return _post_batches(url, rows, batch_size, ndjson, hdrs, timeout)

    return _send_partitions(_encoded(df, json_opts), send)


def socket_output(
    df: DataFrame,
    address: str,
    socket_type: str = "tcp",
    timeout: float = 10.0,
    json_opts: dict | None = None,
) -> int:
    """Newline-delimited JSON over one tcp/unix connection per task
    (reference output/socket/outputsocket.go:18-20,40-70)."""
    if socket_type not in ("tcp", "unix", "unixpacket"):
        raise ValueError("socket type must be tcp/unix/unixpacket")

    def send(rows):
        import socket

        if socket_type == "tcp":
            conn = _tcp(address, timeout)
        else:
            conn = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            conn.settimeout(timeout)
            conn.connect(address)
        n = 0
        with conn:
            for r in rows:
                conn.sendall(r["encoded"].encode() + b"\n")
                n += 1
        return n

    return _send_partitions(_encoded(df, json_opts), send)


GELF_MAGIC = b"\x1e\x0f"


def _gelf_payload(rec: dict, host: str) -> bytes:
    import gzip

    msg = {
        "version": "1.1",
        "host": host,
        "short_message": rec.get("message") or "",
        "timestamp": rec.get("ts_epoch") or 0.0,
        "level": 6,
    }
    for k, v in rec.items():
        if k not in ("message", "ts_epoch") and v is not None:
            msg["_%s" % k] = v  # GELF extra fields carry a leading _
    return gzip.compress(json.dumps(msg).encode())


GELF_MAX_CHUNKS = 128  # GELF 1.1 spec limit; servers discard beyond it


def gelf_output(
    df: DataFrame,
    address: str,
    chunk_size: int = 1420,
    host: str = "gogstash_spark",
    on_oversize: str = "error",
) -> int:
    """GELF 1.1 over UDP with chunking (reference output/gelf maps
    events to gzip JSON datagrams; payloads over chunk_size split into
    magic + 8-byte id + seq/total chunks; the spec caps a message at
    128 chunks). on_oversize: 'error' fails the task loudly;
    'drop' skips the event (the skip count is in the return value
    deficit vs the input count — never silently sent-and-discarded)."""
    if on_oversize not in ("error", "drop"):
        raise ValueError("on_oversize must be 'error' or 'drop'")
    cols = df.columns
    h, _, port = address.rpartition(":")
    dest = (h, int(port))

    def send(rows):
        import os
        import socket

        n = 0
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as sock:
            for r in rows:
                rec = {}
                for c in cols:
                    v = r[c]
                    if c == logevent.TEXT:
                        rec["message"] = v
                    elif c == logevent.TS:
                        rec["ts_epoch"] = v.timestamp() if v is not None else 0.0
                    elif isinstance(v, (str, int, float, bool)) or v is None:
                        rec[c] = v
                    else:
                        rec[c] = str(v)
                payload = _gelf_payload(rec, host)
                if len(payload) <= chunk_size:
                    sock.sendto(payload, dest)
                else:
                    chunks = [
                        payload[i : i + chunk_size]
                        for i in range(0, len(payload), chunk_size)
                    ]
                    if len(chunks) > GELF_MAX_CHUNKS:
                        if on_oversize == "error":
                            raise ValueError(
                                "GELF message needs %d chunks (spec max %d); "
                                "raise chunk_size or trim the event"
                                % (len(chunks), GELF_MAX_CHUNKS)
                            )
                        continue  # drop: reflected in the returned sent count
                    mid = os.urandom(8)
                    for i, ck in enumerate(chunks):
                        sock.sendto(GELF_MAGIC + mid + bytes([i, len(chunks)]) + ck, dest)
                n += 1
        return n

    return _send_partitions(df, send)


def loki_output(
    df: DataFrame,
    url: str,
    labels: dict[str, str] | None = None,
    batch_size: int = 500,
    timeout: float = 10.0,
    json_opts: dict | None = None,
) -> int:
    """Grafana Loki push API: POST {streams: [{stream: labels,
    values: [[ns_epoch, line], ...]}]} per task batch (reference
    output/loki maps events to the same payload). Events without ts
    stamp 0 (Loki rejects those in production — upstream date parse is
    the fix, same as the reference)."""
    lbls = labels or {"job": "gogstash_spark"}
    ns_col = (
        (F.coalesce(F.unix_micros(F.col(logevent.TS)), F.lit(0)) * F.lit(1000))
        if logevent.TS in df.columns
        else F.lit(0).cast("long")
    )

    def push(batch) -> bytes:
        values = [[str(r["ns"]), r["encoded"]] for r in batch]
        return json.dumps({"streams": [{"stream": lbls, "values": values}]}).encode()

    def send(rows):
        return _post_batches(
            url, rows, batch_size, push, {"Content-Type": "application/json"}, timeout
        )

    return _send_partitions(_encoded(df, json_opts, ns=ns_col), send)


def redis_output(
    df: DataFrame,
    address: str = "localhost:6379",
    key: str = "gogstash",
    data_type: str = "list",
    timeout: float = 5.0,
    json_opts: dict | None = None,
) -> int:
    """Redis list/channel sink (reference output/redis/
    outputredis.go:22-47,94: RPUSH-equivalent LPUSH for data_type=list,
    PUBLISH for channel; key is a %{} template rendered per event).
    One RESP connection per task; replies are read and checked so a
    failure is loud, not dropped."""
    if data_type not in ("list", "channel"):
        raise ValueError("redis data_type must be 'list' or 'channel'")
    cmd = b"LPUSH" if data_type == "list" else b"PUBLISH"

    def send(rows):
        n = 0
        with _tcp(address, timeout) as conn, conn.makefile("rb") as rf:
            for r in rows:
                conn.sendall(_resp(cmd, (r["key"] or "gogstash").encode(),
                                   r["encoded"].encode()))
                reply = rf.readline()  # :N for LPUSH/PUBLISH, -ERR on failure
                if reply.startswith(b"-"):
                    raise RuntimeError("redis error: %s" % reply.decode().strip())
                n += 1
        return n

    return _send_partitions(_encoded(df, json_opts, key=key), send)


def nsq_output(
    df: DataFrame,
    nsq: str,
    topic: str,
    timeout: float = 5.0,
    json_opts: dict | None = None,
) -> int:
    """NSQ producer sink (reference output/nsq/outputnsq.go:17-30 via
    go-nsq). Wire protocol (public, nsq.io/clients/tcp_protocol_spec):
    '  V2' magic, then per message `PUB <topic>\\n` + uint32 BE size +
    body; each PUB is answered by a frame (uint32 size, int32 type,
    data 'OK'). One connection per task, responses checked."""
    pub = b"PUB %s\n" % topic.encode()

    def send(rows):
        n = 0
        with _tcp(nsq, timeout) as conn:
            conn.sendall(b"  V2")
            for r in rows:
                body = r["encoded"].encode()
                conn.sendall(pub + struct.pack(">I", len(body)) + body)
                ftype, data = nsq_read_frame(conn)
                while data == b"_heartbeat_":  # answer or nsqd drops us
                    conn.sendall(b"NOP\n")
                    ftype, data = nsq_read_frame(conn)
                if ftype == 1 or data != b"OK":  # FrameTypeError / not OK
                    raise RuntimeError("nsq PUB failed: %r" % data)
                n += 1
        return n

    return _send_partitions(_encoded(df, json_opts), send)


def email_output(
    df: DataFrame,
    address: str,
    from_addr: str,
    to: str,
    subject: str = "gogstash event",
    port: int = 25,
    cc: str = "",
    use_tls: bool = False,
    username: str = "",
    password: str = "",
    json_opts: dict | None = None,
) -> int:
    """SMTP sink, one message per event like the reference
    (output/email/outputemail.go:18-31 via gomail); subject is a %{}
    template rendered per event, the JSON-encoded event is the body.
    An email sink only makes sense behind a highly-selective condition
    (alerts) — the per-event send IS the reference semantics."""
    rcpts = [a.strip() for a in (to + ("," + cc if cc else "")).split(",") if a.strip()]

    def send(rows):
        import smtplib
        from email.mime.text import MIMEText

        srv = smtplib.SMTP(address, port, timeout=10)
        n = 0
        try:
            if use_tls:
                srv.starttls()
            if username:
                srv.login(username, password)
            for r in rows:
                msg = MIMEText(r["encoded"])
                msg["Subject"] = r["subject"] or subject
                msg["From"] = from_addr
                msg["To"] = to
                if cc:
                    msg["Cc"] = cc
                srv.sendmail(from_addr, rcpts, msg.as_string())
                n += 1
        finally:
            try:
                srv.quit()
            except Exception:
                pass  # already counted; QUIT failure doesn't unsend
        return n

    return _send_partitions(_encoded(df, json_opts, subject=subject), send)


def amqp_output(
    df: DataFrame,
    url: str | list[str],
    exchange: str,
    exchange_type: str = "direct",
    routing_key: str = "",
    exchange_durable: bool = False,
    exchange_auto_delete: bool = True,
    persistent: bool = False,
    timeout: float = 10.0,
    json_opts: dict | None = None,
) -> int:
    """AMQP 0-9-1 publish sink (reference output/amqp/
    outputamqp.go:28-66: exchange declare + publish with a %{}
    routing-key template, optional persistent delivery). One
    connection+channel per task via the in-repo minimal client
    (amqp091.py) — no external amqp library in this image."""
    urls = [url] if isinstance(url, str) else list(url)

    def send(rows):
        from gogstash_spark.amqp091 import AmqpPublisher

        # the reference's hostpool dials the next URL on failure
        # (output/amqp/outputamqp.go:30,46); try each in order
        pub, last = None, None
        for u in urls:
            try:
                pub = AmqpPublisher(u, timeout=timeout)
                break
            except OSError as e:
                last = e
        if pub is None:
            raise ConnectionError("no amqp broker reachable: %s (%s)" % (urls, last))
        n = 0
        try:
            pub.declare_exchange(
                exchange, exchange_type,
                durable=exchange_durable, auto_delete=exchange_auto_delete,
            )
            for r in rows:
                pub.publish(
                    exchange, r["routing_key"] or "", r["encoded"].encode(),
                    persistent=persistent,
                )
                n += 1
        finally:
            pub.close()  # raises a broker's Close, so rejected publishes never count
        return n

    return _send_partitions(_encoded(df, json_opts, routing_key=routing_key), send)


def emit(df: DataFrame, cfg: dict) -> int:
    """Dispatch a routed frame to a protocol sink by output spec."""
    typ = cfg.get("type")
    timeout = float(cfg.get("timeout", 10.0))
    json_opts = cfg.get("json_opts")
    if typ == "http":
        return http_output(
            df, cfg["url"], batch_size=int(cfg.get("batch_size", 100)),
            content_type=cfg.get("content_type", "application/json"),
            headers=cfg.get("headers"), timeout=timeout, json_opts=json_opts,
        )
    if typ == "socket":
        return socket_output(
            df, cfg["address"], socket_type=cfg.get("socket", "tcp"),
            timeout=timeout, json_opts=json_opts,
        )
    if typ == "gelf":
        return gelf_output(
            df, cfg["address"], chunk_size=int(cfg.get("chunk_size", 1420)),
            host=cfg.get("host", "gogstash_spark"),
            on_oversize=cfg.get("on_oversize", "error"),
        )
    if typ == "loki":
        return loki_output(
            df, cfg["url"], labels=cfg.get("labels"),
            batch_size=int(cfg.get("batch_size", 500)), timeout=timeout,
            json_opts=json_opts,
        )
    if typ == "redis":
        host = cfg.get("host", ["localhost:6379"])
        return redis_output(
            df, host[0] if isinstance(host, list) else host,
            key=cfg.get("key", "gogstash"),
            data_type=cfg.get("data_type", "list"),
            timeout=float(cfg.get("timeout", 5.0)), json_opts=json_opts,
        )
    if typ == "nsq":
        return nsq_output(
            df, cfg["nsq"], cfg["topic"], timeout=timeout, json_opts=json_opts,
        )
    if typ == "amqp":
        urls = cfg.get("urls") or [cfg.get("url", "amqp://localhost:5672/")]
        return amqp_output(
            df, urls,
            exchange=cfg["exchange"],
            exchange_type=cfg.get("exchange_type", "direct"),
            routing_key=cfg.get("routing_key", ""),
            exchange_durable=bool(cfg.get("exchange_durable", False)),
            exchange_auto_delete=bool(cfg.get("exchange_auto_delete", True)),
            persistent=bool(cfg.get("persistent", False)),
            timeout=timeout, json_opts=json_opts,
        )
    if typ == "email":
        return email_output(
            df, cfg["address"], from_addr=cfg.get("from", "gogstash@localhost"),
            to=cfg["to"], subject=cfg.get("subject", "gogstash event"),
            port=int(cfg.get("port", 25)), cc=cfg.get("cc", ""),
            use_tls=bool(cfg.get("use_tls", False)),
            username=cfg.get("username", ""), password=cfg.get("password", ""),
            json_opts=json_opts,
        )
    raise ValueError("unknown protocol output %r" % typ)
