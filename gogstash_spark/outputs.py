"""Protocol sinks: http POST, tcp/unix socket, GELF UDP, loki push,
redis list/channel, nsq, email (SMTP) and amqp.

The reference's network outputs ship events one connection per process
(output/http/outputhttp.go, output/socket/outputsocket.go,
output/gelf, ...). Spark-first shape: `df.foreachPartition` — one
connection per TASK, events streamed out of the Arrow batch iterator,
no driver round-trip. At 1000 executors that is 1000 concurrent
writers, which is exactly how a log pipeline fans into an ingest tier.

Each emitter returns the number of events sent (counted task-side via
an accumulator). Events are encoded with codecs.encode_json semantics
(ts rendered UTC as @timestamp, text as message).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gogstash_spark import logevent
from gogstash_spark.netproto import resp_encode as _resp

# the output types `emit` dispatches; every other leaf output (not `cond`)
# is a table sink of the partitioned write
PROTOCOL_OUTPUTS = frozenset({"http", "socket", "gelf", "loki", "redis", "nsq", "email", "amqp"})


def _encoded(df: DataFrame, json_opts: dict | None = None) -> DataFrame:
    from gogstash_spark.codecs import encode_json

    return encode_json(df, **(json_opts or {})).select("encoded")


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
    sc = df.sparkSession.sparkContext
    sent = sc.accumulator(0)
    hdrs = {"Content-Type": content_type, **(headers or {})}

    def send_partition(rows):
        import urllib.request

        buf: list[str] = []

        def flush():
            if not buf:
                return
            req = urllib.request.Request(
                url, data=("\n".join(buf) + "\n").encode(), headers=hdrs, method="POST"
            )
            with urllib.request.urlopen(req, timeout=timeout):
                pass
            sent.add(len(buf))
            buf.clear()

        for r in rows:
            buf.append(r["encoded"])
            if len(buf) >= batch_size:
                flush()
        flush()

    _encoded(df, json_opts).foreachPartition(send_partition)
    return int(sent.value)


def socket_output(
    df: DataFrame,
    address: str,
    socket_type: str = "tcp",
    timeout: float = 10.0,
    json_opts: dict | None = None,
) -> int:
    """Newline-delimited JSON over one tcp/unix connection per task
    (reference output/socket/outputsocket.go:18-20,40-70)."""
    sc = df.sparkSession.sparkContext
    sent = sc.accumulator(0)

    def send_partition(rows):
        import socket as so

        if socket_type == "tcp":
            host, _, port = address.rpartition(":")
            conn = so.create_connection((host, int(port)), timeout=timeout)
        elif socket_type in ("unix", "unixpacket"):
            conn = so.socket(so.AF_UNIX, so.SOCK_STREAM)
            conn.settimeout(timeout)
            conn.connect(address)
        else:
            raise ValueError("socket type must be tcp/unix/unixpacket")
        n = 0
        try:
            for r in rows:
                conn.sendall(r["encoded"].encode() + b"\n")
                n += 1
        finally:
            conn.close()
        sent.add(n)

    _encoded(df, json_opts).foreachPartition(send_partition)
    return int(sent.value)


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
    sc = df.sparkSession.sparkContext
    sent = sc.accumulator(0)
    cols = [c for c in df.columns]

    def send_partition(rows):
        import os as _os
        import socket as so

        h, _, port = address.rpartition(":")
        sock = so.socket(so.AF_INET, so.SOCK_DGRAM)
        n = 0
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
                sock.sendto(payload, (h, int(port)))
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
                mid = _os.urandom(8)
                for i, ck in enumerate(chunks):
                    header = GELF_MAGIC + mid + bytes([i, len(chunks)])
                    sock.sendto(header + ck, (h, int(port)))
            n += 1
        sock.close()
        sent.add(n)

    df.foreachPartition(send_partition)
    return int(sent.value)


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
    sc = df.sparkSession.sparkContext
    sent = sc.accumulator(0)
    lbls = labels or {"job": "gogstash_spark"}

    from gogstash_spark.codecs import encode_json

    ns_col = (
        (F.coalesce(F.unix_micros(F.col(logevent.TS)), F.lit(0)) * F.lit(1000))
        if logevent.TS in df.columns
        else F.lit(0).cast("long")
    )
    enc = encode_json(df, **(json_opts or {})).select(
        F.col("encoded"), ns_col.alias("ns")
    )

    def send_partition(rows):
        import urllib.request

        buf: list[list[str]] = []

        def flush():
            if not buf:
                return
            payload = json.dumps({"streams": [{"stream": lbls, "values": buf}]})
            req = urllib.request.Request(
                url, data=payload.encode(),
                headers={"Content-Type": "application/json"}, method="POST",
            )
            with urllib.request.urlopen(req, timeout=timeout):
                pass
            sent.add(len(buf))
            buf.clear()

        for r in rows:
            buf.append([str(r["ns"]), r["encoded"]])
            if len(buf) >= batch_size:
                flush()
        flush()

    enc.foreachPartition(send_partition)
    return int(sent.value)


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
    from gogstash_spark.codecs import encode_json
    from gogstash_spark.logevent import format_expr

    sc = df.sparkSession.sparkContext
    sent = sc.accumulator(0)
    enc = encode_json(df, **(json_opts or {}))
    enc = enc.select(
        F.col("encoded"), format_expr(enc, key).alias("__key")
    )
    cmd = b"LPUSH" if data_type == "list" else b"PUBLISH"

    def send_partition(rows):
        import socket as so

        host, _, port = address.rpartition(":")
        conn = so.create_connection((host, int(port)), timeout=timeout)
        rf = conn.makefile("rb")
        n = 0
        try:
            for r in rows:
                conn.sendall(_resp(cmd, (r["__key"] or "gogstash").encode(),
                                   r["encoded"].encode()))
                reply = rf.readline()  # :N for LPUSH/PUBLISH, -ERR on failure
                if reply.startswith(b"-"):
                    raise RuntimeError("redis error: %s" % reply.decode().strip())
                n += 1
        finally:
            rf.close()
            conn.close()
        sent.add(n)

    enc.foreachPartition(send_partition)
    return int(sent.value)


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
    import struct

    from gogstash_spark.codecs import encode_json

    sc = df.sparkSession.sparkContext
    sent = sc.accumulator(0)
    enc = encode_json(df, **(json_opts or {})).select("encoded")

    def send_partition(rows):
        import socket as so

        host, _, port = nsq.rpartition(":")
        conn = so.create_connection((host, int(port)), timeout=timeout)
        n = 0
        try:
            from gogstash_spark.netproto import nsq_read_frame

            def read_frame():
                return nsq_read_frame(conn)

            conn.sendall(b"  V2")
            for r in rows:
                body = r["encoded"].encode()
                conn.sendall(b"PUB %s\n" % topic.encode()
                             + struct.pack(">I", len(body)) + body)
                while True:
                    ftype, data = read_frame()
                    if data == b"_heartbeat_":  # answer or nsqd drops us
                        conn.sendall(b"NOP\n")
                        continue
                    break
                if ftype == 1 or data != b"OK":  # FrameTypeError / not OK
                    raise RuntimeError("nsq PUB failed: %r" % data)
                n += 1
        finally:
            conn.close()
        sent.add(n)

    enc.foreachPartition(send_partition)
    return int(sent.value)


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
    from gogstash_spark.codecs import encode_json
    from gogstash_spark.logevent import format_expr

    sc = df.sparkSession.sparkContext
    sent = sc.accumulator(0)
    enc = encode_json(df, **(json_opts or {}))
    enc = enc.select(F.col("encoded"), format_expr(enc, subject).alias("__subj"))
    rcpts = [a.strip() for a in (to + ("," + cc if cc else "")).split(",") if a.strip()]

    def send_partition(rows):
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
                msg["Subject"] = r["__subj"] or subject
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
        sent.add(n)

    enc.foreachPartition(send_partition)
    return int(sent.value)


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
    from gogstash_spark.codecs import encode_json
    from gogstash_spark.logevent import format_expr

    sc = df.sparkSession.sparkContext
    sent = sc.accumulator(0)
    enc = encode_json(df, **(json_opts or {}))
    enc = enc.select(F.col("encoded"), format_expr(enc, routing_key).alias("__rk"))

    urls = [url] if isinstance(url, str) else list(url)

    def connect():
        # the reference's hostpool dials the next URL on failure
        # (output/amqp/outputamqp.go:30,46); try each in order
        from gogstash_spark.amqp091 import AmqpPublisher

        last: Exception | None = None
        for u in urls:
            try:
                return AmqpPublisher(u, timeout=timeout)
            except OSError as e:
                last = e
        raise ConnectionError("no amqp broker reachable: %s (%s)" % (urls, last))

    def send_partition(rows):
        pub = None
        n = 0
        try:
            for r in rows:
                if pub is None:  # connect lazily: empty partitions cost nothing
                    pub = connect()
                    pub.declare_exchange(
                        exchange, exchange_type,
                        durable=exchange_durable, auto_delete=exchange_auto_delete,
                    )
                pub.publish(
                    exchange, r["__rk"] or "", r["encoded"].encode(),
                    persistent=persistent,
                )
                n += 1
        finally:
            if pub is not None:
                pub.close()
        sent.add(n)

    enc.foreachPartition(send_partition)
    return int(sent.value)


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
