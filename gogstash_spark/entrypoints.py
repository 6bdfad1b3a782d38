"""Driver-contract queries: one per implemented operator (SURVEY.md §2),
each paired with a DuckDB-executable oracle SQL over the SAME parquet
files, so routed-row sets and values can be compared bit-for-bit.

The transcripts input is generated deterministically per sf
(sources/transcripts.py, seed 42); both Spark and the oracle read the
same files, so equality is exact, not statistical.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gogstash_spark.functions.grok import compile_grok
from gogstash_spark.operators import Context, compile_filter
from gogstash_spark.pipelines import EXTRA_PATTERNS, GROK_MATCHES, JSON_SCHEMA, standard_spec
from gogstash_spark.plans.compile import compile_pipeline
from gogstash_spark.sources.transcripts import ensure_transcripts

ORACLE_SF_DIR = "/root/repo/data/sf0.01"  # driver compares at sf=0.01

# compiled once; shared by Spark stages and oracle SQL
RX_ACCESS = compile_grok(GROK_MATCHES[0], EXTRA_PATTERNS)
RX_KV = compile_grok(GROK_MATCHES[1], EXTRA_PATTERNS)
RX_JSON = compile_grok(GROK_MATCHES[2], EXTRA_PATTERNS)


def _sql_quote_rx(rx: str) -> str:
    return rx.replace("'", "''")


def _caps_sql(cg) -> str:
    """DuckDB list literal of capture names (named-struct regexp_extract —
    the positional variant caps group index at 9)."""
    return "[%s]" % ", ".join("'%s'" % c for c in cg.captures)


def _tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    data_dir = ensure_transcripts(sf_dir)
    return spark.read.parquet(os.path.join(data_dir, "transcripts"))


def _ctx(spark: SparkSession, sf_dir: str) -> Context:
    return Context(spark=spark, base_dir=ensure_transcripts(sf_dir))


def _stage(spark: SparkSession, sf_dir: str, cfg: dict):
    return compile_filter(cfg, _ctx(spark, sf_dir))


def tx_cte() -> str:
    """transcripts CTE for oracle SQL — reads the module-level
    ORACLE_SF_DIR at CALL time so tools/parity.py can re-point the
    replica gate at another scale factor (the driver always uses
    sf0.01)."""
    return (
        "WITH t AS (SELECT * FROM read_parquet('%s/transcripts/*.parquet'))"
        % ORACLE_SF_DIR
    )

# ---------------------------------------------------------------------------
# pipeline operator queries
# ---------------------------------------------------------------------------


def q_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grok multi-pattern first-match-wins, native Java regex in codegen
    (reference filter/grok/filtergrok.go:86-117). The stage's observe
    node keeps the response filter above the regex, out of the scan."""
    df = _tx(spark, sf_dir)
    stage = _stage(
        spark, sf_dir,
        {"type": "grok", "match": GROK_MATCHES, "patterns": EXTRA_PATTERNS},
    )
    out = stage(df)
    return out.filter(F.col("response").isNotNull()).select(
        "conv_id", "turn_idx", "clientip", "verb", "request",
        F.col("response").alias("status"), "bytes",
    )


def o_grok_parse() -> str:
    rx = _sql_quote_rx(RX_ACCESS.named("python"))
    return f"""{tx_cte()}, m AS (
  SELECT conv_id, turn_idx, regexp_extract(text, '{rx}', {_caps_sql(RX_ACCESS)}) AS gr
  FROM t WHERE regexp_matches(text, '{rx}')
)
SELECT conv_id, turn_idx,
       gr.clientip AS clientip, gr.verb AS verb, gr.request AS request,
       CAST(gr.response AS BIGINT) AS status,
       CAST(gr.bytes AS BIGINT) AS bytes
FROM m"""


def q_kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quote-aware k=v split, fully native (reference filter/kv/filterkv.go:49-139)."""
    df = _tx(spark, sf_dir).filter(F.col("text").rlike("^level="))
    stage = _stage(
        spark, sf_dir,
        {
            "type": "kv",
            "source": "text",
            "fields": {
                "kv_level": {"key": "level", "type": "string"},
                "latency_ms": {"key": "latency_ms", "type": "long"},
                "kv_path": {"key": "path", "type": "string"},
                "kv_status": {"key": "status", "type": "long"},
            },
        },
    )
    return stage(df).select(
        "conv_id", "turn_idx", "kv_level", "latency_ms", "kv_path", "kv_status"
    )


def o_kv_parse() -> str:
    return f"""{tx_cte()}
SELECT conv_id, turn_idx,
       regexp_extract(text, 'level=("[^"]*"|\\S+)', 1) AS kv_level,
       CAST(regexp_extract(text, 'latency_ms=("[^"]*"|\\S+)', 1) AS BIGINT) AS latency_ms,
       regexp_replace(regexp_extract(text, 'path=("[^"]*"|\\S+)', 1), '^"(.*)"$', '\\1') AS kv_path,
       CAST(regexp_extract(text, 'status=("[^"]*"|\\S+)', 1) AS BIGINT) AS kv_status
FROM t WHERE regexp_matches(text, '^level=')"""


def q_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema-first from_json (reference filter/json/filterjson.go:60-95)."""
    df = _tx(spark, sf_dir).filter(F.col("text").rlike("^\\{"))
    stage = _stage(
        spark, sf_dir,
        {"type": "json", "source": "text", "schema": JSON_SCHEMA, "appendkey": "jsonf"},
    )
    out = stage(df)
    return out.select(
        "conv_id", "turn_idx",
        F.col("jsonf.level").alias("level"),
        F.col("jsonf.msg").alias("msg"),
        F.col("jsonf.code").alias("code"),
    )


def o_json_parse() -> str:
    return f"""{tx_cte()}
SELECT conv_id, turn_idx,
       text::JSON->>'level' AS level,
       text::JSON->>'msg' AS msg,
       CAST(text::JSON->>'code' AS BIGINT) AS code
FROM t WHERE regexp_matches(text, '^\\{{')"""


def q_date_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi-format date parse with Go layouts
    (reference filter/date/filterdate.go:75-196)."""
    df = _tx(spark, sf_dir)
    grok = _stage(
        spark, sf_dir,
        {"type": "grok", "match": GROK_MATCHES, "patterns": EXTRA_PATTERNS},
    )
    stage = _stage(
        spark, sf_dir,
        {
            "type": "date",
            "source": "timestamp",
            "format": ["02/Jan/2006:15:04:05 -0700"],
            "target": "log_ts",
            "tag_on_failure": False,
        },
    )
    out = stage(grok(df))
    return out.filter(F.col("log_ts").isNotNull()).select(
        "conv_id", "turn_idx", "log_ts"
    )


def o_date_parse() -> str:
    rx = _sql_quote_rx(RX_ACCESS.named("python"))
    return f"""{tx_cte()}, m AS (
  SELECT conv_id, turn_idx, regexp_extract(text, '{rx}', {_caps_sql(RX_ACCESS)}) AS gr
  FROM t WHERE regexp_matches(text, '{rx}')
)
SELECT conv_id, turn_idx,
       strptime(gr.timestamp, '%d/%b/%Y:%H:%M:%S %z')::TIMESTAMP AS log_ts
FROM m"""


SYSLOG_NOW = "2024-06-01 00:00:00"  # pinned clock => deterministic year backfill


def q_syslog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYSLOGLINE grok + yearless date parse with the reference's
    compute_year_if_missing back-fill (filter/date/filterdate.go:34,114-119):
    current year, minus one when that would land in the future."""
    df = _tx(spark, sf_dir).withColumn(
        "sysline",
        F.concat(
            F.date_format("ts", "MMM dd HH:mm:ss"),
            F.lit(" host-"), F.col("role"),
            F.lit(" "), F.col("tool"),
            F.lit("["), (F.col("turn_idx") % 97 + 1).cast("string"),
            F.lit("]: turn for "), F.col("conv_id"),
        ),
    )
    grok = _stage(
        spark, sf_dir,
        {"type": "grok", "source": "sysline", "match": ["%{SYSLOGLINE}"],
         "tag_on_failure": False},
    )
    dt = _stage(
        spark, sf_dir,
        {"type": "date", "source": "timestamp", "format": ["Jan 02 15:04:05"],
         "compute_year_if_missing": True, "now": SYSLOG_NOW,
         "target": "log_ts", "tag_on_failure": False},
    )
    return dt(grok(df)).select(
        "conv_id", "turn_idx", "logsource", "program", "pid", "message", "log_ts"
    )


def o_syslog_parse() -> str:
    # the syslog line is synthesized from ts/role/tool/conv_id, so the
    # oracle recomputes the expected fields directly; log_ts mirrors the
    # year back-fill: current(now) year, minus 1 if in now's future
    return f"""{tx_cte()}, c AS (
  SELECT conv_id, turn_idx,
    'host-' || role AS logsource,
    tool AS program,
    CAST(turn_idx % 97 + 1 AS BIGINT) AS pid,
    'turn for ' || conv_id AS message,
    make_timestamp(2024, month(ts), day(ts), hour(ts), minute(ts), second(ts)) AS cand
  FROM t
)
SELECT conv_id, turn_idx, logsource, program, pid, message,
  CASE WHEN cand > TIMESTAMP '{SYSLOG_NOW}'
       THEN make_timestamp(2023, month(cand), day(cand), hour(cand), minute(cand), second(cand))
       ELSE cand END AS log_ts
FROM c"""


SESSION_GAP_SECONDS = 600


def _session_cte() -> str:
    """Shared lag/gap sessionization fragment (CTE `f` with a new-session
    flag `ns`) — ONE source of truth for the gap constant and the
    (ts, turn_idx) tie order across every session oracle."""
    return f"""{tx_cte()}, w AS (
  SELECT conv_id, turn_idx, ts, tool,
         lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx) AS prev
  FROM t
), f AS (
  SELECT conv_id, turn_idx, ts, tool,
    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > {SESSION_GAP_SECONDS} * 1000000
         THEN 1 ELSE 0 END AS ns
  FROM w
)"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization over (conv_id, ts) — one shuffle on
    the key, lag/cumsum windows within partitions."""
    from gogstash_spark.functions.sessions import sessionize

    df = _tx(spark, sf_dir)
    return sessionize(
        df, "conv_id", "ts", "turn_idx", gap_seconds=SESSION_GAP_SECONDS
    ).select("conv_id", "turn_idx", "session_idx", "session_id")


def o_sessionize() -> str:
    return f"""{_session_cte()}
SELECT conv_id, turn_idx,
  CAST(sum(ns) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_idx,
  conv_id || '#' || CAST(sum(ns) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                ROWS UNBOUNDED PRECEDING) - 1 AS VARCHAR) AS session_id
FROM f"""


def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionization (applyInPandasWithState cursor,
    streaming/stateful.py::sessionize_stream) driven availableNow over
    the same transcripts, landed in a memory sink and returned as a
    batch frame. On in-order data this must equal the batch window
    sessionize row-for-row — so it shares o_sessionize as its oracle:
    the custom stateful operator gets a full value-hash check, not a
    rows-only waiver."""
    import hashlib
    import shutil
    import tempfile

    from gogstash_spark.streaming.stateful import sessionize_stream

    data_dir = ensure_transcripts(sf_dir)
    tdir = os.path.join(data_dir, "transcripts")
    schema = spark.read.parquet(tdir).schema
    # parquet sink, not memory: a memory-sink table pins the whole
    # result on the driver for the session lifetime (and this query may
    # run at sf1+ in a bench session). DETERMINISTIC per-dataset dir,
    # wiped on entry: repeated invocations (bench loops) overwrite one
    # directory instead of leaking a fresh mkdtemp each call.
    # pid in the path: deterministic within ONE process (bench loops
    # reuse + overwrite it) while two concurrent processes over the
    # same dataset can't rmtree each other's live checkpoint. Sibling
    # dirs whose pid is dead are swept here so exited processes don't
    # leak one checkpoint dir each into /tmp forever.
    root = os.path.join(tempfile.gettempdir(), "gs_sess_stream")
    if os.path.isdir(root):
        for d in os.listdir(root):
            pid_s = d.rpartition("-")[2]
            if pid_s.isdigit() and int(pid_s) != os.getpid():
                try:
                    os.kill(int(pid_s), 0)
                except ProcessLookupError:
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                except PermissionError:
                    pass  # someone else's live process
    out = os.path.join(
        root,
        "%s-%d" % (hashlib.md5(data_dir.encode()).hexdigest()[:12], os.getpid()),
    )
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    stream = spark.readStream.format("parquet").schema(schema).load(tdir)
    q = (
        sessionize_stream(
            stream, "conv_id", "ts", "turn_idx", gap_seconds=SESSION_GAP_SECONDS
        )
        .writeStream.outputMode("append").format("parquet")
        .option("path", os.path.join(out, "data"))
        .option("checkpointLocation", os.path.join(out, "chk"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(out, "data")).select(
        "conv_id", "turn_idx", "session_idx", "session_id"
    )


def q_agg_pctl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """statsd timer percentiles: p50/p95 latency per role (exact
    interpolated percentile — matches SQL quantile_cont)."""
    df = _tx(spark, sf_dir).filter(F.col("text").rlike("^level="))
    kv = _stage(
        spark, sf_dir,
        {"type": "kv", "source": "text",
         "fields": {"latency_ms": {"key": "latency_ms", "type": "long"}}},
    )
    return (
        kv(df)
        .groupBy("role")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.percentile(F.col("latency_ms"), F.lit(0.5)), 6).alias("p50_latency_ms"),
            F.round(F.percentile(F.col("latency_ms"), F.lit(0.95)), 6).alias("p95_latency_ms"),
        )
    )


def o_agg_pctl() -> str:
    return f"""{tx_cte()}, x AS (
  SELECT role,
    CAST(regexp_extract(text, 'latency_ms=("[^"]*"|\\S+)', 1) AS BIGINT) AS latency_ms
  FROM t WHERE regexp_matches(text, '^level=')
)
SELECT role, count(*) AS n,
       round(quantile_cont(latency_ms, 0.5), 6) AS p50_latency_ms,
       round(quantile_cont(latency_ms, 0.95), 6) AS p95_latency_ms
FROM x GROUP BY role"""


def q_top_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top-k per group: 2 most-used tools per role (ties by tool name)."""
    from pyspark.sql import Window

    df = _tx(spark, sf_dir)
    counts = df.groupBy("role", "tool").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("role").orderBy(F.desc("n"), F.asc("tool"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("role", "tool", "n", "rk")
    )


def o_top_tools() -> str:
    return f"""{tx_cte()}, c AS (
  SELECT role, tool, count(*) AS n FROM t GROUP BY role, tool
), r AS (
  SELECT role, tool, n,
         row_number() OVER (PARTITION BY role ORDER BY n DESC, tool ASC) AS rk
  FROM c
)
SELECT role, tool, n, CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 2"""


def q_conv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level rollup (the north-star per-conv aggregate):
    turns, sessions, span, distinct tools — one shuffle on conv_id
    shared by the window and the aggregate."""
    from gogstash_spark.functions.sessions import sessionize

    df = sessionize(
        _tx(spark, sf_dir), "conv_id", "ts", "turn_idx",
        gap_seconds=SESSION_GAP_SECONDS,
    )
    return df.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        (F.max("session_idx") + 1).alias("n_sessions"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.countDistinct("tool").alias("n_tools"),
    )


def o_conv_rollup() -> str:
    return f"""{_session_cte()}
SELECT conv_id,
       count(*) AS n_turns,
       CAST(sum(ns) AS BIGINT) AS n_sessions,
       min(ts) AS first_ts,
       max(ts) AS last_ts,
       count(DISTINCT tool) AS n_tools
FROM f GROUP BY conv_id"""


def q_kv_autotype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kv auto-int typing with string-keep list (reference
    filter/kv/filterkv.go:117-139): int-parsable values become longs in
    kv_num unless the key is string-kept."""
    df = _tx(spark, sf_dir).filter(F.col("text").rlike("^level="))
    stage = _stage(
        spark, sf_dir,
        {"type": "kv", "source": "text", "target": "kv",
         "auto_type": True, "keep_strings": ["status"]},
    )
    out = stage(df)
    return out.select(
        "conv_id", "turn_idx",
        F.col("kv_num")["latency_ms"].alias("lat_num"),
        F.col("kv")["status"].alias("status_str"),
        F.col("kv")["level"].alias("level_str"),
        F.col("kv")["latency_ms"].alias("lat_in_str"),  # auto-typed away => NULL
    )


def o_kv_autotype() -> str:
    return f"""{tx_cte()}, x AS (
  SELECT conv_id, turn_idx,
    regexp_replace(regexp_extract(text, 'latency_ms=("[^"]*"|\\S+)', 1), '^"(.*)"$', '\\1') AS lat,
    regexp_replace(regexp_extract(text, 'status=("[^"]*"|\\S+)', 1), '^"(.*)"$', '\\1') AS status,
    regexp_replace(regexp_extract(text, 'level=("[^"]*"|\\S+)', 1), '^"(.*)"$', '\\1') AS level
  FROM t WHERE regexp_matches(text, '^level=')
)
SELECT conv_id, turn_idx,
  CAST(CASE WHEN regexp_matches(lat, '^-?\\d+$') THEN lat END AS BIGINT) AS lat_num,
  status AS status_str,
  level AS level_str,
  CASE WHEN NOT regexp_matches(lat, '^-?\\d+$') THEN lat END AS lat_in_str
FROM x"""


def q_mutate_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uppercase / replace / merge / split
    (reference filter/mutate/filtermutate.go:68-119)."""
    df = _tx(spark, sf_dir)
    add = _stage(spark, sf_dir, {"type": "add_field", "key": "src", "value": "%{role}/%{tool}"})
    up = _stage(spark, sf_dir, {"type": "mutate", "uppercase": ["role_up"]})
    rep = _stage(
        spark, sf_dir,
        {"type": "mutate", "replace": {"field": "src", "old": "/none", "new": "/-"}},
    )
    sp = _stage(spark, sf_dir, {"type": "mutate", "split": {"field": "src_parts", "sep": "/"}})
    out = df.withColumn("role_up", F.col("role"))
    out = add(out)
    out = out.withColumn("src_parts", F.col("src"))
    out = sp(rep(up(out)))
    # The driver's canonicalizer hashes with pandas sort_values, which cannot
    # hash list cells — project the split array as a joined string.
    return out.select(
        "conv_id", "turn_idx", "role_up", "src",
        F.array_join(F.col("src_parts"), "|").alias("src_parts"),
    )


def o_mutate_ops() -> str:
    return f"""{tx_cte()}
SELECT conv_id, turn_idx,
       upper(role) AS role_up,
       replace(role || '/' || tool, '/none', '/-') AS src,
       array_to_string(string_split(role || '/' || tool, '/'), '|') AS src_parts
FROM t"""


def q_typeconv_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int-via-float fallback casts
    (reference filter/typeconv/filtertypeconv.go:71-151)."""
    df = _tx(spark, sf_dir).filter(F.col("text").rlike("^level="))
    kv = _stage(
        spark, sf_dir,
        {"type": "kv", "source": "text",
         "fields": {"lat_s": {"key": "latency_ms", "type": "string"}}},
    )
    out = kv(df).withColumn("lat_f", F.col("lat_s"))
    tc_int = _stage(spark, sf_dir, {"type": "typeconv", "fields": ["lat_s"], "conv_type": "int64"})
    tc_f = _stage(spark, sf_dir, {"type": "typeconv", "fields": ["lat_f"], "conv_type": "float64"})
    return tc_f(tc_int(out)).select(
        "conv_id", "turn_idx",
        F.col("lat_s").alias("lat_int"), F.col("lat_f").alias("lat_double"),
    )


def o_typeconv_cast() -> str:
    return f"""{tx_cte()}
SELECT conv_id, turn_idx,
       CAST(regexp_extract(text, 'latency_ms=(\\S+)', 1) AS BIGINT) AS lat_int,
       CAST(regexp_extract(text, 'latency_ms=(\\S+)', 1) AS DOUBLE) AS lat_double
FROM t WHERE regexp_matches(text, '^level=')"""


def q_convert_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_float with multiply factor (reference filter/convert/filterconvert.go:63-85)."""
    df = _tx(spark, sf_dir).filter(F.col("text").rlike("^level="))
    kv = _stage(
        spark, sf_dir,
        {"type": "kv", "source": "text",
         "fields": {"latency_s": {"key": "latency_ms", "type": "string"}}},
    )
    conv = _stage(
        spark, sf_dir,
        {"type": "convert", "fields": ["latency_s"], "mode": "to_float", "factor": 0.001},
    )
    return conv(kv(df)).select("conv_id", "turn_idx", "latency_s")


def o_convert_factor() -> str:
    return f"""{tx_cte()}
SELECT conv_id, turn_idx,
       CAST(regexp_extract(text, 'latency_ms=(\\S+)', 1) AS DOUBLE) * 0.001 AS latency_s
FROM t WHERE regexp_matches(text, '^level=')"""


def q_add_field_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """%{} template interpolation incl. event-time rendering
    (reference filter/addfield/filteraddfield.go:47-56,
    config/logevent/logevent.go:205-273)."""
    df = _tx(spark, sf_dir)
    add = _stage(
        spark, sf_dir,
        {"type": "add_field", "key": "partition_key", "value": "%{role}-%{+@2006.01.02}"},
    )
    return add(df).select("conv_id", "turn_idx", "partition_key")


def o_add_field_template() -> str:
    return f"""{tx_cte()}
SELECT conv_id, turn_idx,
       role || '-' || strftime(ts, '%Y.%m.%d') AS partition_key
FROM t"""


def q_drop_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """conditional drop (reference filter/drop/filterdrop.go:43-46)."""
    df = _tx(spark, sf_dir)
    drop = _stage(
        spark, sf_dir,
        {"type": "drop", "condition": "role == 'system' || strlen(text) < 20"},
    )
    return drop(df).select("conv_id", "turn_idx", "role")


def o_drop_filter() -> str:
    return f"""{tx_cte()}
SELECT conv_id, turn_idx, role
FROM t WHERE NOT (role = 'system' OR length(text) < 20)"""


def q_hash_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """field-concat hashing (reference filter/hash/filterhash.go:72-162)."""
    df = _tx(spark, sf_dir)
    h1 = _stage(
        spark, sf_dir,
        {"type": "hash", "source": ["conv_id", "turn_idx"], "algo": "sha256", "target": "h_sha256"},
    )
    h2 = _stage(
        spark, sf_dir,
        {"type": "hash", "source": ["text"], "algo": "md5", "target": "h_md5"},
    )
    h3 = _stage(
        spark, sf_dir,
        {"type": "hash", "source": ["conv_id", "turn_idx"], "algo": "fnv32a", "target": "h_fnv"},
    )
    h4 = _stage(
        spark, sf_dir,
        {"type": "hash", "source": ["conv_id", "turn_idx"], "algo": "adler32", "target": "h_adler"},
    )
    return h4(h3(h2(h1(df)))).select(
        "conv_id", "turn_idx", "h_sha256", "h_md5", "h_fnv", "h_adler"
    )


def o_hash_fields() -> str:
    # fnv32a / adler32 recomputed as plain integer arithmetic over the
    # codepoints (ASCII input => codepoints == utf-8 bytes)
    return f"""{tx_cte()}, s AS (
  SELECT conv_id, turn_idx, text,
         conv_id || CAST(turn_idx AS VARCHAR) AS k
  FROM t
), b AS (
  SELECT conv_id, turn_idx, text, k,
         [CAST(ord(k[i]) AS BIGINT) FOR i IN range(1, length(k)+1)] AS bs
  FROM s
)
SELECT conv_id, turn_idx,
       sha256(k) AS h_sha256,
       md5(text) AS h_md5,
       lpad(lower(hex(list_reduce(list_prepend(2166136261::BIGINT, bs),
            (acc, x) -> (xor(acc, x) * 16777619) % 4294967296))), 8, '0') AS h_fnv,
       lpad(lower(hex(
            ((length(k) + list_sum([bs[i] * (length(k) - i + 1) FOR i IN range(1, length(k)+1)])) % 65521) * 65536
            + (1 + list_sum(bs)) % 65521)), 8, '0') AS h_adler
FROM b"""


def q_ratelimit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic keyed sampling, the batch analog of the token
    bucket (reference filter/ratelimit/filterratelimit.go:53-88)."""
    df = _tx(spark, sf_dir)
    rl = _stage(
        spark, sf_dir,
        {"type": "ratelimit", "key": "turn_idx", "keep_num": 1, "keep_den": 10},
    )
    return rl(df).select("conv_id", "turn_idx")


def o_ratelimit_sample() -> str:
    return f"""{tx_cte()}
SELECT conv_id, turn_idx
FROM t WHERE ((CAST(turn_idx AS BIGINT) * 2654435761) % 2147483647) % 10 < 1"""


def q_url_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query-string param extraction
    (reference filter/urlparam/filterurlparam.go:92-143)."""
    df = _tx(spark, sf_dir)
    grok = _stage(
        spark, sf_dir,
        {"type": "grok", "match": ["%{COMBINEDAPACHELOG}"]},
    )
    up = _stage(
        spark, sf_dir,
        {"type": "url_param", "source": "request", "include_keys": ["q", "page"], "prefix": "qp_"},
    )
    out = up(grok(df))
    return out.filter(F.col("request").contains("?")).select(
        "conv_id", "turn_idx", "request", "qp_q", "qp_page"
    )


def o_url_param() -> str:
    rx = _sql_quote_rx(RX_ACCESS.named("python"))
    return f"""{tx_cte()}, m AS (
  SELECT conv_id, turn_idx, regexp_extract(text, '{rx}', {_caps_sql(RX_ACCESS)}) AS gr
  FROM t WHERE regexp_matches(text, '{rx}')
), r AS (
  SELECT conv_id, turn_idx, gr.request AS request FROM m
)
SELECT conv_id, turn_idx, request,
       NULLIF(regexp_extract(request, '[?&]q=([^&]*)', 1), '') AS qp_q,
       NULLIF(regexp_extract(request, '[?&]page=([^&]*)', 1), '') AS qp_page
FROM r WHERE request LIKE '%?%'"""


def q_useragent_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UA parse with inline native regexes
    (reference filter/useragent/filteruseragent.go:116-157)."""
    df = _tx(spark, sf_dir)
    grok = _stage(
        spark, sf_dir,
        {"type": "grok", "match": ["%{COMBINEDAPACHELOG}"]},
    )
    ua = _stage(spark, sf_dir, {"type": "useragent", "source": "agent", "target": "ua"})
    out = ua(grok(df))
    return out.filter(F.col("response").isNotNull()).select(
        "conv_id", "turn_idx",
        F.col("ua.family").alias("ua_family"),
        F.col("ua.os").alias("ua_os"),
    )


def o_useragent_parse() -> str:
    rx = _sql_quote_rx(RX_ACCESS.named("python"))
    return f"""{tx_cte()}, m AS (
  SELECT conv_id, turn_idx, regexp_extract(text, '{rx}', {_caps_sql(RX_ACCESS)}) AS gr
  FROM t WHERE regexp_matches(text, '{rx}')
), r AS (
  SELECT conv_id, turn_idx, regexp_replace(gr.agent, '^"|"$', '', 'g') AS agent FROM m
)
SELECT conv_id, turn_idx,
  CASE WHEN regexp_matches(agent, 'Firefox/(\\d+[\\d.]*)') THEN 'Firefox'
       WHEN regexp_matches(agent, 'Chrome/(\\d+[\\d.]*)') THEN 'Chrome'
       WHEN regexp_matches(agent, 'Version/(\\d+[\\d.]*).*Safari') THEN 'Safari'
       WHEN regexp_matches(agent, 'Safari/(\\d+[\\d.]*)') THEN 'Safari'
       WHEN regexp_matches(agent, 'curl/(\\d+[\\d.]*)') THEN 'curl'
       WHEN regexp_matches(agent, 'python-requests/(\\d+[\\d.]*)') THEN 'Python Requests'
       ELSE 'Other' END AS ua_family,
  CASE WHEN regexp_matches(agent, 'Windows NT') THEN 'Windows'
       WHEN regexp_matches(agent, 'Macintosh|Mac OS X') THEN 'Mac OS X'
       WHEN regexp_matches(agent, 'Linux') THEN 'Linux'
       ELSE 'Other' END AS ua_os
FROM r"""


def q_lookup_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """broadcast hash-join enrich on role + tool, incl. the key:value
    line-file format (reference filter/lookuptable/lookup.go:89-142)."""
    df = _tx(spark, sf_dir)
    data_dir = ensure_transcripts(sf_dir)
    roles = _stage(
        spark, sf_dir,
        {"type": "lookuptable", "source": "role",
         "path": os.path.join(data_dir, "role_lookup.parquet"), "lookup_key": "role"},
    )
    tools = _stage(
        spark, sf_dir,
        {"type": "lookuptable", "source": "tool",
         "path": os.path.join(data_dir, "tool_family.txt"),
         "lookup_key": "key", "lookup_value": "tool_family",
         "select": {"tool_family": "tool_family"}},
    )
    return tools(roles(df)).select(
        "conv_id", "turn_idx", "role_class", "priority", "tool_family"
    )


def o_lookup_enrich() -> str:
    return f"""{tx_cte()},
rl AS (SELECT * FROM read_parquet('{ORACLE_SF_DIR}/role_lookup.parquet')),
tf AS (
  SELECT regexp_extract(line, '^([^:]*):', 1) AS tool,
         regexp_extract(line, '^[^:]*:(.*)$', 1) AS tool_family
  FROM read_csv('{ORACLE_SF_DIR}/tool_family.txt',
                columns={{'line': 'VARCHAR'}}, delim=NULL, header=false)
  WHERE length(regexp_extract(line, '^([^:]*):', 1)) > 0
)
SELECT t.conv_id, t.turn_idx, rl.role_class, rl.priority, tf.tool_family
FROM t LEFT JOIN rl ON t.role = rl.role LEFT JOIN tf ON t.tool = tf.tool"""


def q_cond_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """full conditional routing fan-out: (conv_id, turn_idx, sink) pairs
    (reference output/cond/outputcond.go:75-115)."""
    data_dir = ensure_transcripts(sf_dir)
    spec = standard_spec(data_dir)
    plan = compile_pipeline(spec, Context(spark=spark, base_dir=data_dir))
    df = spark.read.parquet(os.path.join(data_dir, "transcripts"))
    routed = plan.run(df)
    return routed.select(
        "conv_id", "turn_idx", F.explode("routes").alias("sink")
    )


def _oracle_routed_cte() -> str:
    """CTE computing the unified fields + route predicates in DuckDB."""
    rx_a = _sql_quote_rx(RX_ACCESS.positional())
    rx_k = _sql_quote_rx(RX_KV.positional())
    rx_j = _sql_quote_rx(RX_JSON.positional())
    ga = RX_ACCESS.group_index
    gk = RX_KV.group_index
    return f"""WITH t AS (SELECT * FROM read_parquet('{ORACLE_SF_DIR}/transcripts/*.parquet')),
p AS (
  SELECT conv_id, turn_idx, role, tool, ts,
    regexp_matches(text, '{rx_a}') AS is_access,
    (NOT regexp_matches(text, '{rx_a}')) AND regexp_matches(text, '{rx_k}') AS is_kv,
    (NOT regexp_matches(text, '{rx_a}')) AND (NOT regexp_matches(text, '{rx_k}'))
        AND regexp_matches(text, '{rx_j}') AS is_json,
    CAST(NULLIF(regexp_extract(text, '{rx_a}', {ga("response")}), '') AS BIGINT) AS response,
    NULLIF(regexp_extract(text, '{rx_k}', {gk("kv_level")}), '') AS kv_level_raw,
    CAST(NULLIF(regexp_extract(text, '{rx_k}', {gk("kv_status")}), '') AS BIGINT) AS kv_status_raw,
    text::JSON->>'level' AS j_level,
    CAST(text::JSON->>'code' AS BIGINT) AS j_code
  FROM t
),
u AS (
  SELECT conv_id, turn_idx, role, tool, ts,
    (NOT is_access) AND (NOT is_kv) AND (NOT is_json) AS is_dead,
    coalesce(CASE WHEN is_access THEN response END,
             CASE WHEN is_kv THEN kv_status_raw END,
             CASE WHEN is_json THEN j_code END) AS status_u,
    coalesce(CASE WHEN is_kv THEN kv_level_raw END,
             CASE WHEN is_json THEN j_level END) AS level_u
  FROM p
),
routes AS (
  SELECT conv_id, turn_idx, role, tool, ts, 'sink_errors' AS sink FROM u
    WHERE coalesce(status_u >= 500 OR level_u = 'error', false)
  UNION ALL
  SELECT conv_id, turn_idx, role, tool, ts, 'sink_tool_calls' FROM u
    WHERE role = 'tool' AND tool <> 'none'
  UNION ALL
  SELECT conv_id, turn_idx, role, tool, ts, 'sink_user_turns' FROM u WHERE role = 'user'
  UNION ALL
  SELECT conv_id, turn_idx, role, tool, ts, 'sink_deadletter' FROM u WHERE is_dead
  UNION ALL
  SELECT conv_id, turn_idx, role, tool, ts, 'sink_rest' FROM u
    WHERE NOT (coalesce(status_u >= 500 OR level_u = 'error', false)
               OR (role = 'tool' AND tool <> 'none') OR role = 'user' OR is_dead)
)"""


def o_cond_route() -> str:
    return _oracle_routed_cte() + "\nSELECT conv_id, turn_idx, sink FROM routes"


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the flagship: parse -> enrich -> route -> per-sink aggregate
    counts by (sink, tool, hour bucket)
    (aggregate semantics: reference output/report/outputreport.go:80-92,
    output/statsd/outputstatsd.go:267-331)."""
    data_dir = ensure_transcripts(sf_dir)
    spec = standard_spec(data_dir)
    plan = compile_pipeline(spec, Context(spark=spark, base_dir=data_dir))
    df = spark.read.parquet(os.path.join(data_dir, "transcripts"))
    routed = plan.run(df)
    return (
        routed.select(F.explode("routes").alias("sink"), "tool", "ts")
        .groupBy("sink", "tool", F.date_trunc("hour", F.col("ts")).alias("time_bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def o_pipeline_e2e() -> str:
    return (
        _oracle_routed_cte()
        + """
SELECT sink, tool, date_trunc('hour', ts) AS time_bucket, count(*) AS n
FROM routes GROUP BY 1, 2, 3"""
    )


def q_agg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-interval counters (reference output/report/outputreport.go:56-92)."""
    df = _tx(spark, sf_dir)
    return (
        df.groupBy("role", "tool", F.date_trunc("hour", F.col("ts")).alias("time_bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def o_agg_report() -> str:
    return f"""{tx_cte()}
SELECT role, tool, date_trunc('hour', ts) AS time_bucket, count(*) AS n
FROM t GROUP BY 1, 2, 3"""


def q_gonx_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nginx log_format parse (reference filter/gonx/filtergonx.go:80-96)."""
    df = _tx(spark, sf_dir)
    stage = _stage(spark, sf_dir, {"type": "gonx", "tag_on_failure": False})
    out = stage(df)
    return out.filter(F.col("status").isNotNull() & (F.col("status") != "")).select(
        "conv_id", "turn_idx", "remote_addr", "request", "status", "body_bytes_sent"
    )


def o_gonx_parse() -> str:
    from gogstash_spark.operators.parse import gonx_format_to_regex

    cg = gonx_format_to_regex(
        '$remote_addr - $remote_user [$time_local] "$request" $status $body_bytes_sent'
    )
    rx = _sql_quote_rx(cg.positional())
    g = cg.group_index
    return f"""{tx_cte()}
SELECT conv_id, turn_idx,
       regexp_extract(text, '{rx}', {g("remote_addr")}) AS remote_addr,
       regexp_extract(text, '{rx}', {g("request")}) AS request,
       regexp_extract(text, '{rx}', {g("status")}) AS status,
       regexp_extract(text, '{rx}', {g("body_bytes_sent")}) AS body_bytes_sent
FROM t WHERE regexp_matches(text, '{rx}')"""


def q_geoip_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geoip-shaped broadcast enrich with private-CIDR skip + miss tag
    (reference filter/geoip2/filtergeoip2.go:123-223)."""
    df = _tx(spark, sf_dir)
    data_dir = ensure_transcripts(sf_dir)
    grok = _stage(
        spark, sf_dir, {"type": "grok", "match": ["%{COMBINEDAPACHELOG}"]}
    )
    geo = _stage(
        spark, sf_dir,
        {"type": "geoip", "source": "clientip",
         "path": os.path.join(data_dir, "geo_lookup.parquet"), "key": "geoip"},
    )
    out = geo(grok(df))
    return out.filter(F.col("clientip").isNotNull()).select(
        "conv_id", "turn_idx", "clientip",
        F.col("geoip.country_code").alias("country_code"),
        F.col("geoip.city_name").alias("city_name"),
        F.array_contains(F.col("tags"), "gogstash_filter_geoip2_error").alias("geo_missed"),
    )


def o_geoip_enrich() -> str:
    rx = _sql_quote_rx(RX_ACCESS.named("python"))
    return f"""{tx_cte()}, m AS (
  SELECT conv_id, turn_idx, (regexp_extract(text, '{rx}', {_caps_sql(RX_ACCESS)})).clientip AS clientip
  FROM t WHERE regexp_matches(text, '{rx}')
), geo AS (SELECT * FROM read_parquet('{ORACLE_SF_DIR}/geo_lookup.parquet')),
p AS (
  SELECT m.*, regexp_matches(clientip,
    '^(?:10\\.|192\\.168\\.|172\\.(?:1[6-9]|2[0-9]|3[01])\\.|127\\.|169\\.254\\.)') AS is_private
  FROM m
)
SELECT p.conv_id, p.turn_idx, p.clientip,
       CASE WHEN NOT is_private THEN geo.country_code END AS country_code,
       CASE WHEN NOT is_private THEN geo.city_name END AS city_name,
       (NOT is_private) AND geo.ip IS NULL AS geo_missed
FROM p LEFT JOIN geo ON p.clientip = geo.ip AND NOT p.is_private"""


def q_ip2location_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ip2location alias of the geoip join shape, exercising the
    flat_format path: attributes land as top-level `ip2location_<attr>`
    columns instead of a nested record
    (reference filter/ip2location/filterip2location.go:212-231 flat_format)."""
    df = _tx(spark, sf_dir)
    data_dir = ensure_transcripts(sf_dir)
    grok = _stage(
        spark, sf_dir, {"type": "grok", "match": ["%{COMBINEDAPACHELOG}"]}
    )
    loc = _stage(
        spark, sf_dir,
        {"type": "ip2location", "source": "clientip", "flat_format": True,
         "path": os.path.join(data_dir, "geo_lookup.parquet"), "quiet": True},
    )
    out = loc(grok(df))
    return out.filter(F.col("clientip").isNotNull()).select(
        "conv_id", "turn_idx", "clientip",
        F.col("ip2location_country_code").alias("country_code"),
        F.col("ip2location_city_name").alias("city_name"),
        F.round(F.col("ip2location_latitude"), 4).alias("latitude"),
    )


def o_ip2location_enrich() -> str:
    rx = _sql_quote_rx(RX_ACCESS.named("python"))
    return f"""{tx_cte()}, m AS (
  SELECT conv_id, turn_idx, (regexp_extract(text, '{rx}', {_caps_sql(RX_ACCESS)})).clientip AS clientip
  FROM t WHERE regexp_matches(text, '{rx}')
), geo AS (SELECT * FROM read_parquet('{ORACLE_SF_DIR}/geo_lookup.parquet')),
p AS (
  SELECT m.*, regexp_matches(clientip,
    '^(?:10\\.|192\\.168\\.|172\\.(?:1[6-9]|2[0-9]|3[01])\\.|127\\.|169\\.254\\.)') AS is_private
  FROM m
)
SELECT p.conv_id, p.turn_idx, p.clientip,
       CASE WHEN NOT is_private THEN geo.country_code END AS country_code,
       CASE WHEN NOT is_private THEN geo.city_name END AS city_name,
       CASE WHEN NOT is_private THEN ROUND(geo.latitude, 4) END AS latitude
FROM p LEFT JOIN geo ON p.clientip = geo.ip AND NOT p.is_private"""


def q_ip2proxy_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ip2proxy alias exercising the private_net CIDR override: the
    private skip runs through NATIVE numeric CIDR math (ip -> 32-bit
    long, shiftright prefix compare) instead of the regex fast path
    (reference filter/ip2proxy/filterip2proxy.go:63-, geoip2 private_net
    filtergeoip2.go:216-223). The oracle keeps the regex form — two
    implementations, one semantics."""
    df = _tx(spark, sf_dir)
    data_dir = ensure_transcripts(sf_dir)
    grok = _stage(
        spark, sf_dir, {"type": "grok", "match": ["%{COMBINEDAPACHELOG}"]}
    )
    prx = _stage(
        spark, sf_dir,
        {"type": "ip2proxy", "source": "clientip",
         "private_net": ["10.0.0.0/8", "192.168.0.0/16", "172.16.0.0/12",
                         "127.0.0.0/8", "169.254.0.0/16"],
         "path": os.path.join(data_dir, "geo_lookup.parquet")},
    )
    out = prx(grok(df))
    return out.filter(F.col("clientip").isNotNull()).select(
        "conv_id", "turn_idx", "clientip",
        F.col("ip2proxy.country_code").alias("country_code"),
        F.array_contains(F.col("tags"), "gogstash_filter_ip2proxy_error").alias("proxy_missed"),
    )


def o_ip2proxy_enrich() -> str:
    rx = _sql_quote_rx(RX_ACCESS.named("python"))
    return f"""{tx_cte()}, m AS (
  SELECT conv_id, turn_idx, (regexp_extract(text, '{rx}', {_caps_sql(RX_ACCESS)})).clientip AS clientip
  FROM t WHERE regexp_matches(text, '{rx}')
), geo AS (SELECT * FROM read_parquet('{ORACLE_SF_DIR}/geo_lookup.parquet')),
p AS (
  SELECT m.*, regexp_matches(clientip,
    '^(?:10\\.|192\\.168\\.|172\\.(?:1[6-9]|2[0-9]|3[01])\\.|127\\.|169\\.254\\.)') AS is_private
  FROM m
)
SELECT p.conv_id, p.turn_idx, p.clientip,
       CASE WHEN NOT is_private THEN geo.country_code END AS country_code,
       (NOT is_private) AND geo.ip IS NULL AS proxy_missed
FROM p LEFT JOIN geo ON p.clientip = geo.ip AND NOT p.is_private"""


def q_remove_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """remove_field: nested struct path removal + top-level drop +
    remove_message blanking (reference
    filter/removefield/filterremovefield.go:56-71, nested walk
    config/pathvalue.go:150-192). The surviving struct is rendered
    to_json so the removal is visible in VALUES, not just schema."""
    df = _tx(spark, sf_dir).filter(F.col("text").rlike("^\\{"))
    parse = _stage(
        spark, sf_dir,
        {"type": "json", "source": "text", "schema": JSON_SCHEMA, "appendkey": "jsonf"},
    )
    rm = _stage(
        spark, sf_dir,
        {"type": "remove_field", "fields": ["jsonf.msg", "tool"],
         "remove_message": True},
    )
    out = rm(parse(df))
    # pin the null-omission-free subset so to_json and the SQL string
    # builder agree byte-for-byte
    return out.filter(
        F.col("jsonf.level").isNotNull()
        & F.col("jsonf.code").isNotNull()
        & F.col("jsonf.ts").isNotNull()
    ).select(
        "conv_id", "turn_idx",
        F.to_json(F.col("jsonf")).alias("jsonf_json"),
        F.col("text").alias("text"),  # blanked by remove_message
    )


def o_remove_field() -> str:
    return f"""{tx_cte()}
SELECT conv_id, turn_idx,
       '{{"level":"' || (text::JSON->>'level') || '","code":' || (text::JSON->>'code')
         || ',"ts":"' || (text::JSON->>'ts') || '"}}' AS jsonf_json,
       '' AS text
FROM t
WHERE regexp_matches(text, '^\\{{')
  AND (text::JSON->>'level') IS NOT NULL AND (text::JSON->>'code') IS NOT NULL
  AND (text::JSON->>'ts') IS NOT NULL"""


def q_statsd_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """statsd-style template-keyed metrics per sink
    (reference output/statsd/outputstatsd.go:267-331)."""
    from gogstash_spark.runner import compute_aggregate

    data_dir = ensure_transcripts(sf_dir)
    spec = standard_spec(data_dir)
    plan = compile_pipeline(spec, Context(spark=spark, base_dir=data_dir))
    routed = plan.run(spark.read.parquet(os.path.join(data_dir, "transcripts")))
    exploded = routed.select(F.explode("routes").alias("sink"), "*")
    return compute_aggregate(
        exploded,
        {"name": "statsd", "metric_key": "%{role}.%{tool}", "ops": ["count", "sum:latency_ms"]},
    )


def o_statsd_agg() -> str:
    return (
        _oracle_routed_cte()
        + """,
kvlat AS (
  SELECT conv_id, turn_idx,
         CAST(NULLIF(regexp_extract(text, 'latency_ms=(\\S+)', 1), '') AS BIGINT) AS latency_ms
  FROM t WHERE regexp_matches(text, '^level=')
)
SELECT r.sink, r.role || '.' || r.tool AS metric,
       count(*) AS n, CAST(sum(k.latency_ms) AS BIGINT) AS sum_latency_ms
FROM routes r LEFT JOIN kvlat k
  ON r.conv_id = k.conv_id AND r.turn_idx = k.turn_idx
GROUP BY 1, 2"""
    )


def q_codec_eventhub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """azureeventhubjson codec: envelope records array -> N events
    (reference codec/azureeventhubjson/codecazureeventhubjson.go:73-91).
    Envelope built deterministically from documents, decoded by the
    real codec, one output row per record."""
    from gogstash_spark.codecs import decode_azureeventhubjson

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    env = docs.select(
        "doc_id",
        F.to_json(
            F.struct(
                F.array(
                    F.create_map(F.lit("msg"), F.col("text"), F.lit("seq"), F.lit("0")),
                    F.create_map(F.lit("msg"), F.col("text"), F.lit("seq"), F.lit("1")),
                ).alias("records")
            )
        ).alias("value"),
    )
    out = decode_azureeventhubjson(env, "value")
    return out.select(
        "doc_id",
        F.col("record")["msg"].alias("msg"),
        F.col("record")["seq"].cast("int").alias("seq"),
    )


def o_codec_eventhub() -> str:
    return """SELECT doc_id, text AS msg, 0 AS seq FROM documents
UNION ALL
SELECT doc_id, text AS msg, 1 AS seq FROM documents"""


PIPELINE_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "grok_parse": q_grok_parse,
    "kv_parse": q_kv_parse,
    "kv_autotype": q_kv_autotype,
    "json_parse": q_json_parse,
    "date_parse": q_date_parse,
    "syslog_parse": q_syslog_parse,
    "mutate_ops": q_mutate_ops,
    "typeconv_cast": q_typeconv_cast,
    "convert_factor": q_convert_factor,
    "add_field_template": q_add_field_template,
    "drop_filter": q_drop_filter,
    "hash_fields": q_hash_fields,
    "ratelimit_sample": q_ratelimit_sample,
    "url_param": q_url_param,
    "useragent_parse": q_useragent_parse,
    "lookup_enrich": q_lookup_enrich,
    "cond_route": q_cond_route,
    "pipeline_e2e": q_pipeline_e2e,
    "agg_report": q_agg_report,
    "agg_pctl": q_agg_pctl,
    "sessionize": q_sessionize,
    "sessionize_stream": q_sessionize_stream,
    "conv_rollup": q_conv_rollup,
    "top_tools": q_top_tools,
    "gonx_parse": q_gonx_parse,
    "geoip_enrich": q_geoip_enrich,
    "ip2location_enrich": q_ip2location_enrich,
    "ip2proxy_enrich": q_ip2proxy_enrich,
    "remove_field": q_remove_field,
    "statsd_agg": q_statsd_agg,
    "codec_eventhub": q_codec_eventhub,
}

PIPELINE_ORACLES: dict[str, str | Callable[[], str]] = {
    "grok_parse": o_grok_parse,
    "kv_parse": o_kv_parse,
    "kv_autotype": o_kv_autotype,
    "json_parse": o_json_parse,
    "date_parse": o_date_parse,
    "syslog_parse": o_syslog_parse,
    "mutate_ops": o_mutate_ops,
    "typeconv_cast": o_typeconv_cast,
    "convert_factor": o_convert_factor,
    "add_field_template": o_add_field_template,
    "drop_filter": o_drop_filter,
    "hash_fields": o_hash_fields,
    "ratelimit_sample": o_ratelimit_sample,
    "url_param": o_url_param,
    "useragent_parse": o_useragent_parse,
    "lookup_enrich": o_lookup_enrich,
    "cond_route": o_cond_route,
    "pipeline_e2e": o_pipeline_e2e,
    "agg_report": o_agg_report,
    "agg_pctl": o_agg_pctl,
    "sessionize": o_sessionize,
    "sessionize_stream": o_sessionize,  # in-order => identical to batch
    "conv_rollup": o_conv_rollup,
    "top_tools": o_top_tools,
    "gonx_parse": o_gonx_parse,
    "geoip_enrich": o_geoip_enrich,
    "ip2location_enrich": o_ip2location_enrich,
    "ip2proxy_enrich": o_ip2proxy_enrich,
    "remove_field": o_remove_field,
    "statsd_agg": o_statsd_agg,
    "codec_eventhub": o_codec_eventhub,
}
