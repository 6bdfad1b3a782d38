"""Per-filter golden tests: tiny literal DataFrame in, exact rows out —
the reference's per-module test pattern (filtergrok_test.go:34-109:
inject crafted event, assert full-event equality incl. tags).
"""

import datetime

import pytest
from pyspark.sql import functions as F

from gogstash_spark.operators import Context, compile_filter

UTC = datetime.timezone.utc


def ctx(spark, base="."):
    return Context(spark=spark, base_dir=base)


def rows(df, *cols):
    return [tuple(r) for r in df.select(*cols).orderBy(cols[0]).collect()]


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(
        [
            (1, '8.8.8.8 - - [18/Jul/2017:16:10:16 +0000] "GET /a?x=1 HTTP/1.1" 200 756 "-" "curl/8.5.0"'),
            (2, "level=warn latency_ms=42 path=\"/api v1\" status=500"),
            (3, '{"level":"error","msg":"boom","code":503,"ts":"2017-07-18T13:10:16Z"}'),
            (4, "just some free text here"),
        ],
        "id int, text string",
    )


class TestGrok:
    def test_first_match_wins_and_error_tag(self, spark, events):
        stage = compile_filter(
            {
                "type": "grok",
                "match": ["%{COMMONAPACHELOG}", "^level=%{WORD:lvl}"],
            },
            ctx(spark),
        )
        out = stage(events)
        got = {r["id"]: r for r in out.collect()}
        assert got[1]["clientip"] == "8.8.8.8"
        assert got[1]["response"] == 200  # typed capture
        assert got[1]["bytes"] == 756
        assert got[2]["lvl"] == "warn"
        assert got[2]["clientip"] is None
        assert list(got[4]["tags"]) == ["gogstash_filter_grok_error"]
        assert list(got[1]["tags"] or []) == []

    def test_add_tag_only_on_match(self, spark, events):
        stage = compile_filter(
            {
                "type": "grok",
                "match": ["%{COMMONAPACHELOG}"],
                "add_tag": ["parsed"],
            },
            ctx(spark),
        )
        got = {r["id"]: r for r in stage(events).collect()}
        assert "parsed" in list(got[1]["tags"])
        assert "parsed" not in list(got[4]["tags"])


    def test_typed_capture_without_match_is_null_not_an_error(self, spark):
        """A group that takes no part in the match extracts as "": the
        typed cast must give NULL, not fail the job (ANSI cast). `١٢`
        are not digits to Java regex (nor to RE2 or Go regexp), so the
        INT pattern misses that line instead of capturing it."""
        df = spark.createDataFrame(
            [
                (1, '1.2.3.4 - - [18/Jul/2017:16:10:16 +0000] "GET / HTTP/1.1" 304 - "-" "curl/8"'),
                (2, "x=\u0661\u0662"),
            ],
            "id int, text string",
        )
        stage = compile_filter(
            {"type": "grok", "match": ["%{COMBINEDAPACHELOG}", "x=%{INT:n:int}"]},
            ctx(spark),
        )
        got = {r["id"]: r for r in stage(df).collect()}
        assert got[1]["response"] == 304
        assert got[1]["bytes"] is None
        assert list(got[1]["tags"] or []) == []
        assert got[2]["n"] is None
        assert list(got[2]["tags"]) == ["gogstash_filter_grok_error"]


class TestGonx:
    def test_default_format(self, spark):
        df = spark.createDataFrame(
            [(1, '1.2.3.4 - bob [18/Jul/2017:16:10:16 +0000] "GET / HTTP/1.1" 200 5')],
            "id int, text string",
        )
        stage = compile_filter({"type": "gonx"}, ctx(spark))
        r = stage(df).collect()[0]
        assert r["remote_addr"] == "1.2.3.4"
        assert r["remote_user"] == "bob"
        assert r["request"] == "GET / HTTP/1.1"
        assert r["status"] == "200"


class TestDate:
    def test_formats_in_order_and_unix(self, spark):
        df = spark.createDataFrame(
            [
                (1, "18/Jul/2017:16:10:16 +0300"),
                (2, "2017-07-18 13:10:16"),
                (3, "1500383416"),
                (4, "garbage"),
            ],
            "id int, src string",
        )
        stage = compile_filter(
            {
                "type": "date",
                "source": "src",
                "format": ["02/Jan/2006:15:04:05 -0700", "2006-01-02 15:04:05", "UNIX"],
                "target": "t",
            },
            ctx(spark),
        )
        got = {r["id"]: r for r in stage(df).collect()}
        assert got[1]["t"] == datetime.datetime(2017, 7, 18, 13, 10, 16)
        assert got[2]["t"] == datetime.datetime(2017, 7, 18, 13, 10, 16)
        assert got[3]["t"] == datetime.datetime(2017, 7, 18, 13, 10, 16)
        assert got[4]["t"] is None
        assert list(got[4]["tags"]) == ["gogstash_filter_date_error"]

    def test_compute_year_if_missing(self, spark):
        """yearless syslog timestamps: current year, minus one if that
        lands in the future (reference filter/date/filterdate.go:114-119)."""
        df = spark.createDataFrame(
            [(1, "Mar 03 05:53:09"), (2, "Dec 25 10:00:00"), (3, "Jun 01 00:00:00")],
            "id int, src string",
        )
        stage = compile_filter(
            {
                "type": "date",
                "source": "src",
                "format": ["Jan 02 15:04:05"],
                "compute_year_if_missing": True,
                "now": "2024-06-15 12:00:00",
                "target": "t",
                "tag_on_failure": False,
            },
            ctx(spark),
        )
        got = {r["id"]: r["t"] for r in stage(df).collect()}
        assert got[1] == datetime.datetime(2024, 3, 3, 5, 53, 9)    # past: this year
        assert got[2] == datetime.datetime(2023, 12, 25, 10, 0, 0)  # future: last year
        assert got[3] == datetime.datetime(2024, 6, 1, 0, 0, 0)

    @pytest.mark.parametrize(
        "now,want_year",
        [("2024-06-15 12:00:00", 2024),  # leap now-year, past -> this year
         ("2025-06-15 12:00:00", 2024)],  # non-leap now-year -> previous leap
    )
    def test_compute_year_feb29(self, spark, now, want_year):
        df = spark.createDataFrame([(1, "Feb 29 10:00:00")], "id int, src string")
        stage = compile_filter(
            {"type": "date", "source": "src", "format": ["Jan 02 15:04:05"],
             "compute_year_if_missing": True, "now": now,
             "target": "t", "tag_on_failure": False},
            ctx(spark),
        )
        assert stage(df).collect()[0]["t"] == datetime.datetime(want_year, 2, 29, 10, 0, 0)

    def test_compute_year_does_not_rewrite_real_1972_dates(self, spark):
        """a YEARFUL format that genuinely parses 1972 must pass through
        untouched (no sentinel-year collision)."""
        df = spark.createDataFrame(
            [(1, "1972-03-05 10:00:00"), (2, "Mar 05 10:00:00")], "id int, src string"
        )
        stage = compile_filter(
            {"type": "date", "source": "src",
             "format": ["2006-01-02 15:04:05", "Jan 02 15:04:05"],
             "compute_year_if_missing": True, "now": "2024-06-15 12:00:00",
             "target": "t", "tag_on_failure": False},
            ctx(spark),
        )
        got = {r["id"]: r["t"] for r in stage(df).collect()}
        assert got[1] == datetime.datetime(1972, 3, 5, 10, 0, 0)  # kept
        assert got[2] == datetime.datetime(2024, 3, 5, 10, 0, 0)  # backfilled


class TestJsonKv:
    def test_json_schema_appendkey(self, spark, events):
        stage = compile_filter(
            {
                "type": "json",
                "schema": "struct<level:string,msg:string,code:bigint>",
                "appendkey": "j",
            },
            ctx(spark),
        )
        got = {r["id"]: r for r in stage(events).collect()}
        assert got[3]["j"]["level"] == "error" and got[3]["j"]["code"] == 503
        assert got[1]["j"] is None

    def test_json_message_timestamp_lift(self, spark):
        """json filter lifts chosen keys into message/@timestamp with a
        Go layout (reference filter/json/filterjson.go:21-24,60-95)."""
        df = spark.createDataFrame(
            [(1, '{"m":"hello","t":"2017/07/18 13:10:16","x":"y"}')],
            "id int, text string",
        )
        stage = compile_filter(
            {"type": "json", "source": "text",
             "schema": "struct<m:string,t:string,x:string>",
             "message": "m", "timestamp": "t",
             "timeformat": "2006/01/02 15:04:05",
             "tag_on_failure": False},
            ctx(spark),
        )
        r = stage(df).collect()[0]
        assert r["text"] == "hello"
        assert r["ts"] == datetime.datetime(2017, 7, 18, 13, 10, 16)

    def test_kv_quote_aware(self, spark, events):
        stage = compile_filter(
            {
                "type": "kv",
                "target": "kvm",
                "fields": {
                    "lvl": {"key": "level", "type": "string"},
                    "lat": {"key": "latency_ms", "type": "long"},
                    "pth": {"key": "path", "type": "string"},
                },
            },
            ctx(spark),
        )
        got = {r["id"]: r for r in stage(events).collect()}
        assert got[2]["lvl"] == "warn"
        assert got[2]["lat"] == 42
        assert got[2]["pth"] == "/api v1"  # quotes stripped, space kept
        assert got[2]["kvm"]["status"] == "500"


class TestMutateFamily:
    def test_mutate_ops(self, spark):
        df = spark.createDataFrame([(1, "ab", "x/y")], "id int, a string, b string")
        up = compile_filter({"type": "mutate", "uppercase": ["a"]}, ctx(spark))
        sp = compile_filter({"type": "mutate", "split": {"field": "b", "sep": "/"}}, ctx(spark))
        rn = compile_filter({"type": "mutate", "rename": {"from": "a", "to": "a2"}}, ctx(spark))
        out = rn(sp(up(df))).collect()[0]
        assert out["a2"] == "AB"
        assert list(out["b"]) == ["x", "y"]

    def test_typeconv_int_via_float(self, spark):
        df = spark.createDataFrame([(1, "3.7"), (2, "11"), (3, "x")], "id int, v string")
        stage = compile_filter(
            {"type": "typeconv", "fields": ["v"], "conv_type": "int64"}, ctx(spark)
        )
        got = {r["id"]: r["v"] for r in stage(df).collect()}
        assert got == {1: 3, 2: 11, 3: None}

    def test_convert_factor(self, spark):
        df = spark.createDataFrame([(1, "100")], "id int, v string")
        stage = compile_filter(
            {"type": "convert", "fields": ["v"], "mode": "to_float", "factor": 0.5},
            ctx(spark),
        )
        assert stage(df).collect()[0]["v"] == 50.0

    def test_add_field_template_and_overwrite_guard(self, spark):
        df = spark.createDataFrame(
            [(1, "u", None), (2, "v", "keep")], "id int, role string, dst string"
        )
        stage = compile_filter(
            {"type": "add_field", "key": "dst", "value": "%{role}!", "overwrite": False},
            ctx(spark),
        )
        got = {r["id"]: r["dst"] for r in stage(df).collect()}
        assert got == {1: "u!", 2: "keep"}

    def test_remove_field(self, spark):
        df = spark.createDataFrame([(1, "a", "b")], "id int, x string, text string")
        stage = compile_filter(
            {"type": "remove_field", "fields": ["x"], "blank_message": True}, ctx(spark)
        )
        out = stage(df)
        assert "x" not in out.columns
        assert out.collect()[0]["text"] == ""

    def test_drop_condition(self, spark):
        df = spark.createDataFrame([(1, "a"), (2, "drop")], "id int, v string")
        stage = compile_filter({"type": "drop", "condition": "v == 'drop'"}, ctx(spark))
        assert [r["id"] for r in stage(df).collect()] == [1]

    def test_hash_algos(self, spark):
        df = spark.createDataFrame([(1, "x")], "id int, v string")
        import hashlib

        h = compile_filter(
            {"type": "hash", "source": ["v"], "algo": "sha256", "target": "h"}, ctx(spark)
        )
        assert h(df).collect()[0]["h"] == hashlib.sha256(b"x").hexdigest()
        h2 = compile_filter(
            {"type": "hash", "source": ["v"], "algo": "md5", "target": "h"}, ctx(spark)
        )
        assert h2(df).collect()[0]["h"] == hashlib.md5(b"x").hexdigest()

    def test_ratelimit_deterministic(self, spark):
        df = spark.range(0, 100).withColumn("turn_idx", F.col("id").cast("int"))
        stage = compile_filter(
            {"type": "ratelimit", "key": "turn_idx", "keep_num": 1, "keep_den": 10},
            ctx(spark),
        )
        a = sorted(r["id"] for r in stage(df).collect())
        b = sorted(r["id"] for r in stage(df).collect())
        assert a == b
        assert 0 < len(a) < 100

    def test_sql_escape_hatch(self, spark):
        df = spark.createDataFrame([(1, 2)], "a int, b int")
        stage = compile_filter({"type": "sql", "expr": {"c": "a + b"}}, ctx(spark))
        assert stage(df).collect()[0]["c"] == 3


class TestEnrich:
    def test_lookuptable_parquet_and_miss_tag(self, spark, sf_data_dir):
        df = spark.createDataFrame(
            [(1, "search"), (2, "calculator")], "id int, tool string"
        )
        stage = compile_filter(
            {
                "type": "lookuptable",
                "source": "tool",
                "path": sf_data_dir + "/tool_lookup.parquet",
                "lookup_key": "tool",
                "tag_on_miss": True,
            },
            ctx(spark),
        )
        got = {r["id"]: r for r in stage(df).collect()}
        assert got[1]["tool_family"] == "retrieval"
        assert got[2]["tool_family"] is None
        assert list(got[2]["tags"]) == ["gogstash_filter_lookup_miss"]

    def test_lookuptable_txt_format(self, spark, sf_data_dir):
        df = spark.createDataFrame([(1, "python")], "id int, tool string")
        stage = compile_filter(
            {
                "type": "lookuptable",
                "source": "tool",
                "path": sf_data_dir + "/tool_family.txt",
                "lookup_key": "key",
                "lookup_value": "fam",
                "select": {"fam": "fam"},
            },
            ctx(spark),
        )
        assert stage(df).collect()[0]["fam"] == "execution"

    def test_geoip_private_skip(self, spark, sf_data_dir, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        lk = str(tmp_path / "geo.parquet")
        pq.write_table(
            pa.table({"ip": ["8.8.8.8"], "country": ["US"], "city": ["MTV"]}), lk
        )
        df = spark.createDataFrame(
            [(1, "8.8.8.8"), (2, "10.0.0.5"), (3, "1.1.1.1")], "id int, clientip string"
        )
        stage = compile_filter(
            {"type": "geoip", "source": "clientip", "path": lk, "key": "geo"},
            ctx(spark),
        )
        got = {r["id"]: r for r in stage(df).collect()}
        assert got[1]["geo"]["country"] == "US"
        assert got[2]["geo"] is None  # private: skipped, no error tag
        assert list(got[2]["tags"] or []) == []
        assert got[3]["geo"] is None  # public miss: error tag
        assert "gogstash_filter_geoip2_error" in list(got[3]["tags"])

    def test_useragent(self, spark, events):
        grok = compile_filter(
            {"type": "grok", "match": ["%{COMBINEDAPACHELOG}"]},
            ctx(spark),
        )
        ua = compile_filter(
            {"type": "useragent", "source": "agent"},
            ctx(spark),
        )
        got = {r["id"]: r for r in ua(grok(events)).collect()}
        assert got[1]["ua"]["family"] == "curl"
        assert got[1]["ua"]["version"] == "8.5.0"


class TestReferenceConfigKeys:
    """Reference config key-name fidelity: a vanilla gogstash config's
    keys must bind, not silently no-op."""

    def test_kv_strings_alias(self, spark):
        df = spark.createDataFrame([(1, "n=42 keep=7")], "id int, text string")
        stage = compile_filter(
            {"type": "kv", "source": "text", "target": "kv",
             "auto_type": True, "strings": ["keep"]},
            ctx(spark),
        )
        r = stage(df).collect()[0]
        assert dict(r["kv"]) == {"keep": "7"} and dict(r["kv_num"]) == {"n": 42}

    def test_removefield_remove_message(self, spark):
        df = spark.createDataFrame([(1, "msg", "x")], "id int, text string, other string")
        stage = compile_filter(
            {"type": "remove_field", "fields": ["other"], "remove_message": True},
            ctx(spark),
        )
        r = stage(df).collect()[0]
        assert r["text"] == "" and "other" not in r.asDict()

    def test_json_ignoreextrabytes(self, spark):
        df = spark.createDataFrame(
            [
                (1, '{"a":"x"} TRAILING GARBAGE'),
                (2, '{"a":"y"}{"a":"z"}'),       # concatenated docs
                (3, '{"a":"n"} closes}'),         # '}' in the garbage
                (4, 'leading junk {"a":"no"}'),   # reference rejects this
            ],
            "id int, text string",
        )
        strict = compile_filter(
            {"type": "json", "source": "text", "schema": "struct<a:string>",
             "appendkey": "j", "tag_on_failure": False},
            ctx(spark),
        )
        assert strict(df).collect()[0]["j"] is None
        lenient = compile_filter(
            {"type": "json", "source": "text", "schema": "struct<a:string>",
             "appendkey": "j", "ignoreextrabytes": True, "tag_on_failure": False},
            ctx(spark),
        )
        got = {r["id"]: r["j"] for r in lenient(df).collect()}
        assert got[1]["a"] == "x"
        assert got[2]["a"] == "y"   # leading document wins
        assert got[3]["a"] == "n"
        assert got[4] is None       # leading garbage still rejected

    def test_geoip_private_net_flat_quiet(self, spark, tmp_path):
        lk = spark.createDataFrame(
            [("100.1.1.1", "US", "NYC")], "ip string, country string, city string"
        )
        p = str(tmp_path / "geo.parquet")
        lk.write.mode("overwrite").parquet(p)
        df = spark.createDataFrame(
            [(1, "100.1.1.1"), (2, "100.64.0.9"), (3, "8.8.8.8")],
            "id int, clientip string",
        )
        stage = compile_filter(
            {"type": "geoip", "ip_field": "clientip", "path": p, "key": "geo",
             "flat_format": True, "quiet": True,
             "private_net": ["100.64.0.0/10", "127.0.0.0/8"]},
            ctx(spark),
        )
        got = {r["id"]: r for r in stage(df).collect()}
        assert got[1]["geo_country"] == "US" and got[1]["geo_city"] == "NYC"
        assert got[2]["geo_country"] is None  # CGNAT range skipped
        assert got[3]["geo_country"] is None  # public miss
        assert "tags" not in got[3].asDict()  # quiet: no miss tagging at all

    def test_useragent_uap_regexes_file(self, spark, tmp_path):
        yml = tmp_path / "regexes.yaml"
        yml.write_text(
            "user_agent_parsers:\n"
            "  - regex: '(MyBrowser)/(\\d+)'\n"     # uap: g1 family, g2 version
            "    family_replacement: 'NiceBrowser'\n"
            "  - regex: '(Oddball)/\\d+'\n"         # family from g1, no version
            "  - regex: 'Plainthing'\n"             # zero groups: must not crash
            "os_parsers:\n"
            "  - regex: 'ignored'\n"
        )
        df = spark.createDataFrame(
            [(1, "MyBrowser/42 linux"), (2, "Oddball/7"), (3, "Plainthing x"),
             (4, "nothing")],
            "id int, agent string",
        )
        stage = compile_filter(
            {"type": "useragent", "regexes": str(yml)}, ctx(spark, base=str(tmp_path))
        )
        got = {r["id"]: r["ua"] for r in stage(df).collect()}
        assert got[1]["family"] == "NiceBrowser" and got[1]["version"] == "42"
        assert got[2]["family"] == "Oddball" and got[2]["version"] == ""
        assert got[3]["family"] == "Other" and got[3]["version"] == ""
        assert got[4]["family"] == "Other"


class TestGrokPatternsPath:
    def test_pattern_file_loaded_and_overridable(self, spark, tmp_path):
        p = tmp_path / "patterns"
        p.write_text("MYLEVEL (?:warn|error)\n# comment\nMYLINE lvl=%{MYLEVEL:lvl}\n")
        df = spark.createDataFrame([(1, "lvl=error")], "id int, text string")
        stage = compile_filter(
            {"type": "grok", "match": ["%{MYLINE}"], "patterns_path": str(p),
             "tag_on_failure": False},
            ctx(spark, base=str(tmp_path)),
        )
        assert stage(df).collect()[0]["lvl"] == "error"
        # explicit patterns win over the file
        stage2 = compile_filter(
            {"type": "grok", "match": ["%{MYLINE}"], "patterns_path": str(p),
             "patterns": {"MYLEVEL": r"(?:info)"},
             "tag_on_failure": False},
            ctx(spark, base=str(tmp_path)),
        )
        r = stage2(df).collect()[0]
        assert r["lvl"] is None
        assert "gogstash_filter_grok_error" in list(r["tags"])


class TestGrokRemoveEmpty:
    def test_empty_captures_null_by_default(self, spark):
        df = spark.createDataFrame([(1, "a= b=x")], "id int, text string")
        stage = compile_filter(
            {"type": "grok", "source": "text",
             "match": [r"a=%{DATA:fa} b=%{WORD:fb}"],
             "tag_on_failure": False},
            ctx(spark),
        )
        r = stage(df).collect()[0]
        assert r["fa"] is None and r["fb"] == "x"

    def test_keep_empty_when_disabled(self, spark):
        df = spark.createDataFrame([(1, "a= b=x")], "id int, text string")
        stage = compile_filter(
            {"type": "grok", "source": "text",
             "match": [r"a=%{DATA:fa} b=%{WORD:fb}"],
             "tag_on_failure": False,
             "remove_empty_values": False},
            ctx(spark),
        )
        r = stage(df).collect()[0]
        assert r["fa"] == "" and r["fb"] == "x"


class TestGrokMultilineDotall:
    """The single-eval fast path wraps the pattern with affixes; dotall
    must be scoped to the AFFIXES only so '.' inside the user's pattern
    (DATA/GREEDYDATA = '.*?'/'.*') keeps Java-regex default semantics
    (never matches \\n) — matching the per-capture regexp_extract
    fallback and the Go reference."""

    def test_data_capture_stops_at_newline(self, spark):
        df = spark.createDataFrame(
            [(1, "msg=hello world\nTRAILING LINE"),
             (2, "prefix line\nmsg=second line\nmore")],
            "id int, text string",
        )
        stage = compile_filter(
            {"type": "grok", "source": "text",
             "match": [r"msg=%{GREEDYDATA:m}"],
             "tag_on_failure": False},
            ctx(spark),
        )
        got = {r["id"]: r for r in stage(df).collect()}
        # fast path must NOT capture across the newline
        assert got[1]["m"] == "hello world"
        # wrapper affixes must still span newlines to find a match on line 2
        assert got[2]["m"] == "second line"

    def test_multiline_source_explicit_values(self, spark):
        """`$` without MULTILINE matches only at the end of input (or
        before a final line terminator): row 1's b=two is followed by
        another line, so it does not match at all."""
        rows = [(1, "a=1 b=two\nnextline"), (2, "junk\na=9 b=ten tail\nz")]
        df = spark.createDataFrame(rows, "id int, text string")
        stage = compile_filter(
            {"type": "grok", "source": "text",
             "match": [r"a=%{INT:a:int} b=%{DATA:b}(?: |$)"],
             "tag_on_failure": False},
            ctx(spark),
        )
        got = {r["id"]: (r["a"], r["b"]) for r in stage(df).collect()}
        assert got == {1: (None, None), 2: (9, "ten")}


class TestKvAutoType:
    def test_auto_int_with_keep_list(self, spark):
        df = spark.createDataFrame(
            [(1, 'n=42 s=hello keep=7 q="99"')], "id int, text string"
        )
        stage = compile_filter(
            {"type": "kv", "source": "text", "target": "kv",
             "auto_type": True, "keep_strings": ["keep"]},
            ctx(spark),
        )
        r = stage(df).collect()[0]
        num, st = dict(r["kv_num"]), dict(r["kv"])
        assert num == {"n": 42, "q": 99}  # quotes stripped before typing
        assert st == {"s": "hello", "keep": "7"}


class TestHashArithmetic:
    def test_fnv32a_adler32_known_vectors(self, spark):
        import zlib
        df = spark.createDataFrame([(1, "hello world")], "id int, x string")
        f = compile_filter(
            {"type": "hash", "source": ["x"], "algo": "fnv32a", "target": "hf"},
            ctx(spark),
        )
        a = compile_filter(
            {"type": "hash", "source": ["x"], "algo": "adler32", "target": "ha"},
            ctx(spark),
        )
        r = a(f(df)).collect()[0]
        assert r["hf"] == "d58b3fa7"
        assert int(r["ha"], 16) == zlib.adler32(b"hello world")

    def test_unmapped_algo_raises(self, spark):
        with pytest.raises(ValueError, match="fnv64a"):
            compile_filter(
                {"type": "hash", "source": ["x"], "algo": "fnv64a"}, ctx(spark)
            )


class TestCondFilter:
    def test_branching(self, spark):
        df = spark.createDataFrame([(1, "hit"), (2, "miss")], "id int, v string")
        stage = compile_filter(
            {
                "type": "cond",
                "condition": "v == 'hit'",
                "filter": [{"type": "add_field", "key": "mark", "value": "T"}],
                "else_filter": [{"type": "add_field", "key": "mark", "value": "F"}],
            },
            ctx(spark),
        )
        got = {r["id"]: r["mark"] for r in stage(df).collect()}
        assert got == {1: "T", 2: "F"}

    def test_nested_cond_with_drop_guards_conjoin(self, spark):
        """a drop nested two conds deep must only remove rows matching
        BOTH predicates (guards conjoin down the tree)."""
        df = spark.createDataFrame(
            [(1, "a", "x"), (2, "a", "y"), (3, "b", "x"), (4, "b", "y")],
            "id int, u string, v string",
        )
        stage = compile_filter(
            {
                "type": "cond",
                "condition": "u == 'a'",
                "filter": [
                    {
                        "type": "cond",
                        "condition": "v == 'x'",
                        "filter": [{"type": "drop"}],
                        "else_filter": [{"type": "add_field", "key": "m", "value": "ay"}],
                    },
                ],
                "else_filter": [{"type": "add_field", "key": "m", "value": "b"}],
            },
            ctx(spark),
        )
        got = {r["id"]: r["m"] for r in stage(df).collect()}
        assert got == {2: "ay", 3: "b", 4: "b"}  # only (a, x) dropped

    def test_cond_branch_ratelimit_only_throttles_branch(self, spark):
        df = spark.createDataFrame(
            [(i, "hot" if i % 2 == 0 else "cold") for i in range(40)],
            "turn_idx int, kind string",
        )
        stage = compile_filter(
            {
                "type": "cond",
                "condition": "kind == 'hot'",
                "filter": [{"type": "ratelimit", "key": "turn_idx",
                            "keep_num": 1, "keep_den": 10}],
            },
            ctx(spark),
        )
        out = stage(df)
        assert out.filter("kind = 'cold'").count() == 20  # untouched
        assert out.filter("kind = 'hot'").count() < 20    # throttled

    def test_url_param(self, spark):
        df = spark.createDataFrame(
            [(1, "/s?q=spark&page=2"), (2, "/plain")], "id int, request string"
        )
        stage = compile_filter(
            {"type": "url_param", "source": "request", "include_keys": ["q", "page"]},
            ctx(spark),
        )
        got = {r["id"]: r for r in stage(df).collect()}
        assert got[1]["q"] == "spark" and got[1]["page"] == "2"
        assert got[2]["q"] is None
