"""Pure-function tests: grok translation, cond translation, date formats.

Mirrors the reference's pure-unit layer (pathvalue_test.go, kv tokenizer
tests) — no Spark session needed.
"""

import re

import pytest

from gogstash_spark.functions.conds import CondError, cond_to_sql
from gogstash_spark.functions.datefmt import go_layout_to_spark
from gogstash_spark.functions.grok import compile_grok

APACHE_LINE = (
    '8.8.8.8 - - [18/Jul/2017:16:10:16 +0300] "GET /index.html HTTP/1.1" '
    '200 756 "https://google.com/" "Mozilla/5.0 (X11; Linux x86_64) Chrome/120.0"'
)


class TestGrok:
    def test_commonapachelog_captures(self):
        cg = compile_grok("%{COMMONAPACHELOG}")
        m = re.search(cg.named("python"), APACHE_LINE)
        assert m
        assert m.group("clientip") == "8.8.8.8"
        assert m.group("verb") == "GET"
        assert m.group("request") == "/index.html"
        assert m.group("response") == "200"
        assert m.group("bytes") == "756"
        assert cg.types == {"response": "int", "bytes": "int"}

    def test_combined_positional_matches_named(self):
        cg = compile_grok("%{COMBINEDAPACHELOG}")
        mn = re.search(cg.named("python"), APACHE_LINE)
        mp = re.search(cg.positional(), APACHE_LINE)
        assert mn and mp
        for c in cg.captures:
            assert mp.group(cg.group_index(c)) == mn.group(c)

    def test_custom_pattern_and_type(self):
        cg = compile_grok(
            "%{WORD:w} %{INT:n:int}", extra_patterns={}
        )
        m = re.search(cg.named("python"), "hello 42")
        assert m.group("w") == "hello" and m.group("n") == "42"
        assert cg.types["n"] == "int"

    def test_unknown_pattern_raises(self):
        with pytest.raises(KeyError):
            compile_grok("%{NOPE:x}")

    def test_first_dup_field_wins(self):
        cg = compile_grok("%{WORD:x} %{WORD:x}")
        assert cg.captures == ["x"]

    @pytest.mark.parametrize(
        "pattern,line",
        [
            ("%{SYSLOGLINE}", "Jul 18 16:10:16 myhost sshd[1234]: Failed password"),
            ("%{TIMESTAMP_ISO8601:t}", "2024-03-01T12:34:56Z"),
            ("%{URI:u}", "https://example.com:8080/a/b?x=1&y=2"),
            ("%{UUID:u}", "123e4567-e89b-12d3-a456-426614174000"),
            ("%{MAC:m}", "00:1a:2b:3c:4d:5e"),
            ("%{IPV6:i}", "2001:db8::1"),
            ("%{EMAILADDRESS:e}", "bob.smith@example.com"),
            ("%{DATESTAMP:d}", "07/18/2017-16:10:16"),
            ("%{UNIXPATH:p}", "/var/log/app.log"),
        ],
    )
    def test_extended_library(self, pattern, line):
        cg = compile_grok(pattern)
        assert re.search(cg.named("python"), line)

    def test_syslog_typed_fields(self):
        cg = compile_grok("%{SYSLOGLINE}")
        m = re.search(
            cg.named("python"), "Jul 18 16:10:16 myhost sshd[1234]: Failed password"
        )
        assert m.group("program") == "sshd"
        assert m.group("pid") == "1234"
        assert cg.types["pid"] == "int"
        assert m.group("message") == "Failed password"


class TestCond:
    @pytest.mark.parametrize(
        "expr,sql",
        [
            ("a == 'x'", "(a = 'x')"),
            ("a != 1 && b >= 2", "((a <> 1) AND (b >= 2))"),
            ("x || !y", "(x OR (NOT y))"),
            ("'t' IN tags", "array_contains(tags, 't')"),
            ("lvl IN ('a','b')", "(lvl IN ('a', 'b'))"),
            ("empty(f)", "(f IS NULL OR CAST(f AS STRING) = '')"),
            ("strlen(m) > 3", "(length(m) > 3)"),
            ("v =~ 'ab.'", "(v RLIKE 'ab.')"),
            ("a + b * 2 > 4", "((a + (b * 2)) > 4)"),
            ("map('jsonf.level') == 'error'", "(jsonf.level = 'error')"),
        ],
    )
    def test_translate(self, expr, sql):
        assert cond_to_sql(expr) == sql

    def test_bad_expr_raises(self):
        with pytest.raises(CondError):
            cond_to_sql("a ==")

    @pytest.mark.parametrize(
        "expr,kept",
        [
            (r'message =~ "^\\d+$"', ["404"]),
            (r'message == "a\\b"', ["a\\b"]),
            (r"message !~ '\\\\'", ["404", "abc", "d", "dd"]),
        ],
    )
    def test_backslashes_reach_spark(self, spark, expr, kept):
        """A backslash in a condition string is the regex's (or the
        literal's) own, not an escape of the Spark SQL lexer."""
        df = spark.createDataFrame(
            [(m,) for m in ("404", "abc", "a\\b", "d", "dd")], "message string"
        )
        got = [r["message"] for r in df.filter(cond_to_sql(expr)).collect()]
        assert sorted(got) == kept


class TestPathValue:
    """Nested dotted-path get/set/remove with array indexing
    (reference config/logevent/pathvalue.go:29-73,150-192)."""

    @pytest.fixture()
    def nested(self, spark):
        return spark.createDataFrame(
            [(1, {"b": [{"c": 10}, {"c": 20}, {"c": 30}], "d": "x"})],
            "id int, a struct<b:array<struct<c:int>>, d:string>",
        )

    def test_parse_path(self):
        from gogstash_spark.functions.pathvalue import parse_path

        assert parse_path("a.b[0].c") == [
            ("field", "a"), ("field", "b"), ("index", 0), ("field", "c")
        ]
        assert parse_path("x[-1]") == [("field", "x"), ("index", -1)]

    def test_get_nested_and_negative_index(self, spark, nested):
        from gogstash_spark.functions.pathvalue import get_path

        r = nested.select(
            get_path(nested, "a.b[0].c").alias("first"),
            get_path(nested, "a.b[-1].c").alias("last"),
            get_path(nested, "a.d").alias("d"),
        ).collect()[0]
        assert (r["first"], r["last"], r["d"]) == (10, 30, "x")

    def test_set_nested_array_element(self, spark, nested):
        from pyspark.sql import functions as F

        from gogstash_spark.functions.pathvalue import set_path

        out = set_path(nested, "a.b[1].c", F.lit(99)).collect()[0]
        assert [e["c"] for e in out["a"]["b"]] == [10, 99, 30]
        out2 = set_path(nested, "a.d", F.lit("y")).collect()[0]
        assert out2["a"]["d"] == "y"

    def test_remove_nested(self, spark, nested):
        from gogstash_spark.functions.pathvalue import remove_path

        out = remove_path(nested, "a.b[0]").collect()[0]
        assert [e["c"] for e in out["a"]["b"]] == [20, 30]
        out2 = remove_path(nested, "a.d")
        assert "d" not in out2.select("a.*").columns

    def test_set_creates_missing_parent_and_field(self, spark):
        from pyspark.sql import functions as F

        from gogstash_spark.functions.pathvalue import set_path

        df = spark.createDataFrame([(1,)], "id int")
        out = set_path(df, "geo.city", F.lit("x")).collect()[0]
        assert out["geo"]["city"] == "x"  # root created
        df2 = spark.createDataFrame([(1, {"a": 1})], "id int, s struct<a:int>")
        out2 = set_path(df2, "s.b.c", F.lit(7)).collect()[0]
        assert out2["s"]["a"] == 1 and out2["s"]["b"]["c"] == 7  # branch created

    def test_map_parent_get_set_remove(self, spark):
        from pyspark.sql import functions as F

        from gogstash_spark.functions.pathvalue import get_path, remove_path, set_path

        df = spark.createDataFrame(
            [(1, {"password": "s3cret", "user": "bob"})],
            "id int, extra map<string,string>",
        )
        assert df.select(get_path(df, "extra.user").alias("v")).collect()[0]["v"] == "bob"
        out = remove_path(df, "extra.password").collect()[0]
        assert dict(out["extra"]) == {"user": "bob"}
        out2 = set_path(df, "extra.role", F.lit("admin")).collect()[0]
        assert dict(out2["extra"])["role"] == "admin"
        # removing a missing column is a no-op (reference RemoveValue)
        assert remove_path(df, "nope.x").collect()[0]["id"] == 1

    def test_missing_paths_are_safe(self, spark):
        from pyspark.sql import functions as F

        from gogstash_spark.functions.pathvalue import get_path, remove_path, set_path

        df = spark.createDataFrame(
            [(1, {"a": 5, "b": 6}, {"z": 1})],
            "id int, s struct<a:int,b:int>, single struct<z:int>",
        )
        # removing a missing leaf / intermediate is a no-op
        assert remove_path(df, "s.missing").collect()[0]["s"]["a"] == 5
        assert remove_path(df, "s.missing.x").collect()[0]["s"]["b"] == 6
        # removing a missing field from a single-field struct must NOT
        # null the sibling
        assert remove_path(df, "single.bogus").collect()[0]["single"]["z"] == 1
        assert remove_path(df, "single.z").collect()[0]["single"] is None
        # getting a missing nested field is a typed null, not an error
        assert df.select(get_path(df, "s.missing").alias("v")).collect()[0]["v"] is None
        # setting through a NULL struct parent materializes it
        df2 = spark.createDataFrame([(1, None)], "id int, geo struct<city:string>")
        assert set_path(df2, "geo.city", F.lit("x")).collect()[0]["geo"]["city"] == "x"

    def test_add_field_no_overwrite_on_missing_nested(self, spark):
        from gogstash_spark.operators import Context, compile_filter

        df = spark.createDataFrame([(1, {"a": 5, "b": 6})], "id int, s struct<a:int,b:int>")
        add = compile_filter(
            {"type": "add_field", "key": "s.c", "value": "v", "overwrite": False},
            Context(spark=spark),
        )
        assert add(df).collect()[0]["s"]["c"] == "v"

    def test_operator_integration(self, spark, nested):
        from gogstash_spark.operators import Context, compile_filter

        add = compile_filter(
            {"type": "add_field", "key": "a.d", "value": "%{id}"},
            Context(spark=spark),
        )
        assert add(nested).collect()[0]["a"]["d"] == "1"
        rm = compile_filter(
            {"type": "remove_field", "fields": ["a.b[-1]"]}, Context(spark=spark)
        )
        assert [e["c"] for e in rm(nested).collect()[0]["a"]["b"]] == [10, 20]


class TestDateFmt:
    @pytest.mark.parametrize(
        "go,spark",
        [
            ("2006-01-02 15:04:05", "yyyy-MM-dd HH:mm:ss"),
            ("02/Jan/2006:15:04:05 -0700", "dd/MMM/yyyy:HH:mm:ss xx"),
            ("2006-01-02T15:04:05Z07:00", "yyyy-MM-dd'T'HH:mm:ssXXX"),
            ("2006.01.02", "yyyy.MM.dd"),
        ],
    )
    def test_layouts(self, go, spark):
        assert go_layout_to_spark(go) == spark
