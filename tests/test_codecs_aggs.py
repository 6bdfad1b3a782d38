"""Codecs, statsd-style aggregates, partitioned write mode, enrich aliases."""

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from gogstash_spark import codecs
from gogstash_spark.operators import Context, compile_filter
from gogstash_spark.plans.spec import PipelineSpec
from gogstash_spark.runner import compute_aggregate, run_pipeline


class TestCodecs:
    def test_decode_default(self, spark):
        df = spark.createDataFrame([("raw line",)], "value string")
        assert codecs.decode_default(df).collect()[0]["text"] == "raw line"

    def test_json_roundtrip(self, spark):
        df = spark.createDataFrame(
            [('{"level":"info","n":3}',)], "value string"
        )
        out = codecs.decode_json(df, schema="struct<level:string,n:bigint>")
        r = out.collect()[0]
        assert r["level"] == "info" and r["n"] == 3

    def test_json_reserved_field_lift_typed(self, spark):
        """message -> text, @timestamp -> ts, tags merge
        (reference codec/json/codecjson.go:111-138)."""
        df = spark.createDataFrame(
            [('{"message":"hi","@timestamp":"2024-03-01T12:00:00.123456789Z","tags":["a"],"k":"v"}',)],
            "value string",
        ).withColumn("tags", F.array(F.lit("pre")))
        out = codecs.decode_json(
            df, schema='struct<message:string,`@timestamp`:string,tags:array<string>,k:string>'
        )
        r = out.collect()[0]
        assert r["text"] == "hi"
        assert r["ts"].year == 2024 and r["ts"].microsecond == 123456  # nanos truncate
        assert sorted(r["tags"]) == ["a", "pre"]
        assert r["k"] == "v"

    def test_json_reserved_field_lift_schemaless(self, spark):
        df = spark.createDataFrame(
            [('{"message":"hi","@timestamp":"2024-03-01T12:00:00Z","k":"v"}',)],
            "value string",
        )
        r = codecs.decode_json(df).collect()[0]
        assert r["text"] == "hi"
        assert r["ts"].year == 2024
        assert dict(r["extra"]) == {"k": "v"}  # reserved keys lifted out

    def test_encode_json_utc_timestamp(self, spark):
        df = spark.createDataFrame(
            [("msg",)], "text string"
        ).withColumn("ts", F.to_timestamp(F.lit("2024-03-01 12:00:00")))
        out = codecs.encode_json(df).collect()[0]["encoded"]
        d = json.loads(out)
        assert d["message"] == "msg"
        assert d["@timestamp"].startswith("2024-03-01T12:00:00")

    def test_encode_json_golden_go_marshal(self, spark):
        """Byte-for-byte parity with the reference marshal
        (config/logevent/logevent.go:120-143): Go layout
        2006-01-02T15:04:05.999999999Z trims trailing fraction zeros;
        empty message/tags are omitted; encoding/json sorts map keys."""
        df = spark.createDataFrame(
            [("hi",)], "text string"
        ).withColumn("ts", F.to_timestamp(F.lit("2024-03-01 12:00:00.5")))
        out = codecs.encode_json(df, sort_map_keys=True).collect()[0]["encoded"]
        assert out == '{"@timestamp":"2024-03-01T12:00:00.5Z","message":"hi"}'

        # zero fraction drops the dot entirely; empty message omitted
        df2 = spark.createDataFrame(
            [("", ["x"])], "text string, tags array<string>"
        ).withColumn("ts", F.to_timestamp(F.lit("2024-03-01 12:00:00")))
        out2 = codecs.encode_json(df2, sort_map_keys=True).collect()[0]["encoded"]
        assert out2 == '{"@timestamp":"2024-03-01T12:00:00Z","tags":["x"]}'

        # empty tags omitted
        df3 = df2.withColumn("tags", F.array().cast("array<string>"))
        out3 = codecs.encode_json(df3).collect()[0]["encoded"]
        assert json.loads(out3) == {"@timestamp": "2024-03-01T12:00:00Z"}

    def test_encode_json_remove_field_and_sort(self, spark):
        """event.remove_field drops top-level fields AND nested map keys
        at marshal time (logevent.go removePathValue); sort_map_keys
        orders the serialized fields."""
        df = spark.createDataFrame(
            [("m", "v", {"keep": "1", "drop": "2"})],
            "text string, zfield string, extra map<string,string>",
        )
        out = codecs.encode_json(
            df, sort_map_keys=True, remove_field=["zfield", "extra.drop"]
        ).collect()[0]["encoded"]
        assert out == '{"extra":{"keep":"1"},"message":"m"}'
        # unsorted keeps declaration order (text -> message first)
        out2 = codecs.encode_json(df, remove_field=["zfield"]).collect()[0]["encoded"]
        assert out2.startswith('{"message":"m"')

    def test_encode_json_remove_field_struct_root(self, spark):
        """nested remove_field also walks STRUCT roots (dropFields),
        incl. deeper dotted paths; removing every field omits the
        column (omit-empty) instead of an invalid empty struct."""
        df = spark.createDataFrame(
            [("m", ("1", "2", ("x", "y")))],
            "text string, rec struct<keep:string,drop:string,deep:struct<a:string,b:string>>",
        )
        out = codecs.encode_json(
            df, sort_map_keys=True, remove_field=["rec.drop", "rec.deep.b"]
        ).collect()[0]["encoded"]
        assert out == '{"message":"m","rec":{"keep":"1","deep":{"a":"x"}}}'
        out2 = codecs.encode_json(
            df, remove_field=["rec.keep", "rec.drop", "rec.deep"]
        ).collect()[0]["encoded"]
        assert out2 == '{"message":"m"}'
        # a path listed next to a deeper path under it still goes whole
        out3 = codecs.encode_json(
            df, remove_field=["rec.deep", "rec.deep.b"]
        ).collect()[0]["encoded"]
        assert out3 == '{"message":"m","rec":{"keep":"1","drop":"2"}}'

    def test_encode_json_struct_deep_sub_does_not_count_as_whole_field(self, spark):
        """'rec.deep.b' removes only deep.b — it must NOT count 'deep'
        as fully removed and omit the whole struct (rec.keep and
        rec.deep.a survive)."""
        df = spark.createDataFrame(
            [("m", ("1", ("x", "y")))],
            "text string, rec struct<keep:string,deep:struct<a:string,b:string>>",
        )
        out = codecs.encode_json(
            df, sort_map_keys=True, remove_field=["rec.keep", "rec.deep.b"]
        ).collect()[0]["encoded"]
        assert out == '{"message":"m","rec":{"deep":{"a":"x"}}}'

    def test_encode_json_nested_struct_fully_removed_drops_parent_field(self, spark):
        """Removing EVERY field of a NESTED struct must drop that
        parent field (an empty struct is inexpressible), not crash
        with CANNOT_DROP_ALL_FIELDS."""
        df = spark.createDataFrame(
            [("m", ("1", ("x",)))],
            "text string, rec struct<keep:string,deep:struct<b:string>>",
        )
        out = codecs.encode_json(
            df, sort_map_keys=True, remove_field=["rec.deep.b"]
        ).collect()[0]["encoded"]
        assert out == '{"message":"m","rec":{"keep":"1"}}'

    def test_encode_json_map_nested_under_struct(self, spark):
        """Single-level key removal works for a map NESTED under a
        struct (the reference's removePathValue walks it); deeper paths
        under that map still fail loudly."""
        df = spark.createDataFrame(
            [("m", ({"keep": "1", "drop": "2"},))],
            "text string, rec struct<attrs:map<string,string>>",
        )
        out = codecs.encode_json(
            df, sort_map_keys=True, remove_field=["rec.attrs.drop"]
        ).collect()[0]["encoded"]
        assert out == '{"message":"m","rec":{"attrs":{"keep":"1"}}}'
        with pytest.raises(ValueError, match="deeper nested removal"):
            codecs.encode_json(df, remove_field=["rec.attrs.a.b"]).collect()

    def test_encode_json_map_deep_sub_raises(self, spark):
        """map_filter only reaches top-level map keys; a deeper dotted
        path under a map root must fail loudly, not silently serialize
        the field the config says to scrub."""
        df = spark.createDataFrame(
            [("m", {"k": "v"})], "text string, attrs map<string,string>"
        )
        with pytest.raises(ValueError, match="deeper nested removal"):
            codecs.encode_json(df, remove_field=["attrs.deep.b"])

    def test_encode_json_remove_field_bad_root_raises(self, spark):
        df = spark.createDataFrame([("m", 1)], "text string, n int")
        with pytest.raises(ValueError, match="not a column"):
            codecs.encode_json(df, remove_field=["typo.key"])
        with pytest.raises(ValueError, match="not a map/struct"):
            codecs.encode_json(df, remove_field=["n.key"])

    def test_eventhub_explode(self, spark):
        env = '{"records":[{"msg":"a"},{"msg":"b"}]}'
        df = spark.createDataFrame([(env,)], "value string")
        out = codecs.decode_azureeventhubjson(df).collect()
        assert [r["record"]["msg"] for r in out] == ["a", "b"]


class TestStatsdAgg:
    def test_metric_key_template_ops(self, spark):
        df = spark.createDataFrame(
            [
                ("s1", "user", "none", 10),
                ("s1", "user", "none", 20),
                ("s1", "tool", "bash", 5),
            ],
            "sink string, role string, tool string, latency_ms long",
        )
        out = compute_aggregate(
            df, {"metric_key": "%{role}.%{tool}", "ops": ["count", "sum:latency_ms"]}
        )
        got = {(r["sink"], r["metric"]): (r["n"], r["sum_latency_ms"]) for r in out.collect()}
        assert got[("s1", "user.none")] == (2, 30)
        assert got[("s1", "tool.bash")] == (1, 5)


class TestSessionize:
    def test_gap_segmentation_and_stable_ties(self, spark):
        from gogstash_spark.functions.sessions import sessionize

        rows = [
            ("c1", 1, "2024-01-01 10:00:00"),
            ("c1", 2, "2024-01-01 10:05:00"),   # same session (5 min)
            ("c1", 3, "2024-01-01 11:00:00"),   # new session (55 min gap)
            ("c1", 4, "2024-01-01 11:00:00"),   # tie on ts -> turn_idx order
            ("c2", 1, "2024-01-01 10:00:00"),
        ]
        df = spark.createDataFrame(rows, "conv_id string, turn_idx int, s string") \
            .withColumn("ts", F.to_timestamp("s")).drop("s")
        got = {
            (r["conv_id"], r["turn_idx"]): (r["session_idx"], r["session_id"])
            for r in sessionize(df, gap_seconds=1800).collect()
        }
        assert got[("c1", 1)] == (0, "c1#0")
        assert got[("c1", 2)] == (0, "c1#0")
        assert got[("c1", 3)] == (1, "c1#1")
        assert got[("c1", 4)] == (1, "c1#1")
        assert got[("c2", 1)] == (0, "c2#0")


class TestPercentileOps:
    def test_statsd_pnn_ops(self, spark):
        from gogstash_spark.runner import compute_aggregate

        df = spark.createDataFrame(
            [("s", "u", float(i)) for i in range(1, 101)],
            "sink string, role string, latency_ms double",
        )
        out = compute_aggregate(
            df, {"metric_key": "%{role}", "ops": ["count", "p50:latency_ms", "p95:latency_ms"]}
        ).collect()[0]
        assert out["n"] == 100
        assert out["p50_latency_ms"] == 50.5
        assert abs(out["p95_latency_ms"] - 95.05) < 1e-9


class TestPartitionedWrite:
    def test_partitionby_route_counts_match_pandas(self, spark, sf_data_dir, tmp_path):
        spec = PipelineSpec.from_dict(
            {
                "input": {"path": os.path.join(sf_data_dir, "transcripts")},
                "filter": [],
                "output": [
                    {"type": "table", "name": "s_user", "condition": "role == 'user'"},
                    {"type": "table", "name": "s_tool", "condition": "role == 'tool'"},
                ],
                "aggregate": [],
            }
        )
        res = run_pipeline(spark, spec, out_dir=str(tmp_path / "a"), base_dir=sf_data_dir)
        roles = pd.read_parquet(os.path.join(sf_data_dir, "transcripts"))["role"]
        expected = {"s_user": int((roles == "user").sum()), "s_tool": int((roles == "tool").sum())}
        assert expected["s_user"] > 0 and expected["s_tool"] > 0
        assert res.sink_rows == expected
        written = spark.read.parquet(str(tmp_path / "a" / "by_route"))
        for sink, n in expected.items():
            assert written.filter(F.col("route") == sink).count() == n, sink


class TestEnrichAliases:
    def test_ip2location_alias(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        lk = str(tmp_path / "ip2l.parquet")
        pq.write_table(
            pa.table({"ip": ["8.8.8.8"], "country_code": ["US"], "ISP": ["G"]}), lk
        )
        df = spark.createDataFrame([(1, "8.8.8.8")], "id int, clientip string")
        stage = compile_filter(
            {"type": "ip2location", "source": "clientip", "path": lk},
            Context(spark=spark),
        )
        r = stage(df).collect()[0]
        assert r["ip2location"]["country_code"] == "US"


class TestEncodeJsonReviewFixes:
    def test_remove_field_accepts_marshal_names(self, spark):
        """remove_field uses marshal names like the reference's
        removePathValue — 'message' must strip the text column."""
        df = spark.createDataFrame([("secret", "k")], "text string, other string")
        out = codecs.encode_json(df, remove_field=["message"]).collect()[0]["encoded"]
        assert json.loads(out) == {"other": "k"}

    def test_timestamp_renders_utc_under_any_session_tz(self, spark):
        df = spark.createDataFrame([("m",)], "text string").withColumn(
            "ts", F.to_timestamp(F.lit("2024-03-01 12:00:00"))
        )
        tz0 = spark.conf.get("spark.sql.session.timeZone")
        try:
            spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
            # the instant was created under the ORIGINAL tz; build it
            # fresh under Tokyo so wall 12:00 Tokyo == 03:00 UTC
            df2 = spark.createDataFrame([("m",)], "text string").withColumn(
                "ts", F.to_timestamp(F.lit("2024-03-01 12:00:00"))
            )
            out = codecs.encode_json(df2).collect()[0]["encoded"]
        finally:
            spark.conf.set("spark.sql.session.timeZone", tz0)
        assert json.loads(out)["@timestamp"] == "2024-03-01T03:00:00Z"
