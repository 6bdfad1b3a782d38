"""The kafka connector gate, file inputs, lineage and grok metrics."""

import pytest
from pyspark.sql import functions as F

from gogstash_spark.pipelines import standard_spec
from gogstash_spark.runner import run_pipeline


class TestConnectors:
    def test_kafka_raises_actionable_error(self, spark, tmp_path):
        """A gogstash kafka input compiles to a kafka spec input with its
        codec normalised. It streams only: without the connector jar the
        streaming run names the package, and a batch run says to stream."""
        from gogstash_spark.plans.spec import PipelineSpec
        from gogstash_spark.streaming.pipeline import run_pipeline_streaming

        spec = PipelineSpec.from_gogstash({
            "input": [{"type": "kafka", "brokers": ["localhost:9092"], "topics": ["t"],
                       "codec": {"type": "json"}}],
            "output": [{"type": "stdout"}],
        })
        assert spec.input == {"type": "kafka", "brokers": ["localhost:9092"],
                              "topics": ["t"], "codec": "json"}
        with pytest.raises(RuntimeError, match="--packages .*spark-sql-kafka"):
            run_pipeline_streaming(spark, spec, str(tmp_path / "stream"))
        with pytest.raises(ValueError, match="--streaming"):
            run_pipeline(spark, spec, out_dir=str(tmp_path / "batch"), resume=False)


class TestFileInputs:
    """spec.input type/codec dispatch (reference file input + codec,
    input/file/inputfile.go:47-210, config/codec.go:23-36)."""

    def test_text_default_codec(self, spark, tmp_path):
        from gogstash_spark.sources.files import read_input

        p = str(tmp_path / "lines.log")
        with open(p, "w") as f:
            f.write("line one\nline two\n")
        df = read_input(spark, {"type": "text", "path": p})
        assert sorted(r["text"] for r in df.collect()) == ["line one", "line two"]

    def test_text_json_codec_lifts_reserved(self, spark, tmp_path):
        from gogstash_spark.sources.files import read_input

        p = str(tmp_path / "ev.log")
        with open(p, "w") as f:
            f.write('{"message":"hello","@timestamp":"2024-03-01T12:00:00Z","k":"v"}\n')
        df = read_input(spark, {"type": "text", "path": p, "codec": "json"})
        r = df.collect()[0]
        assert r["text"] == "hello" and r["ts"].year == 2024
        assert dict(r["extra"]) == {"k": "v"}

    def test_csv_and_jsonlines(self, spark, tmp_path):
        from gogstash_spark.sources.files import read_input

        c = str(tmp_path / "t.csv")
        with open(c, "w") as f:
            f.write("a,b\n1,x\n2,y\n")
        got = read_input(spark, {"type": "csv", "path": c}).collect()
        assert {(r["a"], r["b"]) for r in got} == {(1, "x"), (2, "y")}
        j = str(tmp_path / "t.jsonl")
        with open(j, "w") as f:
            f.write('{"a": 1}\n{"a": 2}\n')
        got = read_input(spark, {"type": "json", "path": j, "schema": "a bigint"}).collect()
        assert sorted(r["a"] for r in got) == [1, 2]

    def test_pipeline_over_text_input(self, spark, tmp_path):
        """e2e: raw log lines -> grok -> route -> sinks, the reference's
        bread-and-butter file pipeline shape."""
        p = str(tmp_path / "app.log")
        with open(p, "w") as f:
            f.write("level=error latency_ms=12 path=/a status=500\n")
            f.write("level=info latency_ms=3 path=/b status=200\n")
        res = run_pipeline(
            spark,
            {
                "input": {"type": "text", "path": p},
                "filter": [{"type": "kv", "source": "text",
                            "fields": {"level": "string", "status": {"key": "status", "type": "long"}}}],
                "output": [
                    {"type": "table", "name": "errs", "condition": "status >= 500"},
                    {"type": "table", "name": "rest", "condition": "status < 500"},
                ],
                "aggregate": [{"name": "counts", "group_by": ["level"]}],
            },
            out_dir=str(tmp_path / "out"),
            resume=False,
        )
        assert res.sink_rows == {"errs": 1, "rest": 1}


class TestLineageMetrics:
    def test_accumulators_and_per_file_lineage(self, spark, sf_data_dir, tmp_path):
        res = run_pipeline(
            spark,
            standard_spec(sf_data_dir),
            out_dir=str(tmp_path / "out"),
            base_dir=sf_data_dir,
            write_mode="partitioned",
        )
        # observed once per row on the write: exact, never double-counted
        assert res.metrics["acc_grok"] == {"rows": 5000, "misses": 780}
        assert res.sink_rows["sink_deadletter"] == 780
        lineage = res.metrics["lineage"]
        assert lineage["files"] > 0
        # per-file lineage lives in a parquet sidecar (never on the
        # driver); sink totals roll up from it
        per_file = spark.read.parquet(lineage["path"])
        by_route = {
            r["route"]: r["total"]
            for r in per_file.groupBy("route").agg(F.sum("rows").alias("total")).collect()
        }
        assert by_route == res.sink_rows
        assert per_file.count() == lineage["files"]


class TestGrokMetrics:
    """acc_grok comes from the grok stage's observe node, for every
    spec and every grok stage in the chain."""

    LINES = ["level=warn a", "level=error b", "no level here", "level=info c"]

    def run(self, spark, tmp_path, filters):
        df = spark.createDataFrame([(i, t) for i, t in enumerate(self.LINES)], "id int, text string")
        return run_pipeline(
            spark,
            {"filter": filters,
             "output": [{"type": "table", "name": "all", "condition": "true"}],
             "aggregate": [{"name": "counts", "group_by": ["lvl"]}]},
            input_df=df, out_dir=str(tmp_path / "out"), resume=False,
        )

    def test_one_pattern_counts_rows_and_misses(self, spark, tmp_path):
        res = self.run(spark, tmp_path, [{"type": "grok", "match": ["^level=%{WORD:lvl}"]}])
        assert res.metrics["acc_grok"] == {"rows": 4, "misses": 1}

    def test_two_grok_stages_one_in_cond_branch(self, spark, tmp_path):
        """Both stages report and are summed; the branch stage counts only
        the rows its cond owns (2 rows whose id is odd, 1 of them a miss)."""
        res = self.run(spark, tmp_path, [
            {"type": "grok", "match": ["^level=%{WORD:lvl}"]},
            {"type": "cond", "condition": "id % 2 == 1",
             "filter": [{"type": "grok", "match": ["^level=error %{WORD:w}"]}]},
        ])
        assert res.metrics["acc_grok"] == {"rows": 4 + 2, "misses": 1 + 1}
        assert res.sink_rows == {"all": 4}


class TestKafkaContract:
    """The kafka connector contract: the exact readStream options
    generated from a verbatim gogstash kafka input block
    (reference input/kafka/inputkafka.go:20-33), pinned WITHOUT a
    broker or connector jar so semantics can't drift."""

    def test_options_full_block(self):
        from gogstash_spark.sources.connectors import kafka_options_from_gogstash

        cfg = {
            "type": "kafka",
            "version": "0.10.2.0",
            "brokers": ["k1:9092", "k2:9092"],
            "topics": ["logs", "audit"],
            "group": "gogstash",
            "offset_oldest": True,
            "assignor": "roundrobin",
            "security_protocol": "SASL_SSL",
            "sasl_mechanism": "PLAIN",
            "sasl_username": "u",
            "sasl_password": "p",
        }
        assert kafka_options_from_gogstash(cfg) == {
            "kafka.bootstrap.servers": "k1:9092,k2:9092",
            "subscribe": "logs,audit",
            "startingOffsets": "earliest",
            "kafka.group.id": "gogstash",
            "kafka.partition.assignment.strategy":
                "org.apache.kafka.clients.consumer.RoundRobinAssignor",
            "kafka.security.protocol": "SASL_SSL",
            "kafka.sasl.mechanism": "PLAIN",
            "kafka.sasl.jaas.config":
                'org.apache.kafka.common.security.plain.PlainLoginModule '
                'required username="u" password="p";',
        }

    def test_options_defaults_and_errors(self):
        import pytest as _pytest

        from gogstash_spark.sources.connectors import kafka_options_from_gogstash

        minimal = kafka_options_from_gogstash(
            {"brokers": ["b:9092"], "topics": ["t"]}
        )
        # sarama without OffsetOldest starts at newest
        assert minimal["startingOffsets"] == "latest"
        assert "kafka.group.id" not in minimal
        with _pytest.raises(ValueError, match="assignor"):
            kafka_options_from_gogstash(
                {"brokers": [], "topics": [], "assignor": "magic"}
            )
        with _pytest.raises(ValueError, match="sasl_mechanism"):
            kafka_options_from_gogstash(
                {"brokers": [], "topics": [], "sasl_mechanism": "GSSAPI"}
            )

    def test_stream_probe_names_missing_jar(self, spark):
        import pytest as _pytest

        from gogstash_spark.sources.files import stream_source

        with _pytest.raises(RuntimeError, match="spark-sql-kafka"):
            stream_source(spark, {"type": "kafka", "brokers": ["b:9092"], "topics": ["t"]})

    def test_jaas_credentials_are_escaped(self):
        from gogstash_spark.sources.connectors import kafka_options_from_gogstash

        opts = kafka_options_from_gogstash({
            "brokers": ["b:9092"], "topics": ["t"],
            "sasl_mechanism": "PLAIN",
            "sasl_username": 'u"x', "sasl_password": 'p\\"y',
        })
        assert opts["kafka.sasl.jaas.config"] == (
            'org.apache.kafka.common.security.plain.PlainLoginModule '
            'required username="u\\"x" password="p\\\\\\"y";'
        )
