"""Routing fan-out + batch runner e2e + resume (no dup / no loss),
mirroring SURVEY.md §5's oracle layer: a pure-pandas reimplementation
of the route predicates over the same rows.
"""

import json
import os
import re
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gogstash_spark.functions.grok import compile_grok
from gogstash_spark.operators import Context
from gogstash_spark.pipelines import EXTRA_PATTERNS, GROK_MATCHES, standard_spec
from gogstash_spark.plans.compile import compile_pipeline, flatten_outputs
from gogstash_spark.plans.spec import PipelineSpec
from gogstash_spark.runner import _read_routed, run_pipeline


class TestFlattenOutputs:
    def test_nested_cond_tree(self):
        routes = flatten_outputs(
            [
                {"type": "table", "name": "all"},
                {
                    "type": "cond",
                    "condition": "a > 1",
                    "output": [
                        {"type": "table", "name": "big", "condition": "b == 'x'"},
                    ],
                    "else_output": [{"type": "table", "name": "small"}],
                },
            ]
        )
        by_name = {r.sink: r.pred_sql for r in routes}
        assert by_name["all"] == "true"
        assert "(a > 1)" in by_name["big"] and "(b = 'x')" in by_name["big"]
        assert "NOT coalesce" in by_name["small"]


class TestElasticSinkSemantics:
    """%{}-formatted lowercased index + document_id dedup
    (reference output/elastic/outputelastic.go:199-202)."""

    @pytest.fixture()
    def events(self, spark):
        return spark.createDataFrame(
            [
                ("C1", 1, "User", "a"),
                ("C1", 1, "User", "a-dup"),   # same doc id -> dedup
                ("C2", 2, "Tool", "b"),
            ],
            "conv_id string, turn_idx int, role string, text string",
        )

    def spec(self):
        return PipelineSpec.from_dict({
            "input": {},
            "filter": [],
            "output": [{
                "type": "elastic", "name": "es",
                "index": "Logs-%{role}",
                "document_id": "%{conv_id}/%{turn_idx}",
            }],
            "aggregate": [{"name": "counts", "group_by": ["role"]}],
        })

    def test_index_lowercased_and_docid_dedup(self, spark, events, tmp_path):
        out = str(tmp_path / "es_out")
        res = run_pipeline(
            spark, self.spec(), input_df=events, out_dir=out,
            write_mode="partitioned", resume=False,
        )
        # %{role} value 'User' -> index 'logs-user'
        assert set(res.sink_rows) == {"logs-user", "logs-tool"}
        got = spark.read.parquet(os.path.join(out, "by_route"))
        assert got.filter("route = 'logs-user'").count() == 1  # doc-id dedup
        assert got.filter("route = 'logs-tool'").count() == 1
        ids = {r["_doc_id"] for r in got.collect()}
        assert ids == {"C1/1", "C2/2"}

    def test_docid_dedup_does_not_touch_corouted_sinks(self, spark, tmp_path):
        """A doc-id sink's dedup must not collapse distinct rows in a
        co-routed archive sink with no document_id."""
        events = spark.createDataFrame(
            [("C1", 1, "alice", "m1"), ("C1", 2, "alice", "m2"), ("C2", 3, "bob", "m3")],
            "conv_id string, turn_idx int, user string, text string",
        )
        res = run_pipeline(
            spark,
            {
                "input": {},
                "filter": [],
                "output": [
                    # doc id = user -> alice's two rows collapse to one here
                    {"type": "elastic", "name": "byuser", "index": "U-%{user}",
                     "document_id": "%{user}"},
                    # archive keeps every row
                    {"type": "table", "name": "archive"},
                ],
                "aggregate": [{"name": "counts", "group_by": ["user"]}],
            },
            input_df=events,
            out_dir=str(tmp_path / "out"),
            write_mode="partitioned", resume=False,
        )
        assert res.sink_rows["archive"] == 3  # NO loss in the plain sink
        assert res.sink_rows["u-alice"] == 1 and res.sink_rows["u-bob"] == 1

    def test_two_doc_sinks_keep_their_own_doc_ids(self, spark, tmp_path):
        """Co-routed rows written under each doc-sink's partition must
        carry THAT sink's rendered doc id, not the first sink's."""
        events = spark.createDataFrame(
            [("C1", 1, "alice")], "conv_id string, turn_idx int, user string"
        )
        res = run_pipeline(
            spark,
            {
                "input": {}, "filter": [],
                "output": [
                    {"type": "elastic", "name": "by_user", "index": "byuser",
                     "document_id": "%{user}"},
                    {"type": "elastic", "name": "by_turn", "index": "byturn",
                     "document_id": "%{conv_id}/%{turn_idx}"},
                ],
                "aggregate": [{"name": "counts", "group_by": ["user"]}],
            },
            input_df=events, out_dir=str(tmp_path / "out"),
            write_mode="partitioned", resume=False,
        )
        assert res.sink_rows == {"byuser": 1, "byturn": 1}
        got = spark.read.parquet(str(tmp_path / "out" / "by_route"))
        ids = {r["route"]: r["_doc_id"] for r in got.collect()}
        assert ids == {"byuser": "alice", "byturn": "C1/1"}

    def test_dynamic_index_requires_partitioned_mode(self, spark, events, tmp_path):
        """'partitioned' is the only write path: any other write_mode is
        refused up front, before a byte is written."""
        with pytest.raises(ValueError, match="only write path is 'partitioned'"):
            run_pipeline(
                spark, self.spec(), input_df=events,
                out_dir=str(tmp_path / "x"), write_mode="per_sink", resume=False,
            )
        assert not (tmp_path / "x").exists()


class TestHotRouteSplit:
    def test_hot_route_spreads_over_files(self, spark, tmp_path):
        """A route holding 90% of the rows is split over several write
        tasks by the REBALANCE itself (AQE splits a rebalance partition
        above the advisory size by map blocks), not written by ONE task
        — the straggler that kills a 1000-executor job."""
        from gogstash_spark.plans.compile import ROUTES, Route
        from gogstash_spark.runner import write_by_route

        routed = spark.range(200_000, numPartitions=8).select(
            "id",
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
            F.array(F.when(F.col("id") % 10 == 0, "cold").otherwise("hot")).alias(ROUTES),
        )
        key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        prev = spark.conf.get(key)
        spark.conf.set(key, "256k")
        try:
            target = str(tmp_path / "by_route")
            write_by_route(routed, [Route("hot", "true"), Route("cold", "true")], target)
        finally:
            spark.conf.set(key, prev)

        hot = [f for f in os.listdir(os.path.join(target, "route=hot")) if f.endswith(".parquet")]
        assert len(hot) >= 2, hot
        got = spark.read.parquet(target).groupBy("route").count().collect()
        assert {r["route"]: r["count"] for r in got} == {"hot": 180_000, "cold": 20_000}


class TestGogstashConfigAdapter:
    """A reference gogstash YAML config runs end-to-end through
    PipelineSpec.from_gogstash with its own module/key names."""

    def test_reference_yaml_runs(self, spark, tmp_path):
        import yaml

        from gogstash_spark.plans.spec import PipelineSpec

        log = tmp_path / "access.log"
        log.write_text(
            '1.1.1.1 - - [18/Jul/2017:16:10:16 +0000] "GET /a HTTP/1.1" 200 10\n'
            '2.2.2.2 - - [18/Jul/2017:16:10:17 +0000] "POST /b HTTP/1.1" 500 20\n'
            '1.1.1.1 - - [18/Jul/2017:16:10:18 +0000] "GET /c HTTP/1.1" 503 30\n'
        )
        geo = tmp_path / "geo.parquet"
        spark.createDataFrame(
            [("1.1.1.1", "AU"), ("2.2.2.2", "DE")], "ip string, country string"
        ).write.mode("overwrite").parquet(str(geo))
        cfg = yaml.safe_load(f"""
input:
  - type: file
    path: {log}
filter:
  - type: grok
    match: ["%{{COMMONAPACHELOG}}"]
  - type: date
    source: timestamp
    format: ["02/Jan/2006:15:04:05 -0700"]
  - type: geoip2
    db_path: {geo}
    ip_field: clientip
    quiet: true
output:
  - type: cond
    condition: "response >= 500"
    output:
      - type: elastic
        index: "Errors-%{{verb}}"
        document_id: "%{{clientip}}"
    else_output:
      - type: file
        name: access_ok
  - type: stdout
  - type: report
  - type: statsd
    increment: ["resp.%{{response}}"]
""")
        spec = PipelineSpec.from_gogstash(cfg)
        res = run_pipeline(
            spark, spec, out_dir=str(tmp_path / "out"),
            write_mode="partitioned", resume=False,
        )
        # 500/503 route to the lowercased dynamic index; doc-id=clientip
        # is distinct per error row here
        assert res.sink_rows.get("errors-post") == 1
        assert res.sink_rows.get("errors-get") == 1
        assert res.sink_rows.get("access_ok") == 1
        assert res.sink_rows.get("stdout") == 3  # stdout sees every event
        # report counts per (sink, minute): 4 sinks x 1 bucket
        assert res.agg_rows.get("report") == 4
        assert res.agg_rows.get("statsd") == 6  # resp.200/500/503 x {own sink, stdout}

    def test_multi_file_inputs_union(self, spark, tmp_path):
        from gogstash_spark.plans.spec import PipelineSpec
        from gogstash_spark.sources.files import read_input

        (tmp_path / "a.log").write_text("a1\na2\n")
        (tmp_path / "b.log").write_text("b1\n")
        spec = PipelineSpec.from_gogstash({
            "input": [
                {"type": "file", "path": str(tmp_path / "a.log")},
                {"type": "file", "path": str(tmp_path / "b.log")},
            ],
            "output": [{"type": "file", "path": "/var/out.log"}],
        })
        df = read_input(spark, spec.input)
        assert sorted(r["text"] for r in df.collect()) == ["a1", "a2", "b1"]

    def test_exec_input_wired_through_spec(self, spark):
        from gogstash_spark.plans.spec import PipelineSpec
        from gogstash_spark.sources.files import read_input

        spec = PipelineSpec.from_gogstash({
            "input": [{"type": "exec", "command": "printf", "args": ["x\\ny\\n"]}],
            "output": [{"type": "stdout"}],
        })
        df = read_input(spark, spec.input)
        assert sorted(r["text"] for r in df.collect()) == ["x", "y"]

    def test_duplicate_outputs_get_unique_names(self):
        from gogstash_spark.plans.spec import PipelineSpec

        spec = PipelineSpec.from_gogstash({
            "input": [],
            "output": [
                {"type": "file", "path": "/log/a"},
                {"type": "file", "path": "/log/a"},  # same path twice
                {"type": "report"},
                {"type": "report"},
            ],
        })
        names = [o["name"] for o in spec.output]
        assert len(names) == len(set(names))
        agg_names = [a["name"] for a in spec.aggregate]
        assert len(agg_names) == len(set(agg_names)) == 2

    def test_statsd_metric_kinds_and_branch_condition(self):
        from gogstash_spark.plans.spec import PipelineSpec

        spec = PipelineSpec.from_gogstash({
            "input": [],
            "output": [{
                "type": "cond", "condition": "response >= 500",
                "output": [
                    {"type": "report"},
                    {"type": "statsd",
                     "timing": [{"name": "lat", "value": "%{latency_ms}"}],
                     "gauge": [{"name": "g", "value": "%{queue_len}"}]},
                ],
            }],
        })
        by_name = {a["name"]: a for a in spec.aggregate}
        assert by_name["report"]["condition"] == "response >= 500"
        t = by_name["statsd_timing"]
        assert t["condition"] == "response >= 500"
        assert "p95:latency_ms" in t["ops"] and "avg:latency_ms" in t["ops"]
        assert by_name["statsd_gauge"]["ops"] == ["count", "avg:queue_len"]

    def test_statsd_non_field_template_unsupported(self):
        from gogstash_spark.plans.spec import PipelineSpec

        with pytest.raises(ValueError, match="statsd"):
            PipelineSpec.from_gogstash({
                "input": [],
                "output": [{"type": "statsd",
                            "timing": [{"name": "x", "value": "fixed-%{a}-%{b}"}]}],
            })

    def test_duplicate_sink_names_rejected_by_runner(self, spark, tmp_path):
        df = spark.createDataFrame([(1,)], "id int")
        with pytest.raises(ValueError, match="duplicate sink"):
            run_pipeline(
                spark,
                {"input": {}, "filter": [],
                 "output": [{"type": "table", "name": "s"},
                            {"type": "table", "name": "s"}]},
                input_df=df, out_dir=str(tmp_path / "o"), resume=False,
            )

    def test_duplicate_aggregate_names_rejected_by_runner(self, spark, tmp_path):
        df = spark.createDataFrame([(1,)], "id int")
        with pytest.raises(ValueError, match="duplicate aggregate"):
            run_pipeline(
                spark,
                {"input": {}, "filter": [],
                 "output": [{"type": "table", "name": "s"}],
                 "aggregate": [{"name": "n", "group_by": []}, {"name": "n", "group_by": ["id"]}]},
                input_df=df, out_dir=str(tmp_path / "o"), resume=False,
            )

    def test_p999_percentile_op(self, spark):
        from gogstash_spark.runner import compute_aggregate
        from pyspark.sql import functions as SF

        df = spark.createDataFrame(
            [("s", "u", float(i)) for i in range(1, 1001)],
            "sink string, role string, v double",
        )
        out = compute_aggregate(
            df, {"metric_key": "%{role}", "ops": ["p999:v"]}
        ).collect()[0]
        assert abs(out["p999_v"] - 999.001) < 1e-6

    def test_unsupported_modules_raise(self):
        from gogstash_spark.plans.spec import PipelineSpec

        with pytest.raises(ValueError, match=r"\['input/azureeventhub', 'output/kafka'\]"):
            PipelineSpec.from_gogstash(
                {"input": [{"type": "azureeventhub"}], "output": [{"type": "kafka"}]}
            )

    def test_module_name_aliases_registered(self):
        from gogstash_spark.operators import FILTERS

        assert FILTERS["rate_limit"] is FILTERS["ratelimit"]
        assert FILTERS["geoip2"] is FILTERS["geoip"]


def oracle_routes(pdf: pd.DataFrame) -> dict[str, set]:
    """Pure-pandas oracle of the standard-spec routing (FIXTURES.md §4)."""
    rx_a = re.compile(compile_grok(GROK_MATCHES[0], EXTRA_PATTERNS).positional())
    rx_k = re.compile(compile_grok(GROK_MATCHES[1], EXTRA_PATTERNS).positional())
    rx_j = re.compile(compile_grok(GROK_MATCHES[2], EXTRA_PATTERNS).positional())
    out = {s: set() for s in
           ["sink_errors", "sink_tool_calls", "sink_user_turns", "sink_deadletter", "sink_rest"]}
    import json as jsonlib

    for row in pdf.itertuples():
        key = (row.conv_id, row.turn_idx)
        text = row.text
        ma, mk = rx_a.search(text), rx_k.search(text)
        mj = rx_j.search(text)
        status = level = None
        if ma:
            status = int(ma.group(9))
        elif mk:
            status = int(mk.group(4))
            level = mk.group(1)
        elif mj:
            d = jsonlib.loads(text)
            status, level = d.get("code"), d.get("level")
        dead = not (ma or mk or mj)
        routed = False
        if (status is not None and status >= 500) or level == "error":
            out["sink_errors"].add(key)
            routed = True
        if row.role == "tool" and row.tool != "none":
            out["sink_tool_calls"].add(key)
            routed = True
        if row.role == "user":
            out["sink_user_turns"].add(key)
            routed = True
        if dead:
            out["sink_deadletter"].add(key)
            routed = True
        if not routed:
            out["sink_rest"].add(key)
    return out


@pytest.fixture(scope="module")
def run_out(spark, sf_data_dir, tmp_path_factory):
    """Default-mode run: write_mode now defaults to 'partitioned' (the
    scale path), so sinks land under by_route/route=<sink>/."""
    out_dir = str(tmp_path_factory.mktemp("runner_out"))
    spec = standard_spec(sf_data_dir)
    res = run_pipeline(spark, spec, out_dir=out_dir, base_dir=sf_data_dir)
    return out_dir, res


def _read_sink(spark, out_dir, sink):
    return spark.read.parquet(os.path.join(out_dir, "by_route")).filter(
        F.col("route") == sink
    )


class TestRunnerE2E:
    def test_default_mode_writes_partitioned_layout(self, run_out):
        out_dir, res = run_out
        assert os.path.isdir(os.path.join(out_dir, "by_route", "route=sink_errors"))
        assert not os.path.isdir(os.path.join(out_dir, "sink_errors"))

    def test_routed_row_sets_match_oracle(self, spark, sf_data_dir, run_out):
        out_dir, res = run_out
        pdf = pd.read_parquet(os.path.join(sf_data_dir, "transcripts"))
        expected = oracle_routes(pdf)
        for sink, keys in expected.items():
            got = {
                (r["conv_id"], r["turn_idx"])
                for r in _read_sink(spark, out_dir, sink)
                .select("conv_id", "turn_idx")
                .collect()
            }
            assert got == keys, "routed-row set mismatch for %s" % sink

    def test_per_turn_text_equality(self, spark, sf_data_dir, run_out):
        """per-turn text equality under (conv_id, turn_idx) ordering."""
        out_dir, _ = run_out
        src = pd.read_parquet(os.path.join(sf_data_dir, "transcripts"))
        src = src.set_index(["conv_id", "turn_idx"])["text"]
        got = (
            _read_sink(spark, out_dir, "sink_user_turns")
            .select("conv_id", "turn_idx", "text")
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
        )
        for r in got.itertuples():
            assert src.loc[(r.conv_id, r.turn_idx)] == r.text

    def test_aggregate_counts_match(self, spark, run_out):
        out_dir, res = run_out
        agg = spark.read.parquet(os.path.join(out_dir, "agg_counts"))
        per_sink = {
            r["sink"]: r["total"]
            for r in agg.groupBy("sink").agg(F.sum("n").alias("total")).collect()
        }
        assert per_sink == res.sink_rows

    def test_metrics_lineage(self, run_out):
        _, res = run_out
        assert res.metrics["pipeline"]["rows_total"] == 5000
        assert res.metrics["pipeline"]["rows_routed"] == sum(res.sink_rows.values())

    def test_full_resume_reports_committed_rows(self, spark, sf_data_dir, run_out):
        """A re-run on a fully committed out_dir writes nothing and
        reports the first run's sink_rows and agg_rows from the ledger."""
        out_dir, res = run_out
        again = run_pipeline(
            spark, standard_spec(sf_data_dir), out_dir=out_dir, base_dir=sf_data_dir,
            resume=True,
        )
        assert again.metrics["resumed_from_commit"] is True
        assert "pipeline" not in again.metrics  # the routed plan never ran
        assert again.sink_rows == res.sink_rows
        assert list(again.sink_rows) == list(res.sink_rows)
        assert again.agg_rows == res.agg_rows

    def test_default_path_never_localcheckpoints(self, spark, tmp_path, monkeypatch):
        """The write path must not materialize the routed frame:
        localCheckpoint serializes on local mode's single block manager
        (measured round 1: flat 27s at 8 AND 32 cores) and on a cluster
        stores the whole routed dataset to executor storage."""
        events = spark.createDataFrame(
            [("C1", 1, "user", "hi"), ("C2", 2, "tool", "x")],
            "conv_id string, turn_idx int, role string, text string",
        )
        # patch the CONCRETE DataFrame class (pyspark 4's classic session
        # subclasses the public pyspark.sql.DataFrame)
        cls = type(events)
        calls = []
        orig = cls.localCheckpoint

        def spy(self, *a, **k):
            calls.append(1)
            return orig(self, *a, **k)

        monkeypatch.setattr(cls, "localCheckpoint", spy)
        spec = {
            "input": {}, "filter": [],
            "output": [{"type": "table", "name": "users",
                        "condition": "role == 'user'"}],
            "aggregate": [{"name": "counts", "group_by": ["role"]}],
        }
        run_pipeline(spark, spec, input_df=events,
                     out_dir=str(tmp_path / "dflt"), resume=False)
        assert calls == []


def _ledger_keys(out_dir):
    with open(os.path.join(out_dir, "_ledger.json")) as f:
        return list(json.load(f)["sinks"])


class TestPostWritePass:
    """After the write, one schema-given read of by_route feeds lineage,
    the protocol sinks and the aggregates, which run as concurrent jobs;
    the ledger stays in one fixed order."""

    def test_every_output_read_carries_a_schema(self, spark, sf_data_dir, tmp_path, monkeypatch):
        reader = type(spark.read)
        orig_schema, orig_load, orig_parquet = reader.schema, reader.load, reader.parquet
        reads = []  # (path, read was given a schema)

        def schema(self, s):
            self._given_schema = True
            return orig_schema(self, s)

        def load(self, path=None, *a, **k):
            reads.append((str(path), getattr(self, "_given_schema", False) or "schema" in k))
            return orig_load(self, path, *a, **k)

        def parquet(self, *paths, **k):
            reads.extend((str(p), getattr(self, "_given_schema", False)) for p in paths)
            return orig_parquet(self, *paths, **k)

        monkeypatch.setattr(reader, "schema", schema)
        monkeypatch.setattr(reader, "load", load)
        monkeypatch.setattr(reader, "parquet", parquet)
        out = str(tmp_path / "spied")
        run_pipeline(spark, standard_spec(sf_data_dir), out_dir=out, base_dir=sf_data_dir)
        ours = [(p, given) for p, given in reads if p.startswith(out)]
        assert ours and all(given for _, given in ours), ours
        assert [p for p, _ in ours].count(os.path.join(out, "by_route")) == 1, ours

    def test_given_schema_is_the_inferred_schema(self, spark, run_out):
        out_dir, _ = run_out
        with open(os.path.join(out_dir, "_ledger.json")) as f:
            written = json.load(f)["sinks"]["__partitioned__"]["schema"]
        part_dir = os.path.join(out_dir, "by_route")
        given = _read_routed(spark, part_dir, T.StructType.fromJson(json.loads(written))).schema
        inferred = spark.read.parquet(part_dir).schema
        assert given == inferred
        assert [f.nullable for f in given.fields] == [f.nullable for f in inferred.fields]

    def test_concurrent_jobs_keep_the_callers_job_group(self, spark, sf_data_dir, tmp_path):
        sc = spark.sparkContext
        ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
        sc.setJobGroup("runner_post_write", "run_pipeline under one job group")
        try:
            run_pipeline(
                spark, standard_spec(sf_data_dir), out_dir=str(tmp_path / "grouped"),
                base_dir=sf_data_dir,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        assert set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped == set()
        assert sc.statusTracker().getJobIdsForGroup("runner_post_write")

    def test_ledger_and_agg_rows_keep_spec_order(self, spark, sf_data_dir, run_out, tmp_path):
        out_dir, res = run_out
        spec = standard_spec(sf_data_dir)
        again = run_pipeline(spark, spec, out_dir=str(tmp_path / "again"), base_dir=sf_data_dir)
        names = [a["name"] for a in spec.aggregate]
        want = ["__partitioned__"] + ["agg_" + n for n in names]
        assert _ledger_keys(out_dir) == _ledger_keys(str(tmp_path / "again")) == want
        assert list(res.agg_rows) == list(again.agg_rows) == names

    def test_resume_without_recorded_schema_infers_it(self, spark, tmp_path):
        """A ledger written before the schema was recorded still resumes:
        its by_route read infers the schema."""
        events = spark.createDataFrame(
            [("C1", 1, "user", "hi"), ("C2", 2, "tool", "x")],
            "conv_id string, turn_idx int, role string, text string",
        )
        spec = {
            "input": {}, "filter": [],
            "output": [{"type": "table", "name": "users", "condition": "role == 'user'"}],
            "aggregate": [{"name": "counts", "group_by": ["role"]}],
        }
        out = str(tmp_path / "legacy")
        first = run_pipeline(spark, spec, input_df=events, out_dir=out, resume=False)
        path = os.path.join(out, "_ledger.json")
        with open(path) as f:
            state = json.load(f)
        del state["sinks"]["__partitioned__"]["schema"], state["sinks"]["agg_counts"]
        with open(path, "w") as f:
            json.dump(state, f)
        again = run_pipeline(spark, spec, input_df=events, out_dir=out, resume=True)
        assert again.metrics["resumed_from_commit"] is True
        assert again.agg_rows == first.agg_rows == {"counts": 1}

    def test_default_aggregate_without_ts(self, spark, tmp_path):
        """The default aggregate buckets by hour only when the events have
        a `ts` column; without one it counts per sink."""
        events = spark.createDataFrame(
            [("C1", 1, "user", "hi"), ("C2", 2, "tool", "x"), ("C3", 1, "user", "yo")],
            "conv_id string, turn_idx int, role string, text string",
        )
        spec = {
            "input": {}, "filter": [],
            "output": [{"type": "table", "name": "users", "condition": "role == 'user'"}],
        }
        out = str(tmp_path / "no_ts")
        res = run_pipeline(spark, spec, input_df=events, out_dir=out, resume=False)
        assert res.sink_rows == {"users": 2}
        assert res.agg_rows == {"counts": 1}
        agg = spark.read.parquet(os.path.join(out, "agg_counts"))
        assert [tuple(r) for r in agg.collect()] == [("users", 2)]


class TestResume:
    def test_kill_and_resume_no_dup_no_loss(self, spark, sf_data_dir, tmp_path, monkeypatch):
        """A run killed after the by_route commit resumes from that
        commit: no route row is lost or duplicated, and the resumed run
        reports the clean run's sink_rows and agg_rows."""
        from gogstash_spark import runner

        out_a = str(tmp_path / "full")
        out_b = str(tmp_path / "interrupted")
        spec = standard_spec(sf_data_dir)
        full = run_pipeline(spark, spec, out_dir=out_a, base_dir=sf_data_dir)

        def killed(*a, **k):
            raise RuntimeError("killed after the by_route commit")

        with monkeypatch.context() as m:
            m.setattr(runner, "compute_aggregate", killed)
            with pytest.raises(RuntimeError, match="killed"):
                run_pipeline(spark, spec, out_dir=out_b, base_dir=sf_data_dir)
        resumed = run_pipeline(spark, spec, out_dir=out_b, base_dir=sf_data_dir, resume=True)
        assert resumed.metrics["resumed_from_commit"] is True
        for sink in full.sink_rows:
            keys_a = _read_sink(spark, out_a, sink).select("conv_id", "turn_idx").collect()
            keys_b = _read_sink(spark, out_b, sink).select("conv_id", "turn_idx").collect()
            assert len(keys_b) == len(set(keys_b)), sink
            assert set(keys_a) == set(keys_b), sink
        assert resumed.sink_rows == full.sink_rows
        assert resumed.agg_rows == full.agg_rows

    def test_empty_input_reports_zero_rows(self, spark, sf_data_dir, tmp_path):
        """Zero input rows: the partitionBy write leaves no route=
        directory, yet the run completes, every static sink and every
        aggregate reports 0, and a resumed run reports the same."""
        spec = standard_spec(sf_data_dir)
        empty = spark.read.parquet(os.path.join(sf_data_dir, "transcripts")).limit(0)
        out = str(tmp_path / "empty")
        res = run_pipeline(spark, spec, input_df=empty, out_dir=out, base_dir=sf_data_dir)
        assert res.sink_rows == dict.fromkeys(
            ["sink_errors", "sink_tool_calls", "sink_user_turns", "sink_deadletter", "sink_rest"], 0
        )
        assert res.agg_rows and set(res.agg_rows.values()) == {0}
        assert res.metrics["acc_grok"] == {"rows": 0, "misses": 0}
        assert "resumed_from_commit" not in res.metrics
        again = run_pipeline(
            spark, spec, input_df=empty, out_dir=out, base_dir=sf_data_dir, resume=True
        )
        assert again.metrics["resumed_from_commit"] is True
        assert again.sink_rows == res.sink_rows
        assert again.agg_rows == res.agg_rows

    def test_fresh_rerun_overwrites_cleanly(self, spark, sf_data_dir, tmp_path):
        out = str(tmp_path / "twice")
        spec = PipelineSpec.from_dict(
            {
                "input": {"path": os.path.join(sf_data_dir, "transcripts")},
                "filter": [],
                "output": [{"type": "table", "name": "s1", "condition": "role == 'user'"}],
                "aggregate": [],
            }
        )
        r1 = run_pipeline(spark, spec, out_dir=out, base_dir=sf_data_dir)
        shutil.rmtree(os.path.join(out), ignore_errors=False)
        r2 = run_pipeline(spark, spec, out_dir=out, base_dir=sf_data_dir)
        assert r1.sink_rows == r2.sink_rows
