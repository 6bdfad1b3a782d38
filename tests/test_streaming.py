"""Structured Streaming variant: same spec, each epoch committed through
the batch write path and the batch pass after it (lineage and the spec's
aggregates per epoch), checked exactly against batch runs: per-epoch
aggregates re-aggregated over the epochs equal the batch aggregates.
The availableNow trigger drives the whole file-backed stream to
completion synchronously."""

import os
import re

import pytest
from pyspark.sql import functions as F

from gogstash_spark import runner
from gogstash_spark.plans.spec import PipelineSpec
from gogstash_spark.streaming.pipeline import run_pipeline_streaming


def _route(spark, out_dir, route):
    """One route's rows of a streaming run's by_route/epoch=N output."""
    return spark.read.parquet(os.path.join(out_dir, "by_route")).filter(F.col("route") == route)


# how each per-epoch aggregate column merges over epochs, by name prefix
_MERGE = {"n": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


def _merged(spark, out_dir, name):
    """A streaming run's agg_<name>/epoch=N partials merged over the
    epochs: regrouped on the key columns, each measure re-aggregated."""
    parts = spark.read.parquet(os.path.join(out_dir, "agg_" + name)).drop("epoch")
    merge = {c: _MERGE[c.split("_")[0]] for c in parts.columns if c.split("_")[0] in _MERGE}
    keys = [c for c in parts.columns if c not in merge]
    return parts.groupBy(*keys).agg(*[fn(c).alias(c) for c, fn in merge.items()])


def _assert_same_rows(got, want):
    got = got.select(*want.columns)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def _lineage_rows(spark, out_dir):
    """{route: rows} summed over every epoch's _lineage sidecar."""
    rollup = runner._lineage_rollup(spark, os.path.join(out_dir, "_lineage"))
    return {r["route"]: r["rows"] for r in rollup}


@pytest.fixture(scope="module")
def mini_spec(sf_data_dir):
    return PipelineSpec.from_dict(
        {
            "input": {"path": os.path.join(sf_data_dir, "transcripts")},
            "filter": [
                {"type": "add_field", "key": "src", "value": "%{role}/%{tool}"},
            ],
            "output": [
                {"type": "table", "name": "s_user", "condition": "role == 'user'"},
                {"type": "table", "name": "s_tool", "condition": "role == 'tool'"},
            ],
        }
    )


class TestStreaming:
    def test_foreachbatch_fanout_matches_batch(self, spark, sf_data_dir, mini_spec, tmp_path):
        out, batch_out = str(tmp_path / "stream_out"), str(tmp_path / "batch")
        run_pipeline_streaming(spark, mini_spec, out, base_dir=sf_data_dir)
        runner.run_pipeline(spark, mini_spec, out_dir=batch_out, base_dir=sf_data_dir,
                            resume=False)
        # the default aggregate, merged over the epochs, is the batch one
        _assert_same_rows(
            _merged(spark, out, "counts"),
            spark.read.parquet(os.path.join(batch_out, "agg_counts")),
        )
        src = spark.read.parquet(os.path.join(sf_data_dir, "transcripts"))
        want_user = src.filter("role = 'user'").count()
        want_tool = src.filter("role = 'tool'").count()
        assert _route(spark, out, "s_user").count() == want_user
        assert _route(spark, out, "s_tool").count() == want_tool
        # enriched field made it through the streaming chain
        row = _route(spark, out, "s_user").select("src").first()
        assert row["src"].startswith("user/")

    def test_spark_submit_streaming_prints_json_line(
        self, spark, sf_data_dir, mini_spec, tmp_path, capsys
    ):
        """spark_submit_main --streaming prints one JSON line: sink_rows
        (the batch line's key) summed over the epochs' lineage, and the
        epoch count (8 input files, 4 per trigger)."""
        import dataclasses
        import importlib.util
        import json

        path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "spark_submit_main.py")
        mod_spec = importlib.util.spec_from_file_location("spark_submit_main", path)
        submit = importlib.util.module_from_spec(mod_spec)
        mod_spec.loader.exec_module(submit)
        spec_path = tmp_path / "spec.json"
        spec_path.write_text(json.dumps(dataclasses.asdict(mini_spec)))
        assert submit.main(["--spec", str(spec_path), "--out", str(tmp_path / "out"),
                            "--base-dir", sf_data_dir, "--streaming"]) == 0
        line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        src = spark.read.parquet(os.path.join(sf_data_dir, "transcripts"))
        assert line["sink_rows"] == {
            "s_user": src.filter("role = 'user'").count(),
            "s_tool": src.filter("role = 'tool'").count(),
        }
        assert line["epochs"] == 2

    def test_grok_chain_streams(self, spark, sf_data_dir, tmp_path):
        """The grok stage observes by name on a streaming frame (an
        Observation would reject it): the query runs, and its sinks and
        observed counts match the batch run's."""
        from gogstash_spark.pipelines import EXTRA_PATTERNS, GROK_MATCHES

        out = str(tmp_path / "stream_grok")
        q = run_pipeline_streaming(
            spark,
            {
                "input": {"path": os.path.join(sf_data_dir, "transcripts")},
                "filter": [{"type": "grok", "source": "text", "match": GROK_MATCHES,
                            "patterns": EXTRA_PATTERNS}],
                "output": [{"type": "table", "name": "s_dead",
                            "condition": "'gogstash_filter_grok_error' IN tags"}],
            },
            out, base_dir=sf_data_dir,
        )
        assert _route(spark, out, "s_dead").count() == 780
        observed = [
            m for p in q.recentProgress for k, m in p.observedMetrics.items()
            if k.startswith("grok_")
        ]
        assert sum(m["rows"] for m in observed) == 5000
        assert sum(m["misses"] for m in observed) == 780

    def test_epoch_replay_is_idempotent(self, spark, tmp_path):
        """Re-running an epoch (Structured Streaming's failure recovery)
        must not duplicate rows in already-written sinks."""
        from gogstash_spark.plans.compile import ROUTES, Route
        from gogstash_spark.streaming.pipeline import make_batch_writer

        out = str(tmp_path / "replay_out")
        df = spark.createDataFrame(
            [(i, "user" if i % 2 else "tool") for i in range(10)], "id int, role string"
        ).withColumn(
            ROUTES,
            F.array_compact(F.array(
                F.when(F.col("role") == "user", F.lit("s_user")),
                F.when(F.col("role") == "tool", F.lit("s_tool")),
            )),
        )
        wb = make_batch_writer([Route("s_user", "true"), Route("s_tool", "true")],
                               runner.aggregate_specs(PipelineSpec()), out)
        wb(df, 0)
        wb(df, 0)  # replay of the same epoch
        assert _route(spark, out, "s_user").count() == 5
        assert _route(spark, out, "s_tool").count() == 5
        counts = spark.read.parquet(os.path.join(out, "agg_counts")).groupBy("sink").sum("n")
        assert {r[0]: r[1] for r in counts.collect()} == {"s_user": 5, "s_tool": 5}
        wb(df, 1)  # a genuinely new epoch appends
        assert _route(spark, out, "s_user").count() == 10

    def test_epoch_commits_lineage_without_rollup(self, spark, tmp_path):
        """An epoch commits its lineage sidecar but never reads it back:
        the write, the lineage and the one default aggregate run two jobs
        each (shuffle, then write). The per-route rollup that run_pipeline
        reports would add two more, and no epoch reads it."""
        from gogstash_spark.plans.compile import ROUTES, Route
        from gogstash_spark.streaming.pipeline import make_batch_writer

        out = str(tmp_path / "jobs_out")
        df = spark.createDataFrame(
            [(i, "user" if i % 2 else "tool") for i in range(10)], "id int, role string"
        ).withColumn(ROUTES, F.array(F.concat(F.lit("s_"), F.col("role"))))
        wb = make_batch_writer([Route("s_user", "true"), Route("s_tool", "true")],
                               runner.aggregate_specs(PipelineSpec()), out)
        sc = spark.sparkContext
        jobs = []
        for epoch in range(2):  # the first epoch also warms the session
            sc.setJobGroup("epoch-jobs-%d" % epoch, "one streaming epoch")
            try:
                wb(df, epoch)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup("epoch-jobs-%d" % epoch)))
        assert jobs == [6, 6]
        assert _lineage_rows(spark, out) == {"s_user": 10, "s_tool": 10}

    def test_stateful_dedup_across_microbatches(self, spark, tmp_path):
        """applyInPandasWithState: first event per key wins, duplicates
        in LATER microbatches are dropped by keyed state."""
        from gogstash_spark.streaming.stateful import dedup_stream

        src_dir = str(tmp_path / "src")
        # two files -> two microbatches (maxFilesPerTrigger=1)
        spark.createDataFrame(
            [("k1", "first"), ("k2", "first")], "k string, v string"
        ).coalesce(1).write.mode("overwrite").parquet(src_dir)
        spark.createDataFrame(
            [("k1", "dup"), ("k3", "first")], "k string, v string"
        ).coalesce(1).write.mode("append").parquet(src_dir)

        schema = spark.read.parquet(src_dir).schema
        stream = (
            spark.readStream.format("parquet").schema(schema)
            .option("maxFilesPerTrigger", 1).load(src_dir)
        )
        q = (
            dedup_stream(stream, ["k"])
            .writeStream.outputMode("append").format("memory")
            .queryName("dedup_state_test").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = {
            r["k"]: r["v"]
            for r in spark.sql("SELECT * FROM dedup_state_test").collect()
        }
        assert set(got) == {"k1", "k2", "k3"}
        assert got["k2"] == "first" and got["k3"] == "first"


class TestStreamingSessionize:
    def test_sessions_carry_across_microbatches(self, spark, tmp_path):
        """per-key (last_ts, session_idx) state: a conversation that
        resumes within the gap keeps its session; a long pause (or a
        fresh key) starts the next — matching the batch sessionize on
        the same in-order data."""
        from gogstash_spark.functions.sessions import sessionize
        from gogstash_spark.streaming.stateful import sessionize_stream

        src_dir = str(tmp_path / "sess_src")
        b1 = [
            ("c1", 0, "2024-03-01 10:00:00"),
            ("c1", 1, "2024-03-01 10:10:00"),
            ("c2", 0, "2024-03-01 10:00:00"),
        ]
        b2 = [
            ("c1", 2, "2024-03-01 10:20:00"),   # within gap: session 0
            ("c1", 3, "2024-03-01 13:00:00"),   # >30min later: session 1
            ("c2", 1, "2024-03-01 12:00:00"),   # c2 long pause: session 1
            ("c3", 0, "2024-03-01 12:00:00"),   # fresh key: session 0
        ]
        schema_in = "conv_id string, turn_idx int, ts_s string"
        for i, rows in enumerate([b1, b2]):
            (
                spark.createDataFrame(rows, schema_in)
                .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
                .coalesce(1).write.mode("append" if i else "overwrite")
                .parquet(src_dir)
            )
        schema = spark.read.parquet(src_dir).schema
        stream = (
            spark.readStream.format("parquet").schema(schema)
            .option("maxFilesPerTrigger", 1).load(src_dir)
        )
        q = (
            sessionize_stream(stream, "conv_id", "ts", "turn_idx", gap_seconds=1800)
            .writeStream.outputMode("append").format("memory")
            .queryName("sess_stream_t").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = {
            (r["conv_id"], r["turn_idx"]): (r["session_idx"], r["session_id"])
            for r in spark.sql("SELECT * FROM sess_stream_t").collect()
        }
        assert got[("c1", 0)] == (0, "c1#0")
        assert got[("c1", 2)] == (0, "c1#0")   # continued across batches
        assert got[("c1", 3)] == (1, "c1#1")
        assert got[("c2", 1)] == (1, "c2#1")
        assert got[("c3", 0)] == (0, "c3#0")
        # in-order data: streaming assignment == batch window assignment
        batch = sessionize(
            spark.read.parquet(src_dir), "conv_id", "ts", "turn_idx",
            gap_seconds=1800,
        )
        want = {
            (r["conv_id"], r["turn_idx"]): (r["session_idx"], r["session_id"])
            for r in batch.collect()
        }
        assert got == want

    def test_late_cross_batch_event_joins_current_session(self, spark, tmp_path):
        """PINNED late-data semantics (cursor sessionizer): an event
        arriving in a LATER microbatch with ts before the key's cursor
        joins the current session — it is neither dropped nor allowed to
        renumber earlier output — and the cursor does not rewind, so a
        straggler can't split the session for later in-order events."""
        from gogstash_spark.streaming.stateful import sessionize_stream

        src_dir = str(tmp_path / "late_src")
        b1 = [
            ("c1", 0, "2024-03-01 10:00:00"),
            ("c1", 1, "2024-03-01 10:10:00"),
        ]
        b2 = [
            ("c1", 2, "2024-03-01 09:55:00"),   # LATE: before the cursor
            ("c1", 3, "2024-03-01 10:25:00"),   # in-order, within gap of 10:10
            ("c1", 4, "2024-03-01 13:00:00"),   # >30min: next session
        ]
        schema_in = "conv_id string, turn_idx int, ts_s string"
        for i, rows in enumerate([b1, b2]):
            (
                spark.createDataFrame(rows, schema_in)
                .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
                .coalesce(1).write.mode("append" if i else "overwrite")
                .parquet(src_dir)
            )
        schema = spark.read.parquet(src_dir).schema
        stream = (
            spark.readStream.format("parquet").schema(schema)
            .option("maxFilesPerTrigger", 1).load(src_dir)
        )
        q = (
            sessionize_stream(stream, "conv_id", "ts", "turn_idx", gap_seconds=1800)
            .writeStream.outputMode("append").format("memory")
            .queryName("sess_late_t").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = {
            (r["conv_id"], r["turn_idx"]): r["session_idx"]
            for r in spark.sql("SELECT * FROM sess_late_t").collect()
        }
        assert got[("c1", 2)] == 0   # late event folded into current session
        assert got[("c1", 3)] == 0   # cursor not rewound: no spurious split
        assert got[("c1", 4)] == 1   # real gap still opens the next session

    def test_windowed_session_counts_rate_limited(self, spark, tmp_path):
        """the verdict's shape: session assignment in a rate-limited
        stream (maxFilesPerTrigger as the batch token bucket), rolled up
        to per-window session counts."""
        from gogstash_spark.streaming.stateful import sessionize_stream

        src_dir = str(tmp_path / "sess_rate_src")
        # one file per burst hour = time-ordered arrival (a log stream);
        # maxFilesPerTrigger throttles to one burst per microbatch
        for i, hh in enumerate((9, 12)):
            rows = [
                ("c%d" % c, 3 * i + t, "2024-03-01 %02d:%02d:00" % (hh, 5 * t))
                for c in range(4) for t in range(3)
            ]
            (
                spark.createDataFrame(rows, "conv_id string, turn_idx int, ts_s string")
                .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
                .coalesce(1).write.mode("append" if i else "overwrite")
                .parquet(src_dir)
            )
        schema = spark.read.parquet(src_dir).schema
        stream = (
            spark.readStream.format("parquet").schema(schema)
            .option("maxFilesPerTrigger", 1).load(src_dir)  # rate limit
        )
        q = (
            sessionize_stream(stream, "conv_id", "ts", "turn_idx", gap_seconds=1800)
            .writeStream.outputMode("append").format("memory")
            .queryName("sess_rate_t").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        out = spark.sql("SELECT * FROM sess_rate_t")
        agg = (
            out.groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.countDistinct("session_id").alias("sessions"))
            .collect()
        )
        by_hour = {r["w"]["start"].hour: r["sessions"] for r in agg}
        assert by_hour == {9: 4, 12: 4}  # 4 convs x 1 session per burst


class TestOneWritePath:
    """Streaming epochs commit through the batch runner's write path
    (runner.write_by_route), so both write the same rows per route."""

    def _stream(self, spark, spec, events, tmp_path):
        src = str(tmp_path / "src")
        events.coalesce(1).write.parquet(src)
        out = str(tmp_path / "stream_out")
        run_pipeline_streaming(spark, {**spec, "input": {"path": src}}, out)
        return out

    def test_docid_index_routes_match_batch(self, spark, tmp_path):
        """A %{}-index route carries the rendered index, and doc-id dedup
        runs in each epoch: the elastic spec streams what batch writes."""
        from gogstash_spark.runner import run_pipeline

        events = spark.createDataFrame(
            [("C1", 1, "User", "a"), ("C1", 1, "User", "a-dup"), ("C2", 2, "Tool", "b")],
            "conv_id string, turn_idx int, role string, text string",
        )
        spec = {
            "output": [{"type": "elastic", "name": "es", "index": "Logs-%{role}",
                        "document_id": "%{conv_id}/%{turn_idx}"}],
        }
        batch = run_pipeline(spark, spec, input_df=events, out_dir=str(tmp_path / "batch"),
                             resume=False)
        assert batch.sink_rows == {"logs-user": 1, "logs-tool": 1}
        got = spark.read.parquet(
            os.path.join(self._stream(spark, spec, events, tmp_path), "by_route")
        )
        assert {r["route"]: r["count"] for r in got.groupBy("route").count().collect()} == \
            batch.sink_rows
        assert {r["_doc_id"] for r in got.collect()} == {"C1/1", "C2/2"}

    def test_standard_spec_routes_match_batch(self, spark, sf_data_dir, tmp_path):
        """standard_spec at sf0.001 streams exactly the rows batch writes
        per route (8 input files, so more than one epoch)."""
        from gogstash_spark.pipelines import standard_spec
        from gogstash_spark.runner import run_pipeline

        spec = standard_spec(sf_data_dir)
        batch_out, stream_out = str(tmp_path / "batch"), str(tmp_path / "stream")
        res = run_pipeline(spark, spec, out_dir=batch_out, base_dir=sf_data_dir, resume=False)
        assert res.sink_rows == {
            "sink_errors": 1462, "sink_tool_calls": 732, "sink_user_turns": 2007,
            "sink_deadletter": 780, "sink_rest": 1244,
        }
        run_pipeline_streaming(spark, spec, stream_out, base_dir=sf_data_dir)
        streamed = spark.read.parquet(os.path.join(stream_out, "by_route"))
        assert streamed.select("epoch").distinct().count() > 1
        batch = spark.read.parquet(os.path.join(batch_out, "by_route"))
        _assert_same_rows(streamed, batch)
        # the pass after the write runs per epoch: its aggregates merge
        # over the epochs to the batch ones, its lineage to sink_rows
        for name in ("counts", "conv_counts", "statsd"):
            _assert_same_rows(
                _merged(spark, stream_out, name),
                spark.read.parquet(os.path.join(batch_out, "agg_" + name)),
            )
        assert _lineage_rows(spark, stream_out) == res.sink_rows
        # the rebalance on route sizes each epoch's write by data: an
        # epoch this small writes one file per non-empty route
        epochs = [e for e in os.listdir(os.path.join(stream_out, "by_route"))
                  if e.startswith("epoch=")]
        for epoch in epochs:
            edir = os.path.join(stream_out, "by_route", epoch)
            routes = [r for r in os.listdir(edir) if r.startswith("route=")]
            assert routes, epoch
            for route in routes:
                parts = [f for f in os.listdir(os.path.join(edir, route))
                         if f.endswith(".parquet")]
                assert len(parts) == 1, (epoch, route, parts)

    def test_both_runners_write_through_write_by_route(self, spark, tmp_path, monkeypatch):
        targets, agg_targets = [], []
        write, post_write = runner.write_by_route, runner.post_write

        def spy(routed, routes, target, *args):
            targets.append(os.path.relpath(target, str(tmp_path)))
            return write(routed, routes, target, *args)

        def post_spy(by_route, lin_dir, aggs):
            agg_targets.extend(os.path.relpath(d, str(tmp_path)) for _, d in aggs.values())
            return post_write(by_route, lin_dir, aggs)

        monkeypatch.setattr(runner, "write_by_route", spy)
        monkeypatch.setattr(runner, "post_write", post_spy)
        events = spark.createDataFrame([(1, "user"), (2, "tool")], "id int, role string")
        spec = {"output": [{"type": "table", "name": "s"}]}
        runner.run_pipeline(spark, spec, input_df=events, out_dir=str(tmp_path / "batch"),
                            resume=False)
        self._stream(spark, spec, events, tmp_path)
        assert targets == ["batch/by_route", "stream_out/by_route/epoch=0"]
        # and through the one pass after the write
        assert agg_targets == ["batch/agg_counts", "stream_out/agg_counts/epoch=0"]
        # and no library module filters the routes column per sink
        pkg = os.path.dirname(runner.__file__)
        for root, _, files in os.walk(pkg):
            for name in files:
                if name.endswith(".py"):
                    with open(os.path.join(root, name)) as f:
                        assert not re.search(r"array_contains\([^)]*ROUTES", f.read()), name

    def test_killed_epoch_commit_stays_invisible(self, spark, tmp_path, monkeypatch):
        """An epoch whose write dies before its rename leaves only a
        dot-named temp dir, which partition discovery skips: by_route
        still reads the earlier epochs, with an int `epoch` column."""
        from gogstash_spark.plans.compile import ROUTES, Route
        from gogstash_spark.streaming.pipeline import make_batch_writer

        out = str(tmp_path / "out")
        df = spark.createDataFrame([(i,) for i in range(6)], "id int").withColumn(
            ROUTES, F.array(F.lit("s"))
        )
        wb = make_batch_writer([Route("s", "true")], runner.aggregate_specs(PipelineSpec()), out)
        wb(df, 0)

        def killed(src, dst):
            raise RuntimeError("killed before the rename")

        with monkeypatch.context() as m:
            m.setattr(runner.os, "replace", killed)
            with pytest.raises(RuntimeError, match="killed"):
                wb(df, 1)
        by_route = os.path.join(out, "by_route")
        leftover = [d for d in os.listdir(by_route) if d != "epoch=0"]
        assert len(leftover) == 1 and "epoch=1" in leftover[0]  # the killed temp dir
        got = spark.read.parquet(by_route)
        assert got.count() == 6
        assert dict(got.dtypes)["epoch"] == "int"
        assert [r["epoch"] for r in got.select("epoch").distinct().collect()] == [0]
        counts = spark.read.parquet(os.path.join(out, "agg_counts"))
        assert [tuple(r) for r in counts.select("epoch", "sink", "n").collect()] == [(0, "s", 6)]

    def test_duplicate_sink_names_rejected(self, spark, tmp_path):
        with pytest.raises(ValueError, match="duplicate sink"):
            run_pipeline_streaming(
                spark,
                {"input": {"path": str(tmp_path / "src")},
                 "output": [{"type": "table", "name": "s"}, {"type": "table", "name": "s"}]},
                str(tmp_path / "out"),
            )

    def test_protocol_sinks_rejected(self, spark, tmp_path):
        """Protocol outputs are sent only by the batch runner; streaming
        refuses them by name instead of writing them as parquet."""
        with pytest.raises(ValueError, match=r"\['hook', 'gl'\]"):
            run_pipeline_streaming(
                spark,
                {"input": {"path": str(tmp_path / "src")},
                 "output": [
                    {"type": "table", "name": "archive"},
                    {"type": "http", "name": "hook", "url": "http://localhost:9/x"},
                    {"type": "gelf", "name": "gl", "host": "localhost", "port": 9},
                ]},
                str(tmp_path / "out"),
            )

    def test_unmergeable_aggregates_rejected(self, spark, tmp_path):
        """avg and pNN partials do not merge over epochs, so streaming
        refuses those aggregates by name; count/sum/min/max stream."""
        with pytest.raises(ValueError, match=r"\['lat_avg', 'lat_p95'\]"):
            run_pipeline_streaming(
                spark,
                {"input": {"path": str(tmp_path / "src")},
                 "output": [{"type": "table", "name": "s"}],
                 "aggregate": [
                     {"name": "lat", "metric_key": "%{role}",
                      "ops": ["count", "sum:latency_ms", "min:latency_ms", "max:latency_ms"]},
                     {"name": "lat_avg", "metric_key": "%{role}", "ops": ["avg:latency_ms"]},
                     {"name": "lat_p95", "metric_key": "%{role}", "ops": ["count", "p95:latency_ms"]},
                 ]},
                str(tmp_path / "out"),
            )


class TestStreamInputs:
    """spec.input streams through the batch reader's file and codec
    dispatch, so a file input streams what batch writes."""

    @pytest.mark.parametrize("typ, lines, filters", [
        ("text", ["level=error disk full", "level=info started", "level=error oom"], [
            {"type": "grok", "source": "text",
             "match": ["^level=%{WORD:level} %{GREEDYDATA:msg}"]},
        ]),
        ("json", ['{"level": "error", "msg": "disk full", "n": 1}',
                  '{"level": "info", "msg": "started", "n": 2}',
                  '{"level": "error", "msg": "oom", "n": 3}'], []),
    ])
    def test_file_input_streams_what_batch_writes(self, spark, tmp_path, typ, lines, filters):
        src = tmp_path / "src"
        src.mkdir()
        for i in range(5):  # 5 files, 4 per trigger: 2 epochs
            (src / ("part-%d.log" % i)).write_text(
                "".join("%s\n" % ln.replace("disk", "disk%d" % i) for ln in lines)
            )
        spec = {
            "input": {"type": typ, "path": str(src)},
            "filter": filters,
            "output": [{"type": "table", "name": "errors", "condition": "level == 'error'"},
                       {"type": "table", "name": "all"}],
        }
        batch_out, stream_out = str(tmp_path / "batch"), str(tmp_path / "stream")
        res = runner.run_pipeline(spark, spec, out_dir=batch_out, resume=False)
        assert res.sink_rows == {"errors": 10, "all": 15}
        run_pipeline_streaming(spark, spec, stream_out)
        streamed = spark.read.parquet(os.path.join(stream_out, "by_route"))
        assert streamed.select("epoch").distinct().count() == 2
        # ts is stamped at read time, so the two runs differ only there
        _assert_same_rows(
            streamed.drop("ts"),
            spark.read.parquet(os.path.join(batch_out, "by_route")).drop("ts"),
        )

    def test_drain_input_rejected(self, spark, tmp_path):
        """A one-shot drain input has no stream: streaming names it
        before the query starts."""
        with pytest.raises(ValueError, match="'lorem'"):
            run_pipeline_streaming(
                spark,
                {"input": {"type": "lorem"}, "output": [{"type": "table", "name": "s"}]},
                str(tmp_path / "out"),
            )
        assert not os.path.exists(str(tmp_path / "out" / "_checkpoint"))
