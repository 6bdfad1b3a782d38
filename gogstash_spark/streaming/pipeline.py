"""Structured Streaming variant of the pipeline.

The reference is a daemon: inputs push events through channels forever
(reference config/input.go:70-85). The streaming runner applies the
same compiled pipeline (`plan.run`) to a readStream source, and each
micro-batch commits through the batch runner's one write path
(`runner.write_by_route`) into out_dir/by_route/epoch=N, then runs the
batch pass after the write (`runner.post_write`) into
out_dir/_lineage/epoch=N and out_dir/agg_<name>/epoch=N. An epoch
replay replaces its own dirs, so it is idempotent. After RQL, a query
over the epochs is answered from per-epoch partials: count, sum, min and
max merge by re-aggregating; avg and pNN do not and raise, as protocol
outputs do. Doc-id dedup holds within an epoch (across epochs:
`stateful.dedup_stream`).

The source is spec.input, read by `sources.files.stream_source`: the
batch reader's file and codec dispatch over readStream, or kafka (the
reference's other daemon input) when the spark-sql-kafka jar is on the
classpath. Drain inputs (exec, http, redis, ...) raise. sincedb offset
checkpointing (reference input/file/sincedb.go:21-91) maps to the
streaming checkpointLocation.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from gogstash_spark import runner
from gogstash_spark.operators import Context
from gogstash_spark.plans.compile import Route, compile_pipeline
from gogstash_spark.plans.spec import PipelineSpec
from gogstash_spark.sources.files import stream_source


def make_batch_writer(routes: list[Route], aggs: list[dict], out_dir: str):
    """foreachBatch writer: each micro-batch commits through
    `runner.write_by_route` to out_dir/by_route/epoch=N, then
    `runner.post_write` over that output to out_dir/_lineage/epoch=N and
    out_dir/agg_<name>/epoch=N for each of `aggs`. Each dir replaces its
    previous commit, so an epoch replay is idempotent."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        epoch = "epoch=%d" % epoch_id
        part_dir = os.path.join(out_dir, "by_route", epoch)
        schema = runner.write_by_route(batch_df, routes, part_dir)
        with runner.post_write(
            runner._read_routed(batch_df.sparkSession, part_dir, schema),
            os.path.join(out_dir, "_lineage", epoch),
            {a["name"]: (a, os.path.join(out_dir, "agg_" + a["name"], epoch)) for a in aggs},
        ) as (lineage, agg_rows):
            for job in [lineage, *agg_rows.values()]:
                job.result()

    return write_batch


def run_pipeline_streaming(
    spark: SparkSession,
    spec: PipelineSpec | dict,
    out_dir: str,
    base_dir: str = ".",
    await_termination: bool = True,
):
    """Run the compiled pipeline as a streaming query over spec.input
    whose micro-batches commit through the batch write path and
    post-write pass; returns the query handle, terminated when
    await_termination. Protocol outputs, which only run_pipeline sends,
    aggregates with an avg or pNN op, which do not merge over epochs,
    and inputs that do not stream raise ValueError."""
    if isinstance(spec, dict):
        spec = PipelineSpec.from_dict(spec)
    plan = compile_pipeline(spec, Context(spark=spark, base_dir=base_dir))
    protocol = [r.sink for r in plan.routes if r.out_cfg is not None]
    if protocol:
        raise ValueError("streaming writes table sinks only; protocol outputs %s "
                         "are sent by run_pipeline" % protocol)
    aggs = runner.aggregate_specs(spec)
    unmerged = [a["name"] for a in aggs
                if any(re.match(r"(avg|p\d+):", op) for op in a.get("ops", []))]
    if unmerged:
        raise ValueError("streaming aggregates merge over epochs by re-aggregating; "
                         "aggregates %s have avg/pNN ops, which do not" % unmerged)
    q = (
        plan.run(stream_source(spark, spec.input))
        .writeStream.foreachBatch(make_batch_writer(plan.routes, aggs, out_dir))
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
