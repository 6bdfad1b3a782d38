"""Structured Streaming variant of the pipeline.

The reference is a daemon: inputs push events through channels forever
(reference config/input.go:70-85). The streaming runner applies the
same compiled pipeline (`plan.run`) to a readStream source, and each
micro-batch commits through the batch runner's one write path
(`runner.write_by_route`) into out_dir/by_route/epoch=N, with the same
route=<sink> partitions as a batch run. An epoch replay replaces its
own dir, so it is idempotent (exactly-once at the sink level). Doc-id
dedup holds within an epoch (across epochs: `stateful.dedup_stream`);
protocol outputs are batch-only. The report-style aggregate becomes a
watermarked windowed count (reference output/report/outputreport.go:56-92).

File-source streaming stands in for kafka here (the kafka connector
needs its jar; `readStream.format("kafka")` is the one-line swap).
sincedb offset checkpointing (reference input/file/sincedb.go:21-91)
maps to the streaming checkpointLocation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gogstash_spark import runner
from gogstash_spark.operators import Context
from gogstash_spark.plans.compile import Route, compile_pipeline
from gogstash_spark.plans.spec import PipelineSpec


def stream_source(spark: SparkSession, path: str, schema=None) -> DataFrame:
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 4)  # rate_limit analog in streaming
        .load(path)
    )


def make_batch_writer(routes: list[Route], out_dir: str):
    """foreachBatch writer: each micro-batch commits through
    `runner.write_by_route` to out_dir/by_route/epoch=N, replacing that
    dir, so an epoch replay is idempotent. Readers see by_route as one
    dataset partitioned by (epoch, route)."""
    by_route = os.path.join(out_dir, "by_route")

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        runner.write_by_route(batch_df, routes, os.path.join(by_route, "epoch=%d" % epoch_id))

    return write_batch


def run_pipeline_streaming(
    spark: SparkSession,
    spec: PipelineSpec | dict,
    input_path: str,
    out_dir: str,
    base_dir: str = ".",
    await_termination: bool = True,
):
    """Run the compiled pipeline as a streaming query whose micro-batches
    commit through the batch write path. Returns the streaming query
    handle (stopped when await_termination via processAllAvailable).
    Protocol outputs, which only run_pipeline sends, raise ValueError."""
    if isinstance(spec, dict):
        spec = PipelineSpec.from_dict(spec)
    plan = compile_pipeline(spec, Context(spark=spark, base_dir=base_dir))
    protocol = [r.sink for r in plan.routes if r.out_cfg is not None]
    if protocol:
        raise ValueError("streaming writes table sinks only; protocol outputs %s "
                         "are sent by run_pipeline" % protocol)
    q = (
        plan.run(stream_source(spark, input_path))
        .writeStream.foreachBatch(make_batch_writer(plan.routes, out_dir))
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def windowed_counts(
    spark: SparkSession,
    input_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    queryName: str = "windowed_counts",
):
    """Watermarked windowed aggregate (late data handled by watermark):
    counts by (tool, window). Memory sink for tests."""
    src = stream_source(spark, input_path)
    # parquet NTZ timestamps can't carry a watermark; session tz is UTC
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("tool"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql("SELECT window.start AS ws, tool, n FROM %s" % queryName)
