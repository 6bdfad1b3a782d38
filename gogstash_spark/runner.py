"""End-to-end batch runner: read -> filter -> route -> one partitioned write -> aggregates.

Scale design (the part gogstash never faced — one box, one stream):

- ONE write path, nothing materialized, shared with every streaming
  epoch (`write_by_route`): the routed frame is exploded to one row per
  (route, event) and written in a single partitionBy("route") pass under
  out_dir/by_route (streaming: by_route/epoch=N) — every output gets
  every event routed to it (the reference's per-path writer goroutines,
  output/file/outputfile.go:190-325, as one dynamic-partitioned write).
  Lineage, protocol sinks and aggregates share ONE read of the written
  columnar output, given the schema the runner just wrote: one listing,
  no schema inference, and the parse/enrich tree runs exactly once.
- The outputs after the write overlap (`post_write`, also run by every
  streaming epoch): lineage and every aggregate run as concurrent Spark
  jobs over that one read, each committing its own directory — the
  reference hands each event to all outputs at once (errgroup fan-out,
  config/output.go:94-108). One cached scan feeding them all was
  measured slower: the concurrent readers wait on the cache while it
  fills.
- The fan-out shuffle is sized by data, not cores: one AQE REBALANCE on
  `route`. Small routes coalesce into one write task (one file), and a
  route larger than advisoryPartitionSizeInBytes is split by map blocks
  (OptimizeSkewInRebalancePartitions), so a hot route still spreads
  over several write tasks. A fixed cores-based partition count was
  slower (sf3 / 15M turns at local[32]: fixed 32 -> 96 s, rebalance ->
  60 s) because each write task's buffered partition grew with the input.
- Resume: a JSON snapshot ledger (the sincedb analog, reference
  input/file/sincedb.go:21-91) records the partitioned commit (with its
  per-route rows and schema), each protocol sink and each aggregate,
  always in that order and from the calling thread; a resumed run skips
  what is committed and reports its committed row counts. Every
  directory is parquet, written to a temp dir and renamed on commit, so
  a killed write never half-commits.
- Metrics: run totals (rows in, rows routed) and the grok stages'
  rows/misses via `DataFrame.observe` (native aggregates piggybacked on
  the write action — no extra pass); per-filter row counts are not
  collected.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from gogstash_spark.operators import Context
from gogstash_spark.plans.compile import DOC_ID, ROUTES, CompiledPipeline, Route, compile_pipeline
from gogstash_spark.plans.spec import PipelineSpec
from gogstash_spark.session import observed

# the _lineage sidecar's fixed schema, so its re-read infers nothing
LINEAGE_SCHEMA = "route string, file string, rows bigint"


@dataclass
class RunResult:
    sink_rows: dict[str, int] = field(default_factory=dict)
    agg_rows: dict[str, int] = field(default_factory=dict)
    metrics: dict[str, dict | bool] = field(default_factory=dict)
    skipped_sinks: list[str] = field(default_factory=list)
    wall_sec: float = 0.0


class SnapshotLedger:
    """sincedb-analog commit ledger: {sink: {rows, committed_at}}."""

    def __init__(self, path: str):
        self.path = path
        self.state: dict = {}
        if os.path.exists(path):
            with open(path) as f:
                self.state = json.load(f)

    def committed(self, sink: str) -> bool:
        return sink in self.state.get("sinks", {})

    def commit(self, sink: str, rows: int, extra: dict | None = None) -> None:
        self.state.setdefault("sinks", {})[sink] = {
            "rows": rows,
            "committed_at": time.time(),
            **(extra or {}),
        }
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.state, f, indent=2)
        os.replace(tmp, self.path)


def compute_aggregate(exploded: DataFrame, agg: dict) -> DataFrame:
    """One aggregate spec over the exploded (sink, event) frame.

    report shape: group_by cols + optional time_bucket -> count
    (reference output/report/outputreport.go:80-92); statsd shape:
    %{}-template metric key + count/sum/avg/max/min/pNN ops
    (reference output/statsd/outputstatsd.go:267-331). `condition`
    restricts the aggregate to matching events (a report/statsd nested
    under a cond output aggregates only its branch).
    """
    if agg.get("condition"):
        from gogstash_spark.functions.conds import cond_to_sql

        exploded = exploded.filter("coalesce(%s, false)" % cond_to_sql(agg["condition"]))
    if agg.get("metric_key"):
        from gogstash_spark.logevent import format_expr

        keyed = exploded.withColumn("metric", format_expr(exploded, str(agg["metric_key"])))
        aggs = []
        for op in agg.get("ops", ["count"]):
            if op == "count":
                aggs.append(F.count(F.lit(1)).alias("n"))
            else:
                fn_name, fld = op.split(":", 1)
                if fn_name.startswith("p") and fn_name[1:].isdigit():
                    # pNN percentiles (statsd timer naming): p50=0.5,
                    # p95=0.95, p999=0.999 — digits / 10^len
                    digits = fn_name[1:]
                    q = int(digits) / (10 ** len(digits))
                    aggs.append(
                        F.round(F.percentile(F.col(fld), F.lit(q)), 6)
                        .alias("%s_%s" % (fn_name, fld))
                    )
                else:
                    fn = {"sum": F.sum, "avg": F.avg, "max": F.max, "min": F.min}[fn_name]
                    aggs.append(fn(F.col(fld)).alias("%s_%s" % (fn_name, fld)))
        return keyed.groupBy("sink", "metric").agg(*aggs)
    keys = [F.col(k) for k in agg.get("group_by", [])]
    if agg.get("time_bucket"):
        keys.append(F.date_trunc(agg["time_bucket"], F.col("ts")).alias("time_bucket"))
    return exploded.groupBy(F.col("sink"), *keys).agg(F.count(F.lit(1)).alias("n"))


def _fanout_distribute(exploded: DataFrame) -> DataFrame:
    """Distribute the exploded (route, event) frame for the partitionBy
    write: an AQE REBALANCE on `route`, so each route lands in as few
    write tasks as its size needs. AQE coalesces small routes and splits
    a route above advisoryPartitionSizeInBytes by map blocks, so the
    file count follows the data volume, not cores x routes."""
    return exploded.hint("rebalance", "route")


def _commit_dir(write, final_dir: str) -> None:
    """Atomic directory commit: `write(tmp)` fills a temp dir next to
    `final_dir`, then one rename replaces it, so a killed write never
    half-commits. The temp dir is dot-named so partition discovery skips
    it: a killed epoch must not read as an `epoch=N...` partition."""
    head, name = os.path.split(final_dir)
    tmp_dir = os.path.join(head, ".%s.__tmp__" % name)
    write(tmp_dir)
    if os.path.exists(final_dir):
        shutil.rmtree(final_dir)
    os.replace(tmp_dir, final_dir)


def _nullable(dt: T.DataType) -> T.DataType:
    """`dt` with every field, element and value nullable, as a file
    source reads it back."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def _routed_schema(exploded: DataFrame) -> T.StructType:
    """The schema inference returns for the partitionBy("route") output
    of `exploded`: the data columns, then the `route` partition column
    last, all nullable."""
    data = [f for f in exploded.schema.fields if f.name != "route"]
    return _nullable(T.StructType(data + [T.StructField("route", T.StringType())]))


def write_by_route(routed: DataFrame, routes: list[Route], target: str) -> T.StructType:
    """THE write path, shared by `run_pipeline` and every streaming
    epoch: explode `routed`'s ROUTES to one row per (route, event),
    dedup each doc-id sink's copies on its rendered document_id, spread
    the rows over the write tasks (`_fanout_distribute`) and commit one
    partitionBy("route") parquet write at `target` (a temp dir and one
    rename, `_commit_dir`). Returns the schema a read of the committed
    output takes (`_routed_schema`)."""
    exploded = routed.select(F.explode(ROUTES).alias("route"), "*").drop(ROUTES)
    doc_routes = [r for r in routes if r.doc_id_template]
    if doc_routes:
        from gogstash_spark.logevent import format_expr
        from gogstash_spark.plans.compile import route_value_expr

        # elastic document_id semantics: one row per (index, doc id).
        # Dedup applies ONLY to exploded copies whose route belongs to
        # a doc-id sink, keyed by THAT sink's rendered template —
        # copies routed to plain sinks get a unique surrogate and pass
        # through untouched. The _doc_id column is computed HERE per
        # exploded copy so each route partition carries ITS sink's
        # doc ids.
        pieces = []
        for r in doc_routes:
            rv = route_value_expr(exploded, r)
            rendered = format_expr(exploded, str(r.doc_id_template))
            pieces.append(F.when((F.col("route") == rv) & rendered.isNotNull(), rendered))
        per_route_id = F.coalesce(*pieces) if len(pieces) > 1 else pieces[0]
        dd = F.coalesce(
            F.concat(F.lit("d|"), per_route_id),
            F.concat(F.lit("r|"), F.monotonically_increasing_id().cast("string")),
        )
        exploded = (
            exploded.withColumn(DOC_ID, per_route_id)
            .withColumn("__dd", dd)
            .dropDuplicates(["route", "__dd"])
            .drop("__dd")
        )
    exploded = _fanout_distribute(exploded)
    schema = _routed_schema(exploded)
    _commit_dir(exploded.write.mode("overwrite").partitionBy("route").parquet, target)
    return schema


def _read_routed(spark: SparkSession, part_dir: str, schema: T.StructType | None) -> DataFrame:
    """The written by_route output. Given `schema`, the read lists the
    directory once and infers nothing."""
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(part_dir)


def _write_lineage(by_route: DataFrame, lin_dir: str) -> None:
    """Per-partition (per output file) row-count lineage in one pruned
    scan, written to a parquet SIDECAR — at 100 TB the file list is
    10^5-10^6 entries, which must never ride through the driver or the
    JSON ledger (`_lineage_rollup` reads back only O(routes) rows)."""
    lineage_df = by_route.groupBy("route", F.input_file_name().alias("file")).agg(
        F.count(F.lit(1)).alias("rows")
    )
    _commit_dir(lineage_df.write.mode("overwrite").parquet, lin_dir)


def _lineage_rollup(spark: SparkSession, lin_dir: str) -> list:
    """The (route, rows, files) rollup of a lineage root's committed
    part files at any depth: one sidecar, or a streaming run's
    `_lineage/epoch=N` sidecars. No part file (no epoch yet) is []."""
    # the part files, not the dir: Spark treats a `_`-prefixed root as
    # hidden and warns that all its paths were ignored (a glob instead
    # warns that it has no metadata dir). An empty input still commits
    # one part file; dot-named dirs are in-flight commits.
    parts = []
    for root, dirs, files in os.walk(lin_dir):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        parts += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    if not parts:
        return []
    return (
        spark.read.schema(LINEAGE_SCHEMA)
        .parquet(*parts)
        .groupBy("route")
        .agg(F.sum("rows").alias("rows"), F.count(F.lit(1)).alias("files"))
        .collect()
    )


def _write_aggregate(by_route: DataFrame, agg: dict, agg_dir: str) -> int:
    """Commit one aggregate spec over the written output (report/statsd
    semantics, reference output/report/outputreport.go:80-92,
    output/statsd/outputstatsd.go:267-331): the scan is pruned to the
    aggregate's columns, no parse recompute. Returns its row count."""
    exploded = by_route.withColumnRenamed("route", "sink")
    if agg.get("__default__"):
        # the default aggregate keys on what the events actually have: a
        # generic (non-transcripts) config has no `tool` and maybe no `ts`
        agg = {
            **agg,
            "group_by": [k for k in agg["group_by"] if k in exploded.columns],
            "time_bucket": agg["time_bucket"] if "ts" in exploded.columns else None,
        }
    obs = Observation("agg_" + agg["name"])
    agg_df = compute_aggregate(exploded, agg).observe(obs, F.count(F.lit(1)).alias("rows"))
    _commit_dir(agg_df.write.mode("overwrite").parquet, agg_dir)
    return int(observed(obs).get("rows") or 0)


def aggregate_specs(spec: PipelineSpec) -> list[dict]:
    """The spec's aggregates, or the default: hourly counts per sink by
    tool (`_write_aggregate` drops the keys a generic config lacks)."""
    return spec.aggregate or [
        {"name": "counts", "group_by": ["tool"], "time_bucket": "hour", "__default__": True}
    ]


@contextmanager
def post_write(by_route: DataFrame, lin_dir: str | None, aggs: dict[str, tuple[dict, str]]):
    """THE pass after the write, run once by `run_pipeline` and once per
    streaming epoch: lineage into `lin_dir` (None skips it) and each
    aggregate of `aggs` ({name: (agg, dir)}) as concurrent Spark jobs
    over `by_route`, each committing its own dir. Yields (lineage future
    or None, {name: rows future}); the jobs inherit the caller's job
    group, and the caller works while they run (only `run_pipeline`
    reads the `_lineage_rollup` once the lineage future is done)."""
    with ThreadPoolExecutor(max_workers=len(aggs) + 1) as pool:

        def submit(fn, *args):
            return pool.submit(inheritable_thread_target(by_route.sparkSession)(fn), *args)

        yield (
            None if lin_dir is None else submit(_write_lineage, by_route, lin_dir),
            {name: submit(_write_aggregate, by_route, agg, d) for name, (agg, d) in aggs.items()},
        )


def _route_sink_rows(plan: CompiledPipeline, route_rows: dict[str, int]) -> dict[str, int]:
    """sink_rows from per-route row counts: every static sink (0 when no
    row reached it), then each dynamic %{}-index route value."""
    rows = {r.sink: int(route_rows.get(r.sink, 0)) for r in plan.routes if not r.index_template}
    for k, v in route_rows.items():
        rows.setdefault(k, int(v))
    return rows


def run_pipeline(
    spark: SparkSession,
    spec: PipelineSpec | dict,
    input_df: DataFrame | None = None,
    out_dir: str = "/tmp/gogstash_spark_out",
    base_dir: str = ".",
    resume: bool = True,
    write_mode: str = "partitioned",
) -> RunResult:
    """Run `spec` end to end with ONE partitionBy(route) write of every
    routed event under out_dir/by_route (`write_by_route`), then the
    protocol sinks and the pass after the write (`post_write`: lineage
    and aggregates as concurrent jobs) over one schema-given read of it.

    write_mode names the write path; "partitioned" is the only one and
    anything else raises ValueError. With resume=True a run skips every
    step the out_dir ledger has committed and still reports that step's
    committed rows in sink_rows/agg_rows; a run that skips the write
    sets metrics["resumed_from_commit"]."""
    if write_mode != "partitioned":
        raise ValueError(
            "write_mode=%r: the only write path is 'partitioned' "
            "(one partitionBy(route) write)" % write_mode
        )
    if isinstance(spec, dict):
        spec = PipelineSpec.from_dict(spec)
    ctx = Context(spark=spark, base_dir=base_dir)
    plan: CompiledPipeline = compile_pipeline(spec, ctx)

    t0 = time.time()
    if input_df is None:
        from gogstash_spark.sources.files import read_input

        input_df = read_input(spark, spec.input or {})

    os.makedirs(out_dir, exist_ok=True)
    ledger = SnapshotLedger(os.path.join(out_dir, "_ledger.json"))
    agg_specs = aggregate_specs(spec)

    result = RunResult()
    write_skipped = resume and ledger.committed("__partitioned__")

    part_dir = os.path.join(out_dir, "by_route")
    lin_dir = os.path.join(out_dir, "_lineage")

    if write_skipped:
        result.metrics["resumed_from_commit"] = True
        committed_meta = ledger.state["sinks"]["__partitioned__"]
        result.sink_rows = _route_sink_rows(plan, committed_meta.get("route_rows", {}))
        # a ledger written before the schema was recorded has none: its
        # by_route read falls back to inferring the schema
        schema = committed_meta.get("schema")
        schema = T.StructType.fromJson(json.loads(schema)) if schema else None
    else:
        obs = Observation("pipeline")
        routed = plan.run(input_df).observe(
            obs,
            F.count(F.lit(1)).alias("rows_total"),
            F.sum(F.size(ROUTES)).alias("rows_routed"),
        )
        schema = write_by_route(routed, plan.routes, part_dir)

    def done(key: str) -> bool:
        return resume and ledger.committed(key)

    pending_aggs = [a for a in agg_specs if not done("agg_" + a["name"])]
    pending_sinks = {r.sink for r in plan.routes if r.out_cfg is not None and not done(r.sink)}
    # ONE listing of the written output, shared by every action below
    by_route = (
        _read_routed(spark, part_dir, schema)
        if not write_skipped or pending_aggs or pending_sinks else None
    )
    # the ledger is written from this thread only, in a fixed order, while
    # lineage and the aggregates run
    with post_write(
        by_route,
        None if write_skipped else lin_dir,
        {a["name"]: (a, os.path.join(out_dir, "agg_" + a["name"])) for a in pending_aggs},
    ) as (lineage, agg_futures):
        if lineage is not None:
            lineage.result()
            rollup = _lineage_rollup(spark, lin_dir)
            counts: dict[str, int] = {rr["route"]: int(rr["rows"]) for rr in rollup}
            result.sink_rows = _route_sink_rows(plan, counts)
            result.metrics["lineage"] = {
                "files": sum(int(r["files"]) for r in rollup),
                "path": lin_dir,
                "route_rows": counts,
            }
            ledger.commit(
                "__partitioned__",
                sum(result.sink_rows.values()),
                # what resume reads: the per-route rows it reports and the
                # schema it reads by_route with
                extra={"route_rows": counts, "schema": schema.json()},
            )
            # Observation.get BLOCKS until the observed node runs, so it is
            # read only after the write, which executed the routed plan
            result.metrics["pipeline"] = observed(obs)
            # rows/misses observed by every grok stage, summed
            grok = [observed(o) for o in ctx.options.get("grok_observations", [])]
            if grok:
                result.metrics["acc_grok"] = {
                    k: sum(int(g.get(k) or 0) for g in grok) for k in ("rows", "misses")
                }

        # protocol sinks (http/socket/gelf/loki) emit from the written
        # columnar output — a pruned per-route scan, committed per sink so
        # a resumed run replays only the unsent ones
        for r in plan.routes:
            if r.out_cfg is None:
                continue
            if r.sink not in pending_sinks:
                result.skipped_sinks.append(r.sink)
                result.sink_rows[r.sink] = ledger.state["sinks"][r.sink]["rows"]
                continue
            from gogstash_spark.outputs import emit

            df_r = (
                by_route.filter(F.col("route") == r.sink)
                .drop("route", DOC_ID)  # internal cols never leave the engine
            )
            rows = emit(df_r, r.out_cfg)
            result.sink_rows[r.sink] = rows
            ledger.commit(r.sink, rows)
            result.metrics[r.sink] = {"rows": rows}

        for agg in agg_specs:
            name = agg["name"]
            if name in agg_futures:
                n = agg_futures[name].result()
                ledger.commit("agg_" + name, n)
            else:
                n = ledger.state["sinks"]["agg_" + name]["rows"]
            result.agg_rows[name] = n
    result.wall_sec = time.time() - t0
    return result
