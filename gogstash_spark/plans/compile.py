"""Spec -> executable plan.

Routing compiles the reference's nested cond-output tree
(reference output/cond/outputcond.go:75-115: predicate -> nested output
list, else -> else_output, arbitrarily nestable) into a flat list of
(sink_name, predicate_sql) pairs, then ONE `routes: array<string>`
column — so the route decision is a native expression evaluated once
per row inside codegen, and each sink write is a pushdown-able filter
on it.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gogstash_spark.functions.conds import cond_to_sql
from gogstash_spark.operators import Context, Stage, compile_chain
from gogstash_spark.outputs import PROTOCOL_OUTPUTS
from gogstash_spark.plans.spec import PipelineSpec

ROUTES = "routes"


@dataclass
class Route:
    sink: str
    pred_sql: str  # full path predicate (ANDed down the cond tree)
    # elastic-style sink semantics (reference
    # output/elastic/outputelastic.go:199-202): a %{}-formatted index
    # template is rendered per event and LOWERCASED (ES index-name rule);
    # document_id renders a per-event id used to dedup on write.
    index_template: str | None = None
    doc_id_template: str | None = None
    # raw output spec for protocol sinks (http/socket/gelf) — the runner
    # dispatches these through outputs.emit instead of a parquet write
    out_cfg: dict | None = None


DOC_ID = "_doc_id"


def route_value_expr(df: DataFrame, route: "Route"):
    """The per-event route value for a sink: the lowercased rendered
    %{} index template, or the static sink name. THE single source of
    truth — CompiledPipeline.run and the runner's write_by_route doc-id
    scoping must agree byte-for-byte or dedup silently stops matching."""
    from gogstash_spark.logevent import format_expr

    if route.index_template:
        return F.lower(format_expr(df, str(route.index_template)))
    return F.lit(route.sink)


@dataclass
class CompiledPipeline:
    spec: PipelineSpec
    transform: Stage
    routes: list[Route] = field(default_factory=list)

    def run(self, df: DataFrame) -> DataFrame:
        """The filter chain, then the routes array column. Doc ids are
        NOT computed here: each sink's document_id template renders per
        sink in the runner (a shared column would carry the wrong sink's
        id on co-routed rows and leak into plain sinks' output)."""
        df = self.transform(df)
        if not self.routes:
            return df.withColumn(ROUTES, F.array().cast("array<string>"))
        entries = [
            F.when(
                F.expr("coalesce(%s, false)" % r.pred_sql), route_value_expr(df, r)
            )
            for r in self.routes
        ]
        return df.withColumn(ROUTES, F.array_compact(F.array(*entries)))


def flatten_outputs(outputs: list[dict], parent_pred: str = "true") -> list[Route]:
    routes: list[Route] = []
    for out in outputs:
        typ = out.get("type", "table")
        own = cond_to_sql(out["condition"]) if out.get("condition") else "true"
        pred = own if parent_pred == "true" else "(%s) AND (%s)" % (parent_pred, own)
        if typ == "cond":
            routes.extend(flatten_outputs(out.get("output") or [], pred))
            if out.get("else_output"):
                neg = "(%s) AND (NOT coalesce(%s, false))" % (parent_pred, own)
                routes.extend(flatten_outputs(out["else_output"], neg))
        else:
            routes.append(Route(
                sink=out["name"],
                pred_sql=pred,
                index_template=out.get("index"),
                doc_id_template=out.get("document_id"),
                out_cfg=dict(out) if typ in PROTOCOL_OUTPUTS else None,
            ))
    return routes


def compile_pipeline(spec: PipelineSpec, ctx: Context) -> CompiledPipeline:
    routes = flatten_outputs(spec.output)
    # duplicate names merge routes and make resume skip work: a config bug
    for kind, names in (("sink", [r.sink for r in routes]),
                        ("aggregate", [a["name"] for a in spec.aggregate or []])):
        if len(names) != len(set(names)):
            raise ValueError("duplicate %s names: %s" % (kind, sorted(names)))
    transform = compile_chain(spec.filter, ctx)
    return CompiledPipeline(spec=spec, transform=transform, routes=routes)
