"""The cond filter: predicate -> nested filter list, else -> else_filter
(reference filter/cond/filtercond.go:112-178).

Spark-first realization: compile to per-column CASE WHEN over a SINGLE
plan — never branch-split + union. A split would make Catalyst evaluate
the whole upstream subtree twice: two scans and two evaluations of an
upstream grok's regex. (The 2x-regex trap of BASELINE.md item 1, a
filter on a capture copied below the regex, is blocked by the grok
stage's observe node.) Instead:

1. materialize the predicate once as a boolean column (the reference
   also evaluates the condition once per event, filtercond.go:145),
2. snapshot the incoming columns (pure attribute aliases — free in
   codegen),
3. run the branch chain over ALL rows,
4. merge per column: WHEN p THEN branch_value ELSE snapshot END.

Rows outside the branch compute branch expressions whose results are
discarded — cheap codegen work traded against never re-reading or
re-parsing the upstream subtree.

Row-REMOVING stages inside a branch (drop, ratelimit) cannot be undone
by a column merge, so branch chains compile with ctx.guard set: those
stages keep every row outside the guard (see compile_drop /
compile_ratelimit). Guards conjoin across nested conds.
"""

from __future__ import annotations

import itertools
from dataclasses import replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gogstash_spark.functions.conds import cond_to_sql
from gogstash_spark.operators import Context, Stage, apply_common, register

_UID = itertools.count()


def _apply_branch(df: DataFrame, chain: Stage, p: Column, uid: int, tag: str) -> DataFrame:
    """Run `chain` over all rows, keep its effect only where `p`.

    Snapshots every incoming column, applies the chain, then rebuilds
    each column as WHEN p THEN new ELSE old END. Columns the chain
    created are NULL outside p; columns it dropped become NULL inside p
    (the closest relational analog of a per-row field removal).
    """
    snap = {c: "__cond%d_%s_%d" % (uid, tag, i) for i, c in enumerate(df.columns)}
    marked = df.select("*", *[F.col(c).alias(s) for c, s in snap.items()])
    out = chain(marked)
    snap_names = set(snap.values())
    merged = []
    for c in out.columns:
        if c in snap_names:
            continue
        if c in snap:
            merged.append(F.when(p, F.col(c)).otherwise(F.col(snap[c])).alias(c))
        else:
            merged.append(F.when(p, F.col(c)).alias(c))
    for c, s in snap.items():
        if c not in out.columns and s in out.columns:
            dt = df.schema[c].dataType
            merged.append(F.when(p, F.lit(None).cast(dt)).otherwise(F.col(s)).alias(c))
    return out.select(*merged)


@register("cond")
def compile_cond(cfg: dict, ctx: Context) -> Stage:
    from gogstash_spark.operators import compile_chain  # cycle-safe

    uid = next(_UID)
    pcol = "__cond%d_p" % uid
    pred_sql = cond_to_sql(cfg["condition"])
    if ctx.guard is None:
        tguard, eguard = pcol, "(NOT %s)" % pcol
    else:
        tguard = "(%s AND %s)" % (ctx.guard, pcol)
        eguard = "(%s AND (NOT %s))" % (ctx.guard, pcol)
    then_chain = compile_chain(cfg.get("filter") or [], replace(ctx, guard=tguard))
    else_chain = compile_chain(cfg.get("else_filter") or [], replace(ctx, guard=eguard))
    has_else = bool(cfg.get("else_filter"))

    def apply(df: DataFrame) -> DataFrame:
        df = df.withColumn(pcol, F.expr("coalesce(%s, false)" % pred_sql))
        p = F.col(pcol)
        out = _apply_branch(df, then_chain, p, uid, "t")
        if has_else:
            out = _apply_branch(out, else_chain, ~p, uid, "e")
        return apply_common(out.drop(pcol), cfg, None)

    return apply
