"""Filter compiler registry.

The reference registers filter handlers by type name and instantiates
them from config maps (reference config/filter.go:63-96,
modloader/modloader.go:61-120). Here a filter spec compiles at plan
time to a `DataFrame -> DataFrame` stage; the chain is function
composition and Catalyst fuses the whole thing into a few
whole-stage-codegen stages.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gogstash_spark import logevent

Stage = Callable[[DataFrame], DataFrame]


@dataclass
class Context:
    spark: SparkSession
    base_dir: str = "."
    options: dict = field(default_factory=dict)
    # SQL boolean expr naming the rows a branch chain owns (set by the
    # cond filter). Row-REMOVING stages must keep rows outside the guard;
    # column writes need no handling — cond's snapshot/merge restores them.
    guard: str | None = None


FILTERS: dict[str, Callable[[dict, Context], Stage]] = {}


def register(name: str):
    def deco(fn: Callable[[dict, Context], Stage]):
        FILTERS[name] = fn
        return fn

    return deco


def compile_filter(cfg: dict, ctx: Context) -> Stage:
    typ = cfg.get("type")
    if typ not in FILTERS:
        raise KeyError("unknown filter type %r (known: %s)" % (typ, sorted(FILTERS)))
    return FILTERS[typ](cfg, ctx)


def compile_chain(cfgs: list[dict], ctx: Context) -> Stage:
    stages = [compile_filter(c, ctx) for c in cfgs]

    def apply(df: DataFrame) -> DataFrame:
        for s in stages:
            df = s(df)
        return df

    return apply


def apply_common(df: DataFrame, cfg: dict, applied: Column | None = None) -> DataFrame:
    """The CommonFilter post-step (reference config/filter.go:25-54):
    add_tag / remove_tag / add_field / remove_field, applied only to rows
    where the filter actually matched (`applied` predicate; None = all).
    """
    add_tag = cfg.get("add_tag") or []
    remove_tag = cfg.get("remove_tag") or []
    add_field = cfg.get("add_field") or {}
    remove_field = cfg.get("remove_field") or []

    if add_tag:
        df = logevent.add_tags(df, add_tag, applied)
    if remove_tag:
        new = F.array_except(
            logevent.tags_col(df), F.array(*[F.lit(t) for t in remove_tag])
        )
        df = df.withColumn(
            logevent.TAGS,
            new if applied is None else F.when(applied, new).otherwise(logevent.tags_col(df)),
        )
    for k, tmpl in add_field.items():
        val = logevent.format_expr(df, str(tmpl))
        if applied is not None:
            val = F.when(applied, val).otherwise(
                F.col(k) if k in df.columns else F.lit(None).cast("string")
            )
        df = df.withColumn(k, val)
    if remove_field:
        df = df.drop(*[c for c in remove_field if c in df.columns])
    return df


# import for side effect: populate FILTERS
from gogstash_spark.operators import parse as _parse  # noqa: E402,F401
from gogstash_spark.operators import mutate as _mutate  # noqa: E402,F401
from gogstash_spark.operators import enrich as _enrich  # noqa: E402,F401
from gogstash_spark.operators import condflt as _condflt  # noqa: E402,F401
