"""Event schema + the %{} format-string mini-language.

The reference's event is (Timestamp, Message, Tags, Extra-map, Drop)
(reference config/logevent/logevent.go:14-20). Here one event is one
DataFrame row with reserved columns:

    ts   : timestamp   (@timestamp)
    text : string      (message)
    tags : array<string>

and parsed fields as ordinary top-level columns (schema-first; the
reference's dynamic Extra map only pays off for unknown inputs, while
Catalyst pruning/pushdown needs static columns).

The %{} interpolation mini-language (reference
config/logevent/logevent.go:205-273) compiles to a Column expression:

    %{field}        -> field value (empty string when null/missing)
    %{+FMT}         -> current time rendered with Go layout FMT
    %{+@FMT}        -> event time (ts) rendered with Go layout FMT
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gogstash_spark.functions.datefmt import go_layout_to_spark

TS = "ts"
TEXT = "text"
TAGS = "tags"

_FMT_RE = re.compile(r"%\{([^}]+)\}")


def tags_col(df: DataFrame) -> Column:
    """tags as a non-null array (missing column -> empty array)."""
    if TAGS in df.columns:
        return F.coalesce(F.col(TAGS), F.array().cast(T.ArrayType(T.StringType())))
    return F.array().cast(T.ArrayType(T.StringType()))


def add_tags(df: DataFrame, tags: list[str], where: Column | None = None) -> DataFrame:
    """`df` with `tags` unioned into its tags on the rows where `where`
    holds (every row when None)."""
    new = F.array_union(tags_col(df), F.array(*[F.lit(t) for t in tags]))
    return df.withColumn(TAGS, new if where is None else F.when(where, new).otherwise(tags_col(df)))


def _env_fallback(key: str) -> str | None:
    """The reference resolves unknown %{} tokens from the environment,
    with %{HOSTNAME} as a special case (reference
    config/logevent/logevent.go:208-226). Resolved at PLAN time on the
    driver — one value per run, exactly like the reference's one value
    per process."""
    import os
    import socket

    if key == "HOSTNAME":
        return os.environ.get("HOSTNAME") or socket.gethostname()
    return os.environ.get(key)


def format_expr(df: DataFrame, template: str) -> Column:
    """Compile a %{} template into a concat Column.

    Unknown fields fall back to env vars / HOSTNAME (plan-time), then
    are left verbatim. Null field values render as ''.
    """
    parts: list[Column] = []
    pos = 0
    for m in _FMT_RE.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        key = m.group(1)
        if key.startswith("+@"):
            parts.append(F.date_format(F.col(TS), go_layout_to_spark(key[2:])))
        elif key.startswith("+"):
            parts.append(F.date_format(F.current_timestamp(), go_layout_to_spark(key[1:])))
        elif key in df.columns:
            parts.append(F.coalesce(F.col(key).cast("string"), F.lit("")))
        else:
            env = _env_fallback(key)
            parts.append(F.lit(env if env is not None else m.group(0)))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:
        return F.lit("")
    return parts[0] if len(parts) == 1 else F.concat(*parts)
