"""Codecs: de/serializers attached to sources and sinks
(reference config/codec.go:23-36).

- default: bytes/line -> text column (identity)           codec.go:123-192
- json:    event <-> JSON string                          codec/json/codecjson.go:37-138
- azureeventhubjson: envelope with a `records` array that explodes
  into N events                                           codec/azureeventhubjson/codecazureeventhubjson.go:37-91
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gogstash_spark import logevent
from gogstash_spark.functions import pathvalue


def decode_default(df: DataFrame, source: str = "value") -> DataFrame:
    """Raw line -> text (the `default` codec)."""
    return df.withColumn(logevent.TEXT, F.col(source).cast("string"))


def _parse_rfc3339(col: Column) -> Column:
    """RFC3339(Nano) -> timestamp: ISO cast handles fractional seconds
    (nanos truncate to micros, matching Go time round-tripped at micro
    precision in parquet)."""
    return F.coalesce(F.try_to_timestamp(col), col.try_cast("timestamp"))


def decode_json(df: DataFrame, source: str = "value", schema: str | None = None) -> DataFrame:
    """JSON line -> typed columns; the reserved fields lift into the
    event struct (reference codec/json/codecjson.go:111-138):
    `message` -> text, `@timestamp` (RFC3339Nano) -> ts, `tags` merges
    into the event tags. Everything else becomes its own column (typed
    mode) or stays in the `extra` map (schemaless mode)."""
    sch = schema or "map<string,string>"
    parsed = F.from_json(F.col(source).cast("string"), sch)
    df = df.withColumn("__c", parsed)
    if schema:
        inner = df.select(F.col("__c.*")).columns
        cols: dict[str, Column] = {}
        for c in inner:
            v = F.col("__c")[c]
            if c == "@timestamp":
                cols[logevent.TS] = _parse_rfc3339(v.cast("string"))
            elif c == "message":
                cols[logevent.TEXT] = v.cast("string")
            elif c == logevent.TAGS and logevent.TAGS in df.columns:
                cols[logevent.TAGS] = F.array_union(
                    logevent.tags_col(df), F.coalesce(v, F.array().cast("array<string>"))
                )
            else:
                cols[c] = v
        df = df.withColumns(cols)
    else:
        m = F.col("__c")
        df = df.withColumn(
            "extra", F.map_filter(m, lambda k, v: ~k.isin("message", "@timestamp"))
        )
        df = df.withColumn(
            logevent.TEXT,
            F.coalesce(
                m["message"],
                F.col(logevent.TEXT) if logevent.TEXT in df.columns
                else F.lit(None).cast("string"),
            ),
        )
        df = df.withColumn(
            logevent.TS,
            F.coalesce(
                _parse_rfc3339(m["@timestamp"]),
                F.col(logevent.TS) if logevent.TS in df.columns
                else F.lit(None).cast("timestamp"),
            ),
        )
    return df.drop("__c")


def encode_json(
    df: DataFrame,
    exclude: list[str] | None = None,
    sort_map_keys: bool = False,
    remove_field: list[str] | None = None,
) -> DataFrame:
    """Event -> JSON string column `encoded`, matching the reference
    marshal (config/logevent/logevent.go:22-28,120-143):

    - @timestamp: UTC, Go layout `2006-01-02T15:04:05.999999999Z` —
      the fractional part TRIMS trailing zeros (and the dot when the
      fraction is zero); Spark timestamps are micros so the fraction
      is at most 6 digits
    - empty message and empty tags are OMITTED (Go omitempty / the
      explicit `if t.Message != ""` guard)
    - remove_field: fields dropped at marshal time — top-level columns,
      or dotted paths into map/struct columns (the reference's
      removePathValue walk, via pathvalue.remove_path on the event
      struct being rendered; the returned frame keeps its input columns)
    - sort_map_keys: serialize fields in sorted-by-name order (the
      json-iterator SortMapKeys knob; field order is the struct order
      here, so sorting the struct sorts the output)
    """
    from pyspark.sql.types import MapType, StructType

    # remove_field entries use MARSHAL names (the reference's
    # removePathValue walks the serialized map) — translate the reserved
    # names to this engine's column names
    _marshal_alias = {"message": logevent.TEXT, "@timestamp": logevent.TS}
    fields = list(dict.fromkeys(_marshal_alias.get(f, f) for f in remove_field or []))
    remove = {f for f in fields if "." not in f}
    nested = [f for f in fields if "." in f]
    cols = [c for c in df.columns if c not in (exclude or []) and c not in remove]
    named: list[tuple[str, Column]] = []
    # date_format renders in the SESSION timezone; shift the instant so
    # the rendered wall time is UTC regardless of session tz (the 'Z' we
    # append must be true — get_spark pins UTC, but a plain session may not)
    sess_tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    for c in cols:
        if c == logevent.TS:
            ts_utc = (
                F.col(c)
                if sess_tz in ("UTC", "Etc/UTC", "GMT")
                else F.to_utc_timestamp(F.col(c).cast("timestamp"), sess_tz)
            )
            iso = F.date_format(ts_utc, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
            named.append((
                "@timestamp",
                F.concat(F.regexp_replace(iso, r"\.?0+$", ""), F.lit("Z")),
            ))
        elif c == logevent.TEXT:
            # omit-empty: to_json drops null fields
            named.append(("message", F.nullif(F.col(c), F.lit(""))))
        elif c == logevent.TAGS:
            named.append((c, F.when(F.size(F.col(c)) > 0, F.col(c))))
        else:
            named.append((c, F.col(c)))
    if sort_map_keys:
        named.sort(key=lambda nc: nc[0])
    view = df.withColumn("__event", F.struct(*[col.alias(n) for n, col in named]))
    for path in nested:
        root = path.split(".", 1)[0]
        if root in (exclude or []) or root in remove:
            continue
        # a nested remove_field whose root is missing or not a container
        # must fail loudly, not serialize the field anyway (the reference
        # walks and silently no-ops only on MISSING paths; a scalar root
        # is always a config bug)
        if root not in df.columns:
            raise ValueError(
                "encode_json remove_field: nested root %r is not a column "
                "(have: %s)" % (root, sorted(df.columns))
            )
        dt = df.schema[root].dataType
        if not isinstance(dt, (MapType, StructType)):
            raise ValueError(
                "encode_json remove_field: nested root %r is %s, not a "
                "map/struct" % (root, dt.simpleString())
            )
        scrub = _removal(view.schema["__event"].dataType, path)
        if scrub:
            view = pathvalue.remove_path(view, "__event." + scrub)
    return view.withColumn("encoded", F.to_json("__event")).drop("__event")


def _removal(event, path: str) -> str | None:
    """The path remove_path takes out of the `event` struct for the
    remove_field `path`: None when a field on it is missing (a no-op,
    like the reference); widened to the outermost struct below the
    column that the removal leaves without fields, which goes with it
    (an empty struct is inexpressible, and a null one would render as
    `{}`). A path through a scalar, or below a map key, raises."""
    from pyspark.sql.types import MapType, StructType

    steps = pathvalue.parse_path(path)

    def at(i: int) -> str:
        return ".".join(name for _, name in steps[:i])

    keep, dt = 1, event
    for i, (kind, name) in enumerate(steps):
        if isinstance(dt, MapType) and kind == "field":
            if i < len(steps) - 1:
                # map keys are opaque strings, not paths: a deeper path
                # would silently serialize the field the config scrubs
                raise ValueError(
                    "encode_json remove_field: deeper nested removal under "
                    "map %r is not supported (got %r); only single-level "
                    "keys work on maps" % (at(i), path)
                )
            keep = i + 1
            break
        if not isinstance(dt, StructType) or kind != "field":
            raise ValueError(
                "encode_json remove_field: %r is %s, not a map/struct"
                % (at(i), dt.simpleString())
            )
        if name not in dt.fieldNames():
            return None
        if i <= 1 or len(dt.fields) > 1:
            keep = i + 1
        dt = dt[name].dataType
    return at(keep)


def decode_azureeventhubjson(
    df: DataFrame, source: str = "value", record_schema: str = "map<string,string>"
) -> DataFrame:
    """Event Hub envelope: {"records": [e1, e2, ...]} -> one row per
    record (reference codec/azureeventhubjson explodes the array)."""
    env = F.from_json(
        F.col(source).cast("string"), "struct<records:array<%s>>" % record_schema
    )
    return (
        df.withColumn("__rec", F.explode(env["records"]))
        .withColumn("record", F.col("__rec"))
        .drop("__rec")
    )
