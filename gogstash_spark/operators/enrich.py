"""Enrichment filters: lookuptable / geoip2-shaped keyed enrich.

Every gogstash enrich is event-vs-static-table (no stream-stream
joins), so broadcast hash joins cover 100% of the semantics
(reference SURVEY.md §2.5). The per-process LRU caches of the
reference (geoip 100k, lookuptable 1k) are subsumed by the broadcast:
the whole table ships once per executor.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gogstash_spark import logevent
from gogstash_spark.operators import Context, Stage, apply_common, register

LOOKUP_MISS_TAG = "gogstash_filter_lookup_miss"
GEOIP_ERROR_TAG = "gogstash_filter_geoip2_error"  # reference filter/geoip2

# RFC1918 + loopback + link-local, the reference's private-CIDR skip
# (reference filter/geoip2/filtergeoip2.go:216-223)
PRIVATE_IP_RX = (
    r"^(?:10\.|192\.168\.|172\.(?:1[6-9]|2[0-9]|3[01])\.|127\.|169\.254\.)"
)


def _ip_long(col):
    """dotted-quad -> 32-bit integer, null when malformed — native."""
    ok = col.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    val = F.aggregate(
        F.split(col, r"\."),
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(256) + x.cast("long"),
    )
    return F.when(ok, val)


def ip_in_cidrs(col, cidrs: list[str]):
    """Native CIDR membership: compare the top `bits` of the numeric ip
    against each network (reference private_net override,
    filter/geoip2/filtergeoip2.go:216-223)."""
    import ipaddress

    ip = _ip_long(col)
    pred = F.lit(False)
    for c in cidrs:
        net = ipaddress.ip_network(c, strict=False)
        shift = 32 - net.prefixlen
        pred = pred | (
            F.shiftright(ip, shift) == F.lit(int(net.network_address) >> shift)
        )
    return F.coalesce(pred, F.lit(False))


def _read_lookup(ctx: Context, cfg: dict) -> DataFrame:
    """Load the lookup table: parquet path, or the reference's
    `key:value` line format (reference filter/lookuptable/lookup.go:106-142).
    """
    # reference keys: lookup_file (lookuptable) / db_path (geoip2 family)
    path = cfg.get("path") or cfg.get("lookup_file") or cfg["db_path"]
    if not os.path.isabs(path):
        path = os.path.join(ctx.base_dir, path)
    if path.endswith(".txt"):
        key_name = cfg.get("lookup_key", "key")
        val_name = cfg.get("lookup_value", "value")
        lines = ctx.spark.read.text(path)
        return lines.select(
            F.regexp_extract("value", r"^([^:]*):", 1).alias(key_name),
            F.regexp_extract("value", r"^[^:]*:(.*)$", 1).alias(val_name),
        ).filter(F.length(key_name) > 0)
    return ctx.spark.read.parquet(path)


@register("lookuptable")
def compile_lookuptable(cfg: dict, ctx: Context) -> Stage:
    """Translate source field -> target columns via a small table;
    left join, only-set-when-hit, miss tag optional
    (reference filter/lookuptable/lookup.go:89-142).

    cfg: path, source (event column), lookup_key (table column),
         select {table_col: event_col} (default: all non-key columns),
         tag_on_miss bool.
    """
    source = cfg["source"]
    lookup_key = cfg.get("lookup_key", cfg["source"])
    tag_on_miss = cfg.get("tag_on_miss", False)
    miss_tag = cfg.get("miss_tag", LOOKUP_MISS_TAG)

    def apply(df: DataFrame) -> DataFrame:
        lk = _read_lookup(ctx, cfg)
        select = cfg.get("select") or {
            c: c for c in lk.columns if c != lookup_key
        }
        proj = lk.select(
            F.col(lookup_key).alias("__lk_key"),
            *[F.col(src).alias("__lk_%s" % tgt) for src, tgt in select.items()],
        )
        # the reference loads the table into a map — one key, one value
        # (lookup.go): duplicate keys must not fan out event rows
        proj = proj.dropDuplicates(["__lk_key"])
        joined = df.join(
            F.broadcast(proj), df[source] == proj["__lk_key"], "left"
        )
        hit = F.col("__lk_key").isNotNull()
        for _, tgt in select.items():
            joined = joined.withColumn(tgt, F.col("__lk_%s" % tgt))
        if tag_on_miss:
            joined = logevent.add_tags(joined, [miss_tag], ~hit)
        joined = apply_common(joined, cfg, hit)
        return joined.drop("__lk_key", *["__lk_%s" % t for _, t in select.items()])

    return apply


@register("geoip")
@register("geoip2")  # reference ModuleName (filter/geoip2)
def compile_geoip(cfg: dict, ctx: Context) -> Stage:
    """GeoIP-shaped keyed enrich: ip column -> nested record under `key`
    (reference filter/geoip2/filtergeoip2.go:123-223: city lookup,
    nested map shape, private-CIDR skip, error tag on miss).

    The MaxMind .mmdb itself is out of scope (binary DB, not in the
    container); the lookup is any table keyed by ip with attribute
    columns — same join shape, broadcast left join.
    """
    # `ip_field` is the reference's key for the source column
    # (filter/geoip2/filtergeoip2.go config); `quiet` suppresses the
    # error tag; `private_net` overrides the private-CIDR skip list;
    # `flat_format` lifts attributes as top-level `<key>_<attr>` columns
    source = cfg.get("source") or cfg.get("ip_field", "clientip")
    key = cfg.get("key", "geoip")
    lookup_key = cfg.get("lookup_key", "ip")
    skip_private = cfg.get("skip_private", True)
    tag_on_miss = cfg.get("tag_on_miss", not cfg.get("quiet", False))
    error_tag = cfg.get("error_tag", GEOIP_ERROR_TAG)
    private_net = cfg.get("private_net")
    flat_format = bool(cfg.get("flat_format", False))

    def apply(df: DataFrame) -> DataFrame:
        lk = _read_lookup(ctx, cfg)
        attr_cols = [c for c in lk.columns if c != lookup_key]
        proj = lk.select(
            F.col(lookup_key).alias("__geo_key"),
            F.struct(*[F.col(c) for c in attr_cols]).alias("__geo_rec"),
        ).dropDuplicates(["__geo_key"])  # one record per ip, never fan out
        probe = F.col(source)
        if skip_private and private_net:
            probe = F.when(~ip_in_cidrs(F.col(source), private_net), F.col(source))
        elif skip_private:
            probe = F.when(~F.col(source).rlike(PRIVATE_IP_RX), F.col(source))
        df = df.withColumn("__geo_probe", probe)
        joined = df.join(
            F.broadcast(proj), df["__geo_probe"] == proj["__geo_key"], "left"
        )
        hit = F.col("__geo_key").isNotNull()
        if flat_format:
            for c in attr_cols:
                joined = joined.withColumn("%s_%s" % (key, c), F.col("__geo_rec")[c])
        else:
            joined = joined.withColumn(key, F.col("__geo_rec"))
        if tag_on_miss:
            # miss = public ip that had no record (private skip is not an error)
            miss = (~hit) & F.col("__geo_probe").isNotNull()
            joined = logevent.add_tags(joined, [error_tag], miss)
        joined = apply_common(joined, cfg, hit)
        return joined.drop("__geo_key", "__geo_rec", "__geo_probe")

    return apply


@register("ip2location")
def compile_ip2location(cfg: dict, ctx: Context) -> Stage:
    """IP2Location-shaped enrich: identical broadcast-left-join shape to
    geoip, default target key `ip2location`
    (reference filter/ip2location/filterip2location.go:212-231; the .BIN
    db is replaced by any ip-keyed table with country_code/country_name/
    city_name/region_name/ISP/lat/lon columns)."""
    cfg = {"key": "ip2location", "error_tag": "gogstash_filter_ip2location_error", **cfg}
    return compile_geoip(cfg, ctx)


@register("ip2proxy")
def compile_ip2proxy(cfg: dict, ctx: Context) -> Stage:
    """Proxy-detection enrich, same join shape
    (reference filter/ip2proxy/filterip2proxy.go:63-)."""
    cfg = {"key": "ip2proxy", "error_tag": "gogstash_filter_ip2proxy_error", **cfg}
    return compile_geoip(cfg, ctx)
