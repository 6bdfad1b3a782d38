"""Parse-family filters: grok, gonx, json, kv, url_param, useragent, date.

Each compiler returns a DataFrame->DataFrame stage built from native
column expressions where possible. Grok runs entirely in the JVM: Java
regex, whose \\d \\w \\s are ASCII-only like the reference's Go regexp,
inside whole-stage codegen — no Python worker touches a row.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from gogstash_spark import logevent
from gogstash_spark.functions.conds import sql_str
from gogstash_spark.functions.datefmt import to_spark_pattern
from gogstash_spark.functions.grok import CompiledGrok, compile_grok
from gogstash_spark.operators import Context, Stage, apply_common, register

GROK_ERROR_TAG = "gogstash_filter_grok_error"  # reference filter/grok/filtergrok.go:17
GONX_ERROR_TAG = "gogstash_filter_gonx_error"
JSON_ERROR_TAG = "gogstash_filter_json_error"
DATE_ERROR_TAG = "gogstash_filter_date_error"


def _typed(col: Column, typ: str | None) -> Column:
    # try_cast: "" (a group that took no part in the match) or a value
    # the type cannot hold becomes NULL; under ANSI a plain cast fails
    # the whole job
    if typ in ("int", "long", "int64"):
        return col.try_cast("long")
    if typ in ("float", "double", "float64"):
        return col.try_cast("double")
    return col


GROK_DELIM = "\x1f"


def _anchor_positions_ok(pat: str) -> bool:
    """True when ^ occurs only at index 0 and $ only at the last index
    (unescaped, outside character classes) — the condition for safely
    wrapping the pattern into a full-string match."""
    i, n = 0, len(pat)
    in_class = False
    while i < n:
        c = pat[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "^" and i != 0:
            return False
        elif c == "$" and i != n - 1:
            return False
        i += 1
    return True


def _ends_with_anchor(pat: str) -> bool:
    if not pat.endswith("$"):
        return False
    bs = 0
    for c in reversed(pat[:-1]):
        if c != "\\":
            break
        bs += 1
    return bs % 2 == 0  # even backslashes: the $ is a real anchor


def _single_eval_form(cg: CompiledGrok) -> tuple[str, str] | None:
    """(wrapped_pattern, replacement) turning ONE regexp_replace into a
    GROK_DELIM-joined string of every capture group, or None when the
    pattern can't be safely wrapped (anchors mid-pattern / no captures).
    """
    pat = cg.positional()
    if not cg.captures or not _anchor_positions_ok(pat):
        return None
    # dotall is scoped to the added affixes ONLY: the wrapper must span
    # newlines to emulate regexp_extract's unanchored whole-string search,
    # but '.' INSIDE the user's pattern must keep Java-regex default
    # semantics (no \n) so the fast path agrees with the per-capture
    # regexp_extract fallback on multiline source text.
    wrapped = (
        ("" if pat.startswith("^") else "^(?s:.*?)")
        + pat
        + ("" if _ends_with_anchor(pat) else "(?s:.*)$")
    )
    repl = GROK_DELIM.join("$%d" % (g + 1) for g in range(len(cg.captures)))
    return wrapped, repl


def _sql_col(name: str) -> str:
    """`name` as a SQL column reference that resolves as F.col(name)."""
    return ".".join("`%s`" % part.replace("`", "``") for part in name.split("."))


def _grok_native(df: DataFrame, source: str, compiled: list[CompiledGrok]) -> tuple[DataFrame, Column]:
    """Grok as native column expressions, all inside codegen.

    first-match-wins via a matched-index column. Captures come from ONE
    regexp_replace per matched pattern that rewrites the line into a
    delimiter-joined string of all groups, then a split — a single
    regex evaluation instead of one per capture. Rows whose source
    contains the delimiter byte (or patterns with mid-pattern anchors)
    fall back to per-capture regexp_extract via coalesce on the NULL
    fast column, so the fast form never changes a result.

    Each column is ONE SQL expression string (patterns quoted by
    `sql_str`), so building it costs one JVM call instead of one per
    Column operator; the analyzed plan is the Column API's.
    """
    src = _sql_col(source)
    delim = sql_str(GROK_DELIM)
    midx = "coalesce(%s, -1)" % ", ".join(
        "CASE WHEN %s RLIKE %s THEN %d END" % (src, sql_str(cg.positional()), i)
        for i, cg in enumerate(compiled)
    )
    df = df.withColumn("__grok_idx", F.expr(midx))
    sp_cols: dict[str, Column] = {}
    for i, cg in enumerate(compiled):
        form = _single_eval_form(cg)
        if form is None:
            continue
        wrapped, repl = form
        sp_cols["__grok_sp%d" % i] = F.expr(
            "CASE WHEN __grok_idx = %d AND NOT contains(%s, %s) "
            "THEN split(regexp_replace(%s, %s, %s), %s) END"
            % (i, src, delim, src, sql_str(wrapped), sql_str(repl), delim)
        )
    if sp_cols:
        df = df.withColumns(sp_cols)
    all_fields: dict[str, list[tuple[int, CompiledGrok]]] = {}
    for i, cg in enumerate(compiled):
        for name in cg.captures:
            all_fields.setdefault(name, []).append((i, cg))
    new_cols: dict[str, Column] = {}
    for name, sources in all_fields.items():
        per_pattern = []
        for i, cg in sources:
            gi = cg.group_index(name)
            value = "regexp_extract(%s, %s, %d)" % (src, sql_str(cg.positional()), gi)
            if "__grok_sp%d" % i in sp_cols:
                value = "coalesce(element_at(__grok_sp%d, %d), %s)" % (i, gi, value)
            per_pattern.append("CASE WHEN __grok_idx = %d THEN %s END" % (i, value))
        expr = F.expr("coalesce(%s)" % ", ".join(per_pattern))
        typ = next((cg.types.get(name) for _, cg in sources if name in cg.types), None)
        new_cols[name] = _typed(expr, typ)
    df = df.withColumns(new_cols).drop(*sp_cols.keys())
    applied = F.col("__grok_idx") >= 0
    return df, applied


def _load_pattern_file(path: str | None, ctx: Context) -> dict[str, str]:
    """`NAME regex` lines, the grok pattern-file format (reference
    filter/grok/filtergrok.go:23 patterns_path; format as in
    filtergrok_test.go:21). Explicit `patterns` entries override."""
    if not path:
        return {}
    import os

    if not os.path.isabs(path):
        path = os.path.join(ctx.base_dir, path)
    out: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            name, _, rx = line.partition(" ")
            if name and rx:
                out[name] = rx.strip()
    return out


@register("grok")
def compile_grok_filter(cfg: dict, ctx: Context) -> Stage:
    """Ordered grok patterns, first-match-wins; error tag on total miss
    (reference filter/grok/filtergrok.go:86-117).
    """
    source = cfg.get("source", logevent.TEXT)
    patterns = cfg.get("match") or ["%{COMMONAPACHELOG}"]
    extra = dict(_load_pattern_file(cfg.get("patterns_path"), ctx))
    extra.update(cfg.get("patterns") or {})
    compiled = [compile_grok(p, extra) for p in patterns]
    error_tag = cfg.get("error_tag", GROK_ERROR_TAG)
    # default TRUE in the reference (filter/grok/filtergrok.go:27,44):
    # captures that matched the empty string become null, not ""
    remove_empty = bool(cfg.get("remove_empty_values", True))
    string_captures = sorted({
        name
        for cg in compiled
        for name in cg.captures
        if cg.types.get(name) not in ("int", "long", "int64", "float", "double", "float64")
    })

    def apply(df: DataFrame) -> DataFrame:
        df, applied = _grok_native(df, source, compiled)
        if remove_empty:
            df = df.withColumns(
                {name: F.nullif(F.col(name), F.lit("")) for name in string_captures}
            )
        df = logevent.add_tags(df, [error_tag], ~applied)
        df = apply_common(df, cfg, applied)
        return _observe_grok(df, ctx).drop("__grok_idx")

    return apply


def _observe_grok(df: DataFrame, ctx: Context) -> DataFrame:
    """End the grok stage with one CollectMetrics node counting the rows
    it parsed and the ones no pattern matched.

    The node is also the optimizer fence: Catalyst pushes no Filter
    through CollectMetrics, so a filter on a capture (or a join
    predicate inferred from one) stays above the regex instead of
    being copied, RLIKE chain and all, into the scan's DataFilters.

    A batch frame gets a fresh unnamed Observation, listed under
    ctx.options["grok_observations"] for the runner to read after its
    write. Observation rejects streaming frames; those observe under a
    unique name, which keeps the fence.

    Inside a cond branch the stage sees every row but owns only the
    guarded ones (ctx.guard), so only those are counted.
    """
    owned = F.expr(ctx.guard) if ctx.guard else F.lit(True)
    metrics = (
        F.count(F.when(owned, 1)).alias("rows"),
        F.count(F.when(owned & (F.col("__grok_idx") < 0), 1)).alias("misses"),
    )
    if df.isStreaming:
        return df.observe("grok_" + uuid.uuid4().hex, *metrics)
    obs = Observation()
    ctx.options.setdefault("grok_observations", []).append(obs)
    return df.observe(obs, *metrics)


def gonx_format_to_regex(fmt: str) -> CompiledGrok:
    """nginx log_format string -> regex (reference
    filter/gonx/filtergonx.go:63-75 compiles `$var` refs the same way).
    Each `$var` matches lazily up to the next literal; dialect-neutral.
    """
    token = re.compile(r"\$(\w+)")
    captures: list[str] = []
    out: list[str] = []
    pos = 0
    for m in token.finditer(fmt):
        out.append(re.escape(fmt[pos : m.start()]))
        captures.append(m.group(1))
        nxt = fmt[m.end() : m.end() + 1]
        if nxt == '"':
            body = '[^"]*'
        elif nxt == "]":
            body = r"[^\]]*"
        elif nxt == " " or m.end() == len(fmt):
            # space-delimited or trailing var: greedy non-space (a lazy
            # .*? at pattern end would match empty)
            body = r"\S*"
        else:
            body = ".*?"
        out.append("(?:__CAP%d__%s))" % (len(captures) - 1, "(?:" + body))
        pos = m.end()
    out.append(re.escape(fmt[pos:]))
    return CompiledGrok(source=fmt, regex="".join(out), captures=captures, types={})


@register("gonx")
def compile_gonx(cfg: dict, ctx: Context) -> Stage:
    """nginx access-log parse by log_format (reference
    filter/gonx/filtergonx.go:80-96); default combined-ish format.
    """
    source = cfg.get("source", logevent.TEXT)
    fmt = cfg.get(
        "format",
        '$remote_addr - $remote_user [$time_local] "$request" $status $body_bytes_sent',
    )
    cg = gonx_format_to_regex(fmt)
    error_tag = cfg.get("error_tag", GONX_ERROR_TAG)

    def apply(df: DataFrame) -> DataFrame:
        src = F.col(source)
        applied = src.rlike(cg.positional())
        df = df.withColumns(
            {
                name: F.when(
                    applied, F.regexp_extract(src, cg.positional(), cg.group_index(name))
                )
                for name in cg.captures
            }
        )
        df = logevent.add_tags(df, [error_tag], ~applied)
        return apply_common(df, cfg, applied)

    return apply


@register("json")
def compile_json(cfg: dict, ctx: Context) -> Stage:
    """Parse source as JSON and merge keys into the event root or under
    `appendkey` (reference filter/json/filterjson.go:60-95).

    With `schema` (DDL string) the parse is fully native + columnar;
    without, falls back to map<string,string>.
    """
    source = cfg.get("source", logevent.TEXT)
    schema = cfg.get("schema")
    appendkey = cfg.get("appendkey")
    error_tag = cfg.get("error_tag", JSON_ERROR_TAG)
    tag_on_failure = cfg.get("tag_on_failure", True)
    # reference lifts a chosen key into the message and a timestamp key
    # (with layout) into @timestamp (filter/json/filterjson.go:21-24,60-95)
    msgfield = cfg.get("message")
    tsfield = cfg.get("timestamp")
    tsformat = cfg.get("timeformat")
    # reference ignoreextrabytes: parse the leading JSON object and
    # tolerate trailing garbage (filterjson.go:25 IgnoreExtraBytes)
    ignore_extra = bool(cfg.get("ignoreextrabytes", False))

    def apply(df: DataFrame) -> DataFrame:
        # guard: from_json is permissive (all-null struct) on garbage, so
        # require the row to look like a JSON object at all
        sch = schema or "map<string,string>"
        if ignore_extra:
            # the reference decodes the LEADING json document and drops
            # the rest (json.Decoder + IgnoreExtraBytes). Regex cannot
            # balance braces, so try the shortest candidate (flat object,
            # any trailing bytes) then the longest (nested object, no
            # '}' in the trailing bytes) — from_json is null on the
            # candidate that cut wrong.
            lazy = F.regexp_extract(F.col(source), r"^\s*(\{.*?\})", 1)
            greedy = F.regexp_extract(F.col(source), r"^\s*(\{.*\})", 1)
            parsed = F.coalesce(
                F.from_json(F.nullif(lazy, F.lit("")), sch),
                F.from_json(F.nullif(greedy, F.lit("")), sch),
            )
            df = df.withColumn("__json", parsed)
        else:
            src_json = F.col(source)
            looks_json = src_json.rlike(r"^\s*\{.*\}\s*$")
            df = df.withColumn("__json", F.when(looks_json, F.from_json(src_json, sch)))
        applied = F.col("__json").isNotNull()
        if msgfield:
            df = df.withColumn(
                logevent.TEXT,
                F.coalesce(F.col("__json")[msgfield].cast("string"),
                           F.col(logevent.TEXT) if logevent.TEXT in df.columns
                           else F.lit(None).cast("string")),
            )
        if tsfield:
            raw_ts = F.col("__json")[tsfield].cast("string")
            parsed_ts = (
                F.try_to_timestamp(raw_ts, F.lit(to_spark_pattern(tsformat)))
                if tsformat else F.try_to_timestamp(raw_ts)
            )
            df = df.withColumn(
                logevent.TS,
                F.coalesce(parsed_ts,
                           F.col(logevent.TS) if logevent.TS in df.columns
                           else F.lit(None).cast("timestamp")),
            )
        if appendkey:
            df = df.withColumn(appendkey, F.col("__json"))
        elif schema:
            inner = df.select(F.col("__json.*")).columns
            for c in inner:
                df = df.withColumn(c, F.col("__json")[c])
        else:
            df = df.withColumn("__jsonmap", F.col("__json"))
        if tag_on_failure:
            df = logevent.add_tags(df, [error_tag], ~applied)
        df = apply_common(df, cfg, applied)
        return df.drop("__json")

    return apply


@register("kv")
def compile_kv(cfg: dict, ctx: Context) -> Stage:
    """Split `k=v k2="v 2"` pairs, quote-aware, fully native
    (reference filter/kv/filterkv.go:49-139).

    regexp_extract_all pulls the pairs; map_from_arrays builds the map;
    `fields` lifts chosen keys to typed top-level columns.
    """
    source = cfg.get("source", logevent.TEXT)
    target = cfg.get("target")  # map column name
    fields_cfg = cfg.get("fields") or {}
    if not target and not fields_cfg:
        # a vanilla reference kv config lifts every pair into the event
        # root; the schema-first analog is the `kv` map column
        target = "kv"
    # fields: {target_col: "type"} (key == target) or
    #         {target_col: {"key": map_key, "type": "long"}}
    fields: dict[str, dict] = {}
    for name, v in fields_cfg.items():
        fields[name] = v if isinstance(v, dict) else {"key": name, "type": v}
    pair_rx = r'(\w+)=("[^"]*"|\S+)'
    # reference auto-converts int-parsable values unless the key is
    # string-kept (filter/kv/filterkv.go:117-139). Columnar analog:
    # `<target>` keeps the string entries, `<target>_num` holds the
    # auto-typed longs; a lifted field may declare type "auto".
    auto_type = bool(cfg.get("auto_type", False))
    # reference key is `strings` (filterkv.go config)
    keep_strings = list(cfg.get("keep_strings") or cfg.get("strings") or [])
    INT_RX = r"^-?\d+$"

    def apply(df: DataFrame) -> DataFrame:
        src = F.col(source)
        pairs = F.regexp_extract_all(src, F.lit(pair_rx), F.lit(0))
        keys = F.transform(pairs, lambda p: F.regexp_extract(p, r"^(\w+)=", 1))
        vals = F.transform(
            pairs,
            lambda p: F.regexp_replace(
                F.regexp_extract(p, r"^\w+=(.*)$", 1), r'^"(.*)"$', r"$1"
            ),
        )
        kvmap = F.map_from_arrays(keys, vals)
        df = df.withColumn("__kv", kvmap)
        applied = F.size(F.map_keys(F.col("__kv"))) > 0

        def is_auto(k: Column, v: Column) -> Column:
            kept = k.isin(*keep_strings) if keep_strings else F.lit(False)
            return v.rlike(INT_RX) & ~kept

        if target and auto_type:
            df = df.withColumn(
                target, F.map_filter(F.col("__kv"), lambda k, v: ~is_auto(k, v))
            ).withColumn(
                target + "_num",
                F.transform_values(
                    F.map_filter(F.col("__kv"), is_auto), lambda k, v: v.cast("long")
                ),
            )
        elif target:
            df = df.withColumn(target, F.col("__kv"))
        lifted: dict[str, Column] = {}
        for name, spec in fields.items():
            key = spec.get("key", name)
            typ = spec.get("type")
            val = F.col("__kv")[key]
            if typ == "auto":
                if key in keep_strings:
                    lifted[name] = val
                else:
                    lifted[name] = F.when(val.rlike(INT_RX), val).cast("long")
            else:
                lifted[name] = _typed(val, typ)
        df = df.withColumns(lifted)
        df = apply_common(df, cfg, applied)
        return df.drop("__kv")

    return apply


@register("url_param")
def compile_url_param(cfg: dict, ctx: Context) -> Stage:
    """Parse URL query params (reference filter/urlparam/filterurlparam.go:92-143).

    include_keys -> one native parse_url per key; url_decode optional;
    `prefix` prefixes the new columns.
    """
    source = cfg.get("source", "request")
    include_keys = cfg.get("include_keys") or []
    prefix = cfg.get("prefix", "")
    # reference url_decode is a LIST of keys (filter/urlparam/
    # filterurlparam.go:21); a bool decodes every included key
    decode = cfg.get("url_decode", False)
    decode_keys = set(decode) if isinstance(decode, (list, tuple)) else (
        set(include_keys) if decode else set()
    )
    remove_empty = bool(cfg.get("remove_empty_values", True))

    def apply(df: DataFrame) -> DataFrame:
        # parse_url needs an absolute URL; relative paths get a stub base
        url = F.when(
            F.col(source).rlike("^https?://"), F.col(source)
        ).otherwise(F.concat(F.lit("http://h"), F.col(source)))
        df = df.withColumn("__url", url)
        applied = F.col(source).contains("?")
        new_cols = {}
        for key in include_keys:
            val = F.parse_url(F.col("__url"), F.lit("QUERY"), F.lit(key))
            if key in decode_keys:
                val = F.url_decode(val)
            if remove_empty:
                val = F.nullif(val, F.lit(""))
            new_cols[prefix + key] = val
        df = df.withColumns(new_cols)
        df = apply_common(df, cfg, applied)
        return df.drop("__url")

    return apply


# uap-core-style ruleset, first-match-wins (reference filter/useragent
# parses with uap-go regexes.yaml; we ship a small public-knowledge set)
UA_RULES: list[tuple[str, str, str]] = [
    # (regex with one version group, family, os hint regex)
    (r"Firefox/(\d+[\d.]*)", "Firefox", ""),
    (r"Chrome/(\d+[\d.]*)", "Chrome", ""),
    (r"Version/(\d+[\d.]*).*Safari", "Safari", ""),
    (r"Safari/(\d+[\d.]*)", "Safari", ""),
    (r"curl/(\d+[\d.]*)", "curl", ""),
    (r"python-requests/(\d+[\d.]*)", "Python Requests", ""),
]
UA_OS_RULES: list[tuple[str, str]] = [
    (r"Windows NT", "Windows"),
    (r"Macintosh|Mac OS X", "Mac OS X"),
    (r"Linux", "Linux"),
]


def load_uap_rules(path: str) -> list[tuple[str, str, str]]:
    """Minimal uap-core regexes.yaml reader: `user_agent_parsers`
    entries' regex + family_replacement (reference useragent loads the
    same file via uap-go). Entries without family_replacement use the
    regex's first capture group as the family. Single/double-quoted
    scalars only — the published regexes.yaml is flat enough that a
    full YAML parser is not needed."""
    rules: list[tuple[str, str, str]] = []
    section = None
    cur_rx: str | None = None
    cur_fam: str | None = None

    def flush():
        nonlocal cur_rx, cur_fam
        if cur_rx is not None:
            rules.append((cur_rx, cur_fam or "", ""))
        cur_rx, cur_fam = None, None

    rx_line = re.compile(r"""^\s*-\s*regex:\s*(['"])(.*)\1\s*$""")
    fam_line = re.compile(r"""^\s*family_replacement:\s*(['"])(.*)\1\s*$""")
    with open(path) as f:
        for line in f:
            s = line.rstrip("\n")
            if s and not s[0].isspace() and s.endswith(":"):
                flush()
                section = s[:-1]
                continue
            if section != "user_agent_parsers":
                continue
            m = rx_line.match(s)
            if m:
                flush()
                cur_rx = m.group(2).replace("''", "'")
                continue
            m = fam_line.match(s)
            if m:
                cur_fam = m.group(2).replace("''", "'")
    flush()
    return rules


@register("useragent")
def compile_useragent(cfg: dict, ctx: Context) -> Stage:
    """UA parse (reference filter/useragent/filteruseragent.go:81-157).

    Inline native regexes: the parse is pure codegen, no extra pass.
    `regexes` loads a uap-core regexes.yaml ruleset (the reference's
    own config knob).
    """
    source = cfg.get("source", "agent")
    target = cfg.get("target", "ua")
    uap_mode = bool(cfg.get("regexes"))
    if uap_mode:
        import os

        path = cfg["regexes"]
        if not os.path.isabs(path):
            path = os.path.join(ctx.base_dir, path)
        rules = load_uap_rules(path)
    else:
        rules = UA_RULES

    def parse_cols(col: Column) -> list[Column]:
        fam_parts: list[Column] = []
        ver_parts: list[Column] = []
        for rx, name, _ in rules:
            ngroups = re.compile(rx).groups
            if uap_mode:
                # uap-core conventions: group 1 = family (unless
                # family_replacement), group 2 = major version
                fam = (
                    F.lit(name) if name
                    else F.regexp_extract(col, rx, 1) if ngroups >= 1
                    else F.lit("Other")
                )
                ver = (
                    F.regexp_extract(col, rx, 2) if ngroups >= 2 else F.lit("")
                )
            else:
                # builtin ruleset: one group = the version, family named
                fam = F.lit(name)
                ver = F.regexp_extract(col, rx, 1) if ngroups >= 1 else F.lit("")
            fam_parts.append(F.when(col.rlike(rx), fam))
            ver_parts.append(F.when(col.rlike(rx), ver))
        fam = F.coalesce(*fam_parts, F.lit("Other"))
        ver = F.coalesce(*ver_parts, F.lit(""))
        osf = F.coalesce(
            *[F.when(col.rlike(rx), F.lit(name)) for rx, name in UA_OS_RULES],
            F.lit("Other"),
        )
        return [fam.alias("__ua_family"), ver.alias("__ua_version"), osf.alias("__ua_os")]

    def apply(df: DataFrame) -> DataFrame:
        strip = F.regexp_replace(F.coalesce(F.col(source), F.lit("")), r'^"|"$', "")
        fam, ver, osf = parse_cols(strip)
        out = df.withColumn(
            target,
            F.struct(fam.alias("family"), ver.alias("version"), osf.alias("os")),
        )
        return apply_common(out, cfg, None)

    return apply


@register("date")
def compile_date(cfg: dict, ctx: Context) -> Stage:
    """Parse a source field into a timestamp, trying formats in order;
    UNIX / UNIXNANO epoch forms included
    (reference filter/date/filterdate.go:75-196).
    """
    source = cfg.get("source", "time_local")
    formats = cfg.get("format") or cfg.get("formats") or []
    joda = bool(cfg.get("joda", False))
    target = cfg.get("target", logevent.TS)
    error_tag = cfg.get("error_tag", DATE_ERROR_TAG)
    tag_on_failure = cfg.get("tag_on_failure", True)
    # syslog-style layouts carry no year; back-fill current year, minus
    # one if that lands in the future (reference
    # filter/date/filterdate.go:34,114-119). `now` (ISO string) pins the
    # clock for deterministic tests/oracles.
    compute_year = bool(cfg.get("compute_year_if_missing", False))
    now_iso = cfg.get("now")

    def _backfill(p: Column, now_col: Column) -> Column:
        """Replace a leap-anchored parse's year with now's year, minus
        one when that lands in the future. try_make_timestamp: Feb 29
        into a non-leap year yields null (not an ANSI error) so the
        coalesce can fall back to the previous (possibly leap) year."""
        secs = F.second(p) + (F.unix_micros(p) % F.lit(1_000_000)) / F.lit(1_000_000.0)
        this_year = F.try_make_timestamp(
            F.year(now_col), F.month(p), F.day(p), F.hour(p), F.minute(p), secs
        )
        prev_year = F.try_make_timestamp(
            F.year(now_col) - 1, F.month(p), F.day(p), F.hour(p), F.minute(p), secs
        )
        return F.when(p.isNotNull(), F.coalesce(
            F.when(this_year > now_col, prev_year).otherwise(this_year), prev_year
        ))

    def apply(df: DataFrame) -> DataFrame:
        src = F.col(source).cast("string")
        now_col = (
            F.lit(now_iso).cast("timestamp") if now_iso else F.current_timestamp()
        )
        attempts: list[Column] = []
        staged_parses: dict[str, Column] = {}
        for fmt in formats:
            if fmt == "UNIX":
                # seconds since epoch, fractional + exponent notation ok
                attempts.append(
                    F.timestamp_micros(
                        (src.try_cast("double") * F.lit(1_000_000)).cast("long")
                    )
                )
            elif fmt == "UNIXNANO":
                attempts.append(
                    F.timestamp_micros(
                        (src.try_cast("double") / F.lit(1_000)).cast("long")
                    )
                )
            else:
                pat = to_spark_pattern(fmt, joda)
                if compute_year and "y" not in pat:
                    # YEARLESS format: anchor to a LEAP year so 'Feb 29'
                    # parses, then backfill THIS attempt immediately —
                    # no sentinel year, so genuinely 1972-dated (or any
                    # other yearful) attempts are never rewritten.
                    # The parse is STAGED in a temp column: _backfill
                    # references it ~13 times (year/month/day/... of p
                    # across both candidate years), and text timestamp
                    # parsing is the expensive part — inlined, codegen
                    # re-evaluates the DateTimeFormatter per reference
                    # (measured 5.8s -> 1.0s on the 5M-row syslog date
                    # stage at sf1; multi-use non-cheap aliases are
                    # never collapsed back by the optimizer).
                    name = "__date_p%d" % len(staged_parses)
                    staged_parses[name] = F.try_to_timestamp(
                        F.concat(F.lit("1972 "), src), F.lit("yyyy " + pat)
                    )
                    attempts.append(_backfill(F.col(name), now_col))
                else:
                    attempts.append(F.try_to_timestamp(src, F.lit(pat)))
        parsed = F.coalesce(*attempts) if attempts else F.try_to_timestamp(src)
        if staged_parses:
            df = df.withColumns(staged_parses)
        df = df.withColumn("__date", parsed)
        if staged_parses:
            df = df.drop(*staged_parses.keys())
        applied = F.col("__date").isNotNull()
        df = df.withColumn(
            target,
            F.when(applied, F.col("__date")).otherwise(
                F.col(target) if target in df.columns else F.lit(None).cast("timestamp")
            ),
        )
        if tag_on_failure:
            df = logevent.add_tags(df, [error_tag], ~applied)
        df = apply_common(df, cfg, applied)
        return df.drop("__date")

    return apply
