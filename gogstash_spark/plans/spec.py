"""Pipeline spec: the engine's "query language".

The reference's query IS its config file — `Config{InputRaw, FilterRaw,
OutputRaw}` (reference config/config.go:33-37), JSON or YAML with
comment stripping (config/util.go:88-106). Our spec mirrors that shape
and compiles to one DataFrame DAG.

    input:
      type: parquet | table
      path: ...
    filter:
      - {type: grok, match: [...], ...}
      - {type: date, source: timestamp, format: [...]}
    output:
      - {type: table, name: sink_errors, condition: "status >= 500"}
      - type: cond
        condition: "role == 'tool'"
        output: [{type: table, name: sink_tool_calls}]
        else_output: [{type: table, name: sink_rest}]
    aggregate:
      - {name: counts, group_by: [tool], time_bucket: hour}
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Any


@dataclass
class PipelineSpec:
    input: dict[str, Any] = field(default_factory=dict)
    filter: list[dict[str, Any]] = field(default_factory=list)
    output: list[dict[str, Any]] = field(default_factory=list)
    aggregate: list[dict[str, Any]] = field(default_factory=list)

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "PipelineSpec":
        return cls(
            input=d.get("input") or {},
            filter=list(d.get("filter") or []),
            output=list(d.get("output") or []),
            aggregate=list(d.get("aggregate") or []),
        )

    @classmethod
    def from_gogstash(cls, d: dict[str, Any]) -> "PipelineSpec":
        """Adapt a reference gogstash config (the dict form of its
        YAML/JSON) to a PipelineSpec, so an existing config runs here
        with its own key names.

        - filter chain passes through verbatim (module names and config
          keys are registered 1:1, incl. geoip2/rate_limit aliases)
        - inputs: file -> text read with the file's codec; kafka ->
          kafka source with the same codec (streaming only);
          exec/http pull inputs pass through; other broker/daemon
          inputs raise with the unsupported list (no silent drop)
        - outputs: elastic/elasticv5 keep index/document_id semantics;
          clickhouse/file -> table sinks; http/socket/gelf/loki are live
          protocol sinks; report/statsd become aggregates; stdout and
          prometheus are no-ops (debug / metrics-endpoint)
        """
        unsupported: list[str] = []

        # top-level `event:` marshal options (reference
        # config/logevent/logevent.go:22-28) apply wherever events are
        # JSON-encoded — i.e. the protocol sinks
        ev = d.get("event") or {}
        json_opts: dict[str, Any] = {}
        if ev.get("sort_map_keys"):
            json_opts["sort_map_keys"] = True
        if ev.get("remove_field"):
            json_opts["remove_field"] = list(ev["remove_field"])

        inputs: list[dict[str, Any]] = []
        for i in d.get("input") or []:
            t = i.get("type")
            if t in ("file", "kafka"):
                codec = i.get("codec")
                if isinstance(codec, dict):
                    codec = codec.get("type", "default")
                base = {"type": "text", "path": i.get("path")} if t == "file" else i
                inputs.append({**base, "codec": codec or "default"})
            elif t in ("exec", "http", "lorem", "redis", "nsq", "nats",
                       "dockerlog", "dockerstats"):
                inputs.append(dict(i))
            elif t in ("beats", "httplisten", "socket") and i.get("spool_dir"):
                # push listeners (sources/ingest.py beats_input /
                # httplisten_input / socket_listen_input) run as edge
                # daemons writing a spool; the cluster job reads the
                # spool. beats events are lumberjack JSON docs.
                inputs.append({
                    "type": "text", "path": i["spool_dir"],
                    "codec": "json" if t == "beats" else "default",
                })
            else:
                unsupported.append("input/%s" % t)
        if len(inputs) == 1:
            spec_input: dict[str, Any] = inputs[0]
        elif inputs:
            spec_input = {"type": "multi", "inputs": inputs}
        else:
            spec_input = {}

        used_names: set[str] = set()
        aggs: list[dict] = []

        def uniq(base: str) -> str:
            name, k = base, 1
            while name in used_names:
                name = "%s_%d" % (base, k)
                k += 1
            used_names.add(name)
            return name

        _FIELD_TPL = re.compile(r"^%\{([A-Za-z_][A-Za-z0-9_.]*)\}$")

        def add_metric_aggs(o: dict, cond: str | None) -> None:
            """statsd metric lists -> aggregates. increment counts;
            count -> sum of the value field; gauge -> avg; timing ->
            avg + p50/p95/p99 (the statsd timer digest). Value templates
            must be a plain %{field} — anything else is unsupported."""
            for tpl in o.get("increment") or []:
                aggs.append({"name": uniq("statsd"), "metric_key": tpl,
                             "ops": ["count"], "condition": cond})
            mapping = {"count": ["sum:%s"], "gauge": ["avg:%s"],
                       "timing": ["avg:%s", "p50:%s", "p95:%s", "p99:%s"]}
            for kind, op_fmts in mapping.items():
                for nv in o.get(kind) or []:
                    m = _FIELD_TPL.match(str(nv.get("value", "")))
                    if not m:
                        unsupported.append("output/statsd/%s=%r" % (kind, nv.get("value")))
                        continue
                    fld = m.group(1)
                    aggs.append({
                        "name": uniq("statsd_%s" % kind),
                        "metric_key": nv.get("name", fld),
                        "ops": ["count"] + [f % fld for f in op_fmts],
                        "condition": cond,
                    })

        def adapt_outputs(outs: list[dict], cond: str | None = None) -> list[dict]:
            sinks: list[dict] = []
            for o in outs:
                t = o.get("type")
                own = o.get("condition")
                branch_cond = (
                    own if cond is None
                    else cond if own is None
                    else "(%s) && (%s)" % (cond, own)
                )
                if t == "cond":
                    sinks.append({
                        "type": "cond", "condition": own,
                        "output": adapt_outputs(o.get("output") or [], branch_cond),
                        "else_output": adapt_outputs(
                            o.get("else_output") or [],
                            cond if own is None else
                            ("(%s) && !(%s)" % (cond, own) if cond else "!(%s)" % own),
                        ),
                    })
                elif t in ("elastic", "elasticv5"):
                    index = o.get("index", "elastic")
                    base = re.sub(r"[^a-z0-9_-]+", "_", index.lower()).strip("_")
                    sinks.append({
                        "type": "elastic", "name": uniq(base or "elastic"),
                        "index": index, "document_id": o.get("document_id"),
                        "condition": own,
                    })
                elif t in ("clickhouse", "file"):
                    base = o.get("table") or o.get("name")
                    if not base and o.get("path"):
                        base = re.sub(r"[^A-Za-z0-9_-]+", "_", str(o["path"])).strip("_")
                    sinks.append({"type": "table", "name": uniq(base or t),
                                  "condition": own})
                elif t in ("http", "socket", "gelf", "loki", "redis", "nsq",
                           "email", "amqp"):
                    s = dict(o)
                    if json_opts and "json_opts" not in s:
                        s["json_opts"] = json_opts
                    s["name"] = uniq(s.get("name", t))
                    if t == "http" and isinstance(s.get("urls"), list):
                        s["url"] = s["urls"][0]
                    if t == "socket" and "address" not in s and s.get("host"):
                        s["address"] = s["host"]
                    sinks.append(s)
                elif t == "report":
                    aggs.append({"name": uniq("report"), "group_by": [],
                                 "time_bucket": "minute", "condition": cond})
                elif t == "statsd":
                    add_metric_aggs(o, cond)
                elif t == "stdout":
                    # stdout receives every event in gogstash; the batch
                    # analog materializes the same rows as a debug table
                    # (print-to-driver would mean collect())
                    sinks.append({"type": "table", "name": uniq("stdout"),
                                  "condition": own})
                elif t == "prometheus":
                    pass  # metrics endpoint: an observability no-op here
                else:
                    unsupported.append("output/%s" % t)
            return sinks

        sinks = adapt_outputs(d.get("output") or [])
        if unsupported:
            raise ValueError(
                "gogstash modules with no Spark mapping here: %s "
                "(brokers/daemons need their connector jars or an edge "
                "listener; see OPERATORS.md)" % sorted(set(unsupported))
            )
        # reserved field names: gogstash events hold the raw line in
        # `message` and the event time in `@timestamp`
        # (config/logevent/logevent.go:31-34); this engine's columns are
        # `text` / `ts`, so translate field references in filter configs
        reserved = {"message": "text", "@timestamp": "ts"}

        def xlate_filter(f: dict) -> dict:
            f = dict(f)
            for k in ("source", "field", "ip_field", "target"):
                v = f.get(k)
                # hash takes source as a LIST of fields
                # (filter/hash/filterhash.go Source []string)
                if isinstance(v, list):
                    f[k] = [reserved.get(x, x) for x in v]
                elif isinstance(v, str) and v in reserved:
                    f[k] = reserved[v]
            if isinstance(f.get("fields"), list):
                f["fields"] = [reserved.get(x, x) for x in f["fields"]]
            return f

        return cls(
            input=spec_input,
            filter=[xlate_filter(f) for f in (d.get("filter") or [])],
            output=sinks,
            aggregate=aggs,
        )

    @classmethod
    def load(cls, path: str) -> "PipelineSpec":
        with open(path) as f:
            raw = f.read()
        if path.endswith((".yaml", ".yml")):
            try:
                import yaml  # type: ignore

                return cls.from_dict(yaml.safe_load(raw))
            except ImportError as e:
                raise RuntimeError("yaml not available; use JSON spec") from e
        # strip // and # comment lines, as the reference does
        # (reference config/util.go:88-106)
        cleaned = re.sub(r"^\s*(//|#).*$", "", raw, flags=re.M)
        return cls.from_dict(json.loads(cleaned))
