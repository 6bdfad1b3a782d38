"""The canonical transcripts pipeline (the engine's flagship "query").

parse (grok multi-pattern, first-match-wins) -> json/kv secondary parse
-> date -> enrich (broadcast lookups) -> unified fields -> route fan-out
-> per-sink aggregates. Mirrors FIXTURES.md §2-4 so per-sink coverage is
known a priori.
"""

from __future__ import annotations

import os

from gogstash_spark.plans.spec import PipelineSpec

# custom grok patterns for the kv / json transcript line families
EXTRA_PATTERNS = {
    "KVPATH": r"(?:\"[^\"]*\"|\S+)",
    "KVLINE": (
        r"^level=%{WORD:kv_level} latency_ms=%{INT:latency_ms:int} "
        r"path=%{KVPATH:kv_path} status=%{INT:kv_status:int}$"
    ),
    "JSONLINE": r"^\{\"level\":%{GREEDYDATA:json_body}\}$",
}

GROK_MATCHES = ["%{COMBINEDAPACHELOG}", "%{KVLINE}", "%{JSONLINE}"]

JSON_SCHEMA = "struct<level:string,msg:string,code:bigint,ts:string>"

E_ERR = "status_u >= 500 || level_u == 'error'"
E_TOOL = "role == 'tool' && tool != 'none'"
E_USER = "role == 'user'"
E_DEAD = "'gogstash_filter_grok_error' IN tags"
ANY_ROUTE = "(%s) || (%s) || (%s) || (%s)" % (E_ERR, E_TOOL, E_USER, E_DEAD)

SINKS = ["sink_errors", "sink_tool_calls", "sink_user_turns", "sink_deadletter", "sink_rest"]


def standard_spec(data_dir: str) -> PipelineSpec:
    """data_dir: directory holding transcripts/ + lookup tables
    (from sources.transcripts.ensure_transcripts).
    """
    return PipelineSpec.from_dict(
        {
            "input": {"type": "parquet", "path": os.path.join(data_dir, "transcripts")},
            "filter": [
                {
                    "type": "grok",
                    "source": "text",
                    "match": GROK_MATCHES,
                    "patterns": EXTRA_PATTERNS,
                },
                {
                    "type": "json",
                    "source": "text",
                    "schema": JSON_SCHEMA,
                    "appendkey": "jsonf",
                    "tag_on_failure": False,
                },
                {
                    "type": "date",
                    "source": "timestamp",
                    "format": ["02/Jan/2006:15:04:05 -0700"],
                    "target": "log_ts",
                    "tag_on_failure": False,
                },
                {
                    "type": "lookuptable",
                    "source": "role",
                    "path": os.path.join(data_dir, "role_lookup.parquet"),
                    "lookup_key": "role",
                },
                {
                    "type": "lookuptable",
                    "source": "tool",
                    "path": os.path.join(data_dir, "tool_lookup.parquet"),
                    "lookup_key": "tool",
                    "tag_on_miss": True,
                },
                {
                    "type": "useragent",
                    "source": "agent",
                    "target": "ua",
                },
                {
                    "type": "url_param",
                    "source": "request",
                    "include_keys": ["q", "page"],
                    "prefix": "qp_",
                },
                {
                    "type": "sql",
                    "expr": {
                        "status_u": "coalesce(response, kv_status, jsonf.code)",
                        "level_u": "coalesce(kv_level, jsonf.level)",
                    },
                },
                {
                    "type": "add_field",
                    "key": "src",
                    "value": "%{role}/%{tool}",
                },
                {
                    "type": "hash",
                    "source": ["conv_id", "turn_idx"],
                    "algo": "sha256",
                    "target": "event_hash",
                },
            ],
            "output": [
                {
                    "type": "cond",
                    "condition": ANY_ROUTE,
                    "output": [
                        {"type": "table", "name": "sink_errors", "condition": E_ERR},
                        {"type": "table", "name": "sink_tool_calls", "condition": E_TOOL},
                        {"type": "table", "name": "sink_user_turns", "condition": E_USER},
                        {"type": "table", "name": "sink_deadletter", "condition": E_DEAD},
                    ],
                    "else_output": [{"type": "table", "name": "sink_rest"}],
                },
            ],
            "aggregate": [
                {"name": "counts", "group_by": ["tool"], "time_bucket": "hour"},
                {"name": "conv_counts", "group_by": ["conv_id"]},
                {
                    "name": "statsd",
                    "metric_key": "%{role}.%{tool}",
                    "ops": ["count", "sum:latency_ms"],
                },
            ],
        }
    )
