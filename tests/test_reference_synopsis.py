"""Every plugin README synopsis in the reference, through this engine's
config surface.

The reference documents each module with a Synopsis config stanza
(/root/reference/{input,filter,output}/<name>/README.md). This sweep
parses each stanza (the reference writes them as JSON-with-//-comments
or YAML; a tolerant scrubber strips the comment lines and repairs the
informal missing/trailing commas) and asserts the engine accepts it:

- filter stanzas: every `type` is a registered operator (FILTERS)
  and the chain passes PipelineSpec.from_gogstash verbatim
- input/output stanzas: from_gogstash maps them, with exactly two
  documented adaptations (push listeners get a spool_dir — they run as
  edge daemons here; broker endpoints stay as written, nothing
  connects at spec time)
- kafka out and azureeventhub in: pinned to RAISE from from_gogstash
  (no streaming sink / cloud daemon; OPERATORS.md); kafka in maps to a
  streaming kafka input, and its synopsis keys are additionally
  asserted against the broker-less options contract
  (kafka_options_from_gogstash)

Five plugins ship no README (filter/{lookuptable,ratelimit,removefield,
typeconv}, output/prometheus): their config keys are pinned by the
operator tests instead.
"""

import glob
import json
import os
import re

import pytest
import yaml

from gogstash_spark.operators import FILTERS
from gogstash_spark.plans.spec import PipelineSpec

REF = "/root/reference"

# push listeners run as edge daemons writing a spool the cluster reads
SPOOL_INPUTS = {"beats", "httplisten", "socket"}
# pinned loud-raise: no streaming sink / needs a cloud consumer daemon
RAISING = {("input", "azureeventhub"), ("output", "kafka")}


def _extract(path: str) -> dict | None:
    """First fenced block in the README that scrubs/repairs into a
    config dict with an input/filter/output section."""
    text = open(path).read()
    for fence in re.findall(r"```[a-z]*\n(.*?)```", text, re.S):
        if '"type"' not in fence and "type:" not in fence:
            continue
        lines = [
            ln
            for ln in fence.replace("\t", "  ").splitlines()
            if not ln.strip().startswith(("//", "#"))
        ]
        txt = "\n".join(lines)
        txt = re.sub(r",(\s*[}\]])", r"\1", txt)

        def repaired() -> str:
            out = []
            for ix, ln in enumerate(lines):
                nxt = next((x for x in lines[ix + 1 :] if x.strip()), "")
                if (
                    re.search(r'["\d\]}e]\s*$', ln)
                    and nxt.strip().startswith('"')
                    and not ln.rstrip().endswith((",", "{", "["))
                ):
                    out.append(ln + ",")
                else:
                    out.append(ln)
            return re.sub(r",(\s*[}\]])", r"\1", "\n".join(out))

        for attempt in (txt, repaired()):
            for loader in (yaml.safe_load, json.loads):
                try:
                    cfg = loader(attempt)
                except Exception:
                    continue
                if isinstance(cfg, dict) and any(
                    k in cfg for k in ("input", "filter", "output")
                ):
                    return cfg
    return None


def _plugins() -> list[tuple[str, str, str]]:
    out = []
    for path in sorted(glob.glob(REF + "/*/*/README.md")):
        kind, plugin = path.split("/")[-3], path.split("/")[-2]
        if kind in ("input", "filter", "output"):
            out.append((kind, plugin, path))
    return out


PLUGINS = _plugins()
# without the reference checkout the sweep collects as ONE visible skip
# rather than as zero cases
NO_PLUGINS = pytest.param(
    None, None, None, id="no_reference",
    marks=pytest.mark.skip(reason="no plugin README under %s" % REF),
)


def test_sweep_covers_the_documented_plugin_set():
    """The reference ships 47 plugin READMEs today; if it grows, this
    sweep must grow with it rather than silently skipping."""
    if not os.path.isdir(REF):
        pytest.skip("gogstash reference checkout not present at %s" % REF)
    assert len(PLUGINS) == 47


@pytest.mark.parametrize(
    "kind,plugin,path",
    [pytest.param(k, p, path, id="%s_%s" % (k, p)) for k, p, path in PLUGINS] or [NO_PLUGINS],
)
def test_synopsis_accepted(kind, plugin, path, tmp_path):
    frag = _extract(path)
    assert frag is not None, "synopsis stanza in %s did not parse" % path

    if kind == "filter":
        chain = frag.get("filter") or []
        assert chain, "filter README with no filter stanza"
        for f in chain:
            assert f.get("type") in FILTERS, (
                "filter type %r not registered" % f.get("type")
            )
        spec = PipelineSpec.from_gogstash(
            {"input": [{"type": "lorem"}], "filter": chain,
             "output": [{"type": "stdout"}]}
        )
        assert [f["type"] for f in spec.filter] == [f["type"] for f in chain]
        return

    section = frag.get(kind) or []
    assert section, "%s README with no %s stanza" % (kind, kind)
    if kind == "input":
        for i in section:
            if plugin == "dockerstats" and i.get("type") == "docker":
                # the reference's own README/code mismatch: the synopsis
                # says "type": "docker" but the module registers as
                # "dockerstats" (inputdockerstats.go:19) — a verbatim
                # copy fails on the reference too, so test the code's
                # name
                i["type"] = "dockerstats"
            if i.get("type") in SPOOL_INPUTS:
                i["spool_dir"] = str(tmp_path / "spool")
        cfg = {"input": section, "output": [{"type": "stdout"}]}
    else:
        cfg = {"input": [{"type": "lorem"}], "output": section}

    if (kind, plugin) in RAISING:
        with pytest.raises(ValueError, match="no Spark mapping"):
            PipelineSpec.from_gogstash(cfg)
        return

    spec = PipelineSpec.from_gogstash(cfg)
    if kind == "input":
        got = spec.input.get("inputs", [spec.input])
        assert len(got) == len(section)
        if plugin == "kafka":
            # the documented keys drive the broker-less options contract
            from gogstash_spark.sources.connectors import kafka_options_from_gogstash

            opts = kafka_options_from_gogstash(got[0])
            assert opts["kafka.bootstrap.servers"] and opts["subscribe"]
    else:
        # every stanza output landed as a sink or an aggregate
        # (prometheus is the documented no-op)
        n_mapped = len(spec.output) + len(spec.aggregate)
        n_noop = sum(1 for o in section if o.get("type") == "prometheus")
        assert n_mapped >= len(section) - n_noop
