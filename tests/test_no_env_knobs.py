"""The library reads no GOGSTASH_* environment knobs and keeps no
single-value parameters: once a test pins the winning formulation, the
switch that chose it is deleted."""

import ast
import pathlib

LIB = pathlib.Path(__file__).resolve().parent.parent / "gogstash_spark"


def test_library_has_no_gogstash_env_knobs():
    files = [p for p in LIB.rglob("*") if p.is_file() and "__pycache__" not in p.parts]
    assert files
    hits = [str(p.relative_to(LIB.parent)) for p in files if b"GOGSTASH_" in p.read_bytes()]
    assert not hits, hits


def test_no_checkpoint_cadence_or_strict_parameters():
    """Iterative loops truncate their plan on a fixed shape (no
    `checkpoint_every` cadence), a non-converged loop always raises
    (no `strict` switch to a best-effort result), the runner writes
    parquet only (no `table_format`/`table_ident` switch to a table
    format), and each broadcast join is fixed or size-checked (no
    `broadcast_lm`/`broadcast_matches`/`broadcast_seen` switch)."""
    forbidden = {
        "checkpoint_every", "strict", "table_format", "table_ident",
        "broadcast_lm", "broadcast_matches", "broadcast_seen",
    }
    hits = []
    for p in LIB.rglob("*.py"):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                hits += ["%s:%s(%s)" % (p.name, node.name, n) for n in names & forbidden]
    assert not hits, hits
