"""The library reads no GOGSTASH_* environment knobs: once a test pins
the winning formulation, the A/B switch that chose it is deleted."""

import pathlib

LIB = pathlib.Path(__file__).resolve().parent.parent / "gogstash_spark"


def test_library_has_no_gogstash_env_knobs():
    files = [p for p in LIB.rglob("*") if p.is_file() and "__pycache__" not in p.parts]
    assert files
    hits = [str(p.relative_to(LIB.parent)) for p in files if b"GOGSTASH_" in p.read_bytes()]
    assert not hits, hits
