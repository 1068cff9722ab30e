"""Generated-docs drift guard: the inputs and output of `make docs`
must agree with the registry, so a stale entry fails the suite rather
than only a manual docs run."""

from __future__ import annotations

import importlib.util
from pathlib import Path

from data_frame_demo_etl_spark import registry

SCRIPTS = Path(__file__).resolve().parents[1] / "scripts"


def _load_script(name: str):
    spec = importlib.util.spec_from_file_location(name, SCRIPTS / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_query_index_inputs_match_registry():
    gen = _load_script("gen_query_index")
    assert sorted(set(gen.REQUIRES) - set(registry.queries())) == []
    assert _load_script("check_counts").main() == 0
    committed = (SCRIPTS.parent / "QUERIES.md").read_text(encoding="utf-8")
    assert gen.render() == committed, "QUERIES.md is stale: run scripts/gen_query_index.py"
