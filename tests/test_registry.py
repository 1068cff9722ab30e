"""The registry's naming rule and its guards: each query is declared
once, in `registry.CONVENTIONAL` or by an explicit `register` call, and
every public oracle constant in a module the registry draws from is
some query's oracle."""

from __future__ import annotations

import ast
import importlib
import inspect
from types import ModuleType

import pytest

from data_frame_demo_etl_spark import registry
from data_frame_demo_etl_spark.analytics import tpch


def _table_names() -> list[str]:
    return [name for names in registry.CONVENTIONAL.values() for name in names]


def _explicit_names() -> list[str]:
    """The names of the module-level `register("<name>", ...)` calls."""
    tree = ast.parse(inspect.getsource(registry))
    return [
        node.value.args[0].value
        for node in tree.body
        if isinstance(node, ast.Expr)
        and isinstance(node.value, ast.Call)
        and getattr(node.value.func, "id", None) == "register"
    ]


def _source_modules() -> set[ModuleType]:
    """The table's modules, each query's defining module and the
    modules registry.py imports for its explicit calls."""
    pkg = registry.__package__
    mods = {importlib.import_module(f"{pkg}.{path}") for path in registry.CONVENTIONAL}
    mods |= {importlib.import_module(fn.__module__) for fn in registry.queries().values()}
    mods |= {m for m in vars(registry).values() if isinstance(m, ModuleType)}
    return {m for m in mods if m.__name__.startswith(pkg)}


def test_every_public_oracle_constant_is_registered():
    oracles = set(registry.oracle_sql().values())
    orphans = sorted(
        f"{mod.__name__}.{attr}"
        for mod in _source_modules()
        for attr, value in vars(mod).items()
        if attr.endswith("_SQL") and not attr.startswith("_") and isinstance(value, str)
        and value not in oracles
    )
    assert orphans == []


def test_each_query_is_declared_once():
    table, explicit = _table_names(), _explicit_names()
    assert len(table) == len(set(table))
    assert len(explicit) == len(set(explicit))
    assert set(table).isdisjoint(explicit)
    assert sorted(table + explicit) == sorted(registry.queries())


def test_register_rejects_a_held_name():
    with pytest.raises(ValueError, match="q1_pricing_summary"):
        registry.register("q1_pricing_summary", lambda spark, sf_dir: None, "SELECT 1")
    assert registry.queries()["q1_pricing_summary"] is tpch.q1_pricing_summary
    assert registry.oracle_sql()["q1_pricing_summary"] is tpch.Q1_SQL
