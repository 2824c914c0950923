"""Every function and method the package defines is reached by code that
runs: a query, the CLI, ``Warehouse``, a tool or the benchmark. A
definition that only tests call still has to be read, kept in step and
tested; give it a caller or delete it with its tests.

The scan reads source with ``ast`` only: it imports no package module and
starts no Spark. It covers top-level functions and the methods of
top-level classes, skipping ``@query`` functions (the query registry
reaches them) and dunders. A definition is reached when its name appears
as an identifier (a ``Name``, an ``Attribute`` or an import alias)
anywhere in the package, ``tools/``, ``bench.py``, ``perfbench/`` (not
its tests) or ``__spark_entry__.py``; docstrings and comments do not
count. ``ALLOWED`` names the exceptions with one reason each. An entry
that no longer exists or is now reached fails too, so the list cannot
outlive its reasons."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "enterprise_data_warehouse_spark"

# "<module path under the package>.<qualified name>": reason
ALLOWED = {
    "sources.seeds.load_csv_seed": "S4 dbt seed load (COVERAGE.md)",
    "sources.seeds.seed_to_table": "S4 dbt seed materialization (COVERAGE.md)",
    "sources.sink.write_with_audit": "S8+S12 single-pass write + audit (COVERAGE.md)",
    "sources.sink.incremental_build": "S9 dbt incremental model (COVERAGE.md)",
    "operators.scd2.scd2_integrity_violations":
        "the reference's validate_scd_integrity (COVERAGE.md)",
    "operators.facts.full_catalog_registry":
        "the reference's dbt layer DAG (COVERAGE.md)",
    "plans.catalog.build_scd2_dimension":
        "compiles a warehouse.yml `scd_type: 2` dimension spec (COVERAGE.md)",
    "plans.metrics.run_with_metrics":
        "the observability module of ROADMAP item 1 is built from it",
    "streaming.observe.progress_summary":
        "the observability module of ROADMAP item 1 is built from it",
    "streaming.stateful.UserFeatureCache.init":
        "StatefulProcessor callback: Spark calls it",
    "streaming.stateful.UserFeatureCache.handleInputRows":
        "StatefulProcessor callback: Spark calls it",
    "operators.chunking.ChunkDocument.eval": "Python UDTF callback: Spark calls it",
    "api.Warehouse.query_names": "public Warehouse API",
    "api.Warehouse.oracle_sql": "public Warehouse API",
    "api.Warehouse.cached_query": "public Warehouse API",
    "sources.bucketed.write_bucketed":
        "ext bucketed layout, SCALING.md's sf100 layout (ROADMAP item 6 open)",
    "sources.bucketed.colocated_join":
        "ext bucketed layout, SCALING.md's sf100 layout (ROADMAP item 6 open)",
    "operators.layout.zorder_write":
        "ext z-order write with a documented contract (ROADMAP item 6 open)",
    "operators.quality.write_with_quarantine":
        "ext contract gate + quarantine sink (ROADMAP item 6 open)",
    "sources.versioned.VersionedTable.erase":
        "ext right-to-be-forgotten erase (ROADMAP item 6 open)",
    "plans.result_cache.ResultCache.evict":
        "ext result-cache eviction (ROADMAP item 6 open)",
}


def _is_query(dec: ast.expr) -> bool:
    f = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(f, ast.Name) and f.id == "query") or (
        isinstance(f, ast.Attribute) and f.attr == "query"
    )


def _definitions() -> dict[str, tuple[str, str]]:
    """{dotted name: (short name, "file:line")} of every scanned def."""
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        where = path.relative_to(ROOT)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if not any(_is_query(d) for d in node.decorator_list):
                    out[f"{mod}.{node.name}"] = (
                        node.name, f"{where}:{node.lineno}")
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        out[f"{mod}.{node.name}.{m.name}"] = (
                            m.name, f"{where}:{m.lineno}")
    return {
        k: v for k, v in out.items()
        if not (v[0].startswith("__") and v[0].endswith("__"))
    }


def _identifiers() -> set[str]:
    files = [
        *PKG.rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        *(p for p in (ROOT / "perfbench").rglob("*.py")
          if "tests" not in p.relative_to(ROOT).parts),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    used = set()
    for path in files:
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Name):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
            elif isinstance(n, ast.alias):
                used.update(n.name.split("."))
                if n.asname:
                    used.add(n.asname)
    return used


def test_every_definition_is_reached_or_allowed():
    defs, used = _definitions(), _identifiers()
    unreached = [
        f"{where} {name}"
        for name, (short, where) in defs.items()
        if short not in used and name not in ALLOWED
    ]
    assert not unreached, (
        "defined in the package but reached only from tests (give each a "
        "caller, or delete it with its tests):\n  " + "\n  ".join(unreached)
    )


def test_allowlist_entries_exist_and_are_unreached():
    defs, used = _definitions(), _identifiers()
    gone = sorted(name for name in ALLOWED if name not in defs)
    reached = sorted(
        name for name in ALLOWED if name in defs and defs[name][0] in used
    )
    assert not gone and not reached, (
        f"stale ALLOWED entries: no longer defined {gone}; now reached "
        f"{reached}"
    )
