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
outlive its reasons.

The same walk guards the environment: the package may read only the
deployment settings in ``ENV_ALLOWED`` (``os.environ.get``,
``os.environ[...]``, ``os.getenv``). A tuning value is a constant in the
code, overridden through ``get_spark(extra_conf=)``, ``spark.conf.set`` or
a patch of the module name, not an environment knob that no caller sets.
A name passed in through a parameter is resolved from the module's calls
that pass it as a string literal."""

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


# environment variable: reason. Each is a deployment setting, not a tuning
# value.
ENV_ALLOWED = {
    "SPARK_MASTER": "the cluster master URL (session.py)",
    "SPARK_GRAFT_CPUS": "the local[N] core count (session.py)",
    "EDW_DRIVER_MEMORY": "the driver heap, sized to the host; perfbench "
                         "pins it (session.py)",
    "SPARK_GRAFT_SF_DIR": "where the source tables live (sources/tables.py)",
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


def _is_environ(n: ast.expr) -> bool:
    return (isinstance(n, ast.Attribute) and n.attr == "environ") or (
        isinstance(n, ast.Name) and n.id == "environ")


def _env_name_arg(node: ast.AST) -> ast.expr | None:
    """The variable-name argument of an environment read, else None."""
    if isinstance(node, ast.Call) and node.args:
        f = node.func
        if (isinstance(f, ast.Name) and f.id == "getenv") or (
            isinstance(f, ast.Attribute)
            and (f.attr == "getenv" or (f.attr == "get" and _is_environ(f.value)))
        ):
            return node.args[0]
    if (isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Load)
            and _is_environ(node.value)):
        return node.slice
    return None


def _resolve(arg: ast.expr, fn, calls: list[ast.Call]) -> list[str]:
    """The variable names ``arg`` can hold: a string literal, or a
    parameter of ``fn`` that the module's calls pass as literals."""
    if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
        return [arg.value]
    params = [a.arg for a in fn.args.args] if fn else []
    if isinstance(arg, ast.Name) and arg.id in params:
        i = params.index(arg.id)
        names = []
        for c in calls:
            callee = getattr(c.func, "id", getattr(c.func, "attr", None))
            if callee != fn.name:
                continue
            given = c.args[i] if i < len(c.args) else next(
                (k.value for k in c.keywords if k.arg == arg.id), None)
            if isinstance(given, ast.Constant) and isinstance(given.value, str):
                names.append(given.value)
        if names:
            return names
    return [f"<not a literal: {ast.unparse(arg)}>"]


def _env_reads() -> list[tuple[str, str]]:
    """(variable name, "file:line") of every environment read in the
    package."""
    out = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        calls = [n for n in ast.walk(tree) if isinstance(n, ast.Call)]
        where = path.relative_to(ROOT)

        def visit(node, fn):
            for child in ast.iter_child_nodes(node):
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    visit(child, child)
                    continue
                arg = _env_name_arg(child)
                if arg is not None:
                    out.extend((name, f"{where}:{child.lineno}")
                               for name in _resolve(arg, fn, calls))
                visit(child, fn)

        visit(tree, None)
    return out


def test_package_reads_only_allowed_env_vars():
    unlisted = sorted(
        f"{where} {name}" for name, where in _env_reads()
        if name not in ENV_ALLOWED
    )
    assert not unlisted, (
        "environment reads outside ENV_ALLOWED (make a tuning value a "
        "constant; list a deployment setting with its reason):\n  "
        + "\n  ".join(unlisted)
    )


def test_env_allowlist_entries_are_read():
    read = {name for name, _ in _env_reads()}
    stale = sorted(set(ENV_ALLOWED) - read)
    assert not stale, f"stale ENV_ALLOWED entries, no longer read: {stale}"
