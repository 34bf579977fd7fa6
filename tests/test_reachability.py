"""Every package module and public definition has a production caller or
a named reason.

The production roots are the driver adapter (``__spark_entry__.py``),
``bench.py``, ``demo.py``, the nightly CLI, every query module
``registry.load_all_query_modules`` imports, and ``perfbench/*.py``.
Scripts and tests are not roots: code that only they reach is a second
path unless a reason below says otherwise (ROADMAP aim 2, direction 13).

The walk is a stdlib ``ast`` pass: it sees lazy in-function imports too,
and it never imports the package.

* Module rule: each non-empty package module is import-reachable from a
  root, or it is in ``ALLOWED_MODULES``.
* Definition rule: each public top-level function or class of a reached
  or allowlisted module is named by one of those modules or a root,
  outside its own body (as a ``Name``, an ``Attribute`` or an import
  alias), or is registered with ``@query``, or is in ``ALLOWED_DEFS``.
  An allowlisted module's reason therefore does not cover a second
  entry point added to it later.
* Stale rule: an allowlist entry that is now reached or referenced, or
  no longer exists, fails. The lists only shrink.

Every reason names the COVERAGE.md or SURVEY.md row the code
implements, the ROADMAP direction that will wire it, or the tests and
scripts that compare against it as a reference.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "e2e_stock_data_pipeline_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py", "demo.py", f"{PKG}/cli.py")
ROOT_GLOBS = ("perfbench/*.py",)

# Module keys are paths inside the package without ``.py``.
ALLOWED_MODULES = {
    "operators/interval": "COVERAGE 'Chunked interval/range join' row",
    "operators/multimodal": "COVERAGE 'Multimodal binary columns' row (SURVEY §2.12)",
    "operators/quality": "ROADMAP direction 14 runs the suite in normalize_prices",
    "operators/skew": "COVERAGE 'Skew: salted join' and 'Skew: two-phase agg' rows",
    "pipeline/versioned": "ROADMAP direction 8 commits silver through its manifest",
    "plans/oracle": "reference: the DuckDB comparison of tier-1 parity and the scripts",
    "plans/spark_sql": "COVERAGE 'Dual query surface' row",
    "sources/bucketing": "COVERAGE 'Bucketed co-located joins' row",
    "streaming/join": "COVERAGE 'Stream-stream join' row",
    "streaming/listener": "ROADMAP direction 5 installs it as the streaming progress record",
    "streaming/stateful": "COVERAGE §2.10 stateful stats and 'Streaming CUSUM detector' rows",
    "streaming/windows": "COVERAGE §2.10 T8 streaming dedup and [EXT] tumbling windows",
}

# Definition keys are ``module:name``.
ALLOWED_DEFS = {
    "functions/calendar:last_n_trading_days": "COVERAGE C11 trading calendar row (SURVEY C11)",
    "functions/calendar:trading_days_between": "COVERAGE C11 trading calendar row (SURVEY C11)",
    "operators/interval:interval_join": "COVERAGE 'Chunked interval/range join' row",
    "operators/multimodal:extract_features": "COVERAGE 'Multimodal binary columns' row",
    "operators/multimodal:frame_sample": "COVERAGE 'Multimodal binary columns' row",
    "operators/multimodal:png_metadata": "COVERAGE 'PNG/WAV container header parse' row",
    "operators/multimodal:wav_metadata": "COVERAGE 'PNG/WAV container header parse' row",
    "operators/quality:audit_suite": "ROADMAP direction 14 (COVERAGE P5 row)",
    "operators/quality:run_suite": "ROADMAP direction 14 (COVERAGE P4 and P5 rows)",
    "operators/skew:salted_join": "COVERAGE 'Skew: salted join' row",
    "operators/skew:two_phase_agg": "COVERAGE 'Skew: two-phase agg' row",
    "pipeline/maintenance:cluster_rewrite": "COVERAGE §2.11 M1 ZORDER row",
    "pipeline/maintenance:pruned_scan": "COVERAGE 'Data-skipping scan for plain parquet' row",
    "pipeline/maintenance:skipping_effectiveness": "COVERAGE 'Table stats + data-skipping effectiveness metric' row",
    "pipeline/maintenance:zorder_rewrite": "COVERAGE 'Morton Z-order clustering' row",
    "pipeline/metrics:read_run_metrics": "COVERAGE K5 JSON run-metrics sink row (its reader)",
    "pipeline/versioned:changes_between": "ROADMAP direction 8 (COVERAGE §2.10 T6 row)",
    "pipeline/versioned:write_version": "ROADMAP direction 8 (COVERAGE §2.11 M4 row)",
    "plans/oracle:aggregate_form": "reference: plans/oracle's compare above COLLECT_LIMIT",
    "plans/oracle:duckdb_result": "reference: plans/oracle's DuckDB side",
    "plans/oracle:sf_dir_for": "reference: plans/oracle (COVERAGE 'Cross-sf sweep honors pinned_sf_dir' row)",
    "plans/oracle:spark_result": "reference: plans/oracle's Spark side",
    "plans/queries_ext6:naive_window_keep": "reference: the naive keep bucketed_group_keep is property-tested against",
    "plans/queries_ext8:pagerank_plan": "reference: q144's oracle-form unroll graph.pagerank is tested against",
    "sources/bucketing:write_bucketed": "COVERAGE 'Bucketed co-located joins' row",
    "sources/tables:register_temp_views": "COVERAGE S6 and K6 rows",
    "streaming/bronze:evolve_schema": "COVERAGE §2.10 T4 schema evolution",
    "streaming/bronze:rescue_schema": "COVERAGE S5 rescue row (SURVEY T4)",
    "streaming/join:stream_stream_join": "COVERAGE 'Stream-stream join' row",
    "streaming/late:route_late_events": "COVERAGE 'Late-data quarantine + watermark policy matrix' row",
    "streaming/listener:ProgressMetricsListener": "ROADMAP direction 5 (COVERAGE 'Streaming observability' row)",
    "streaming/stateful:running_user_stats": "COVERAGE §2.10 applyInPandasWithState stateful stats",
    "streaming/stateful:streaming_cusum": "COVERAGE 'Streaming CUSUM detector' row",
    "streaming/windows:streaming_dedup": "COVERAGE §2.10 T8 streaming dedup",
    "streaming/windows:tumbling_counts": "COVERAGE §2.10 [EXT] tumbling windows",
}

DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _resolve(parts: list[str], modules: dict[str, Path]) -> str | None:
    key = "/".join(parts)
    if key in modules:
        return key
    init = "/".join(parts + ["__init__"])
    return init if init in modules else None


def _with_parents(keys, modules: dict[str, Path]) -> set[str]:
    """``keys`` plus the package ``__init__`` modules Python runs first."""
    out = set(keys)
    for key in keys:
        parts = key.split("/")[:-1]
        out.update(
            init
            for i in range(len(parts) + 1)
            if (init := "/".join(parts[:i] + ["__init__"])) in modules
        )
    return out


def imports_of(node: ast.AST, key: str | None, pkg: str, modules: dict[str, Path]) -> set[str]:
    """Package modules imported anywhere under ``node``. ``key`` is the
    importing module, or None for a file outside the package."""
    found: set[str] = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Import):
            targets = [(a.name.split("."), []) for a in sub.names]
        elif isinstance(sub, ast.ImportFrom):
            mod = sub.module.split(".") if sub.module else []
            if sub.level:
                if key is None:
                    continue
                here = key.split("/")[:-1]
                mod = [pkg] + here[: len(here) - sub.level + 1] + mod
            targets = [(mod, [a.name for a in sub.names])]
        else:
            continue
        for dotted, names in targets:
            if dotted[:1] != [pkg] or (base := _resolve(dotted[1:], modules)) is None:
                continue
            found.add(base)
            found.update(
                m for n in names if (m := _resolve(dotted[1:] + [n], modules)) is not None
            )
    return _with_parents(found, modules)


def walk(repo: Path, pkg: str, root_files, root_globs=()):
    """Returns (package modules, reached module keys, parsed trees). Trees
    of reached modules are keyed by module key, roots outside the
    package by their path."""
    pkg_dir = repo / pkg
    modules = {
        p.relative_to(pkg_dir).with_suffix("").as_posix(): p for p in sorted(pkg_dir.rglob("*.py"))
    }
    trees: dict[str, ast.AST] = {}
    pending: set[str] = set()
    paths = [repo / f for f in root_files] + [p for g in root_globs for p in sorted(repo.glob(g))]
    for path in paths:
        if pkg_dir in path.parents:
            pending.add(path.relative_to(pkg_dir).with_suffix("").as_posix())
        else:
            tree = trees[path.relative_to(repo).as_posix()] = ast.parse(path.read_text())
            pending |= imports_of(tree, None, pkg, modules)
    if "plans/registry" in modules:
        registry = ast.parse(modules["plans/registry"].read_text())
        for node in registry.body:
            if isinstance(node, ast.FunctionDef) and node.name == "load_all_query_modules":
                pending |= imports_of(node, "plans/registry", pkg, modules)
    pending = _with_parents(pending, modules)
    reached: set[str] = set()
    while pending:
        key = pending.pop()
        reached.add(key)
        trees[key] = ast.parse(modules[key].read_text())
        pending |= imports_of(trees[key], key, pkg, modules) - reached
    return modules, reached, trees


def _registered(node: ast.AST) -> bool:
    for dec in node.decorator_list:
        func = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(func, "id", None) == "query" or getattr(func, "attr", None) == "query":
            return True
    return False


def referenced_names(trees) -> set[str]:
    """Every Name, Attribute and import alias the trees use, except a
    top-level definition's use of its own name."""
    out: set[str] = set()
    for tree in trees:
        for stmt in tree.body:
            names: set[str] = set()
            for sub in ast.walk(stmt):
                if isinstance(sub, ast.Name):
                    names.add(sub.id)
                elif isinstance(sub, ast.Attribute):
                    names.add(sub.attr)
                elif isinstance(sub, ast.alias):
                    names.update(sub.name.split("."))
            if isinstance(stmt, DEFS):
                names.discard(stmt.name)
            out |= names
    return out


def problems(repo: Path, pkg: str, root_files, root_globs, allowed_modules, allowed_defs) -> list[str]:
    modules, reached, trees = walk(repo, pkg, root_files, root_globs)
    out = []
    for key, path in modules.items():
        if key not in reached and key not in allowed_modules and path.read_text().strip():
            out.append(f"unreached module {key}")
    for key in allowed_modules:
        if key not in modules:
            out.append(f"stale allowlist entry {key}: no such module")
        elif key in reached:
            out.append(f"stale allowlist entry {key}: now reached")

    checked = reached | (set(allowed_modules) & set(modules))
    for key in checked - reached:
        trees[key] = ast.parse(modules[key].read_text())
    used = referenced_names(trees.values())
    defs = {
        f"{key}:{stmt.name}": stmt
        for key in sorted(checked)
        for stmt in trees[key].body
        if isinstance(stmt, DEFS) and not stmt.name.startswith("_")
    }
    live = {k for k, node in defs.items() if node.name in used or _registered(node)}
    out += [f"unreferenced definition {k}" for k in defs if k not in live | set(allowed_defs)]
    for key in allowed_defs:
        if key not in defs:
            out.append(f"stale allowlist entry {key}: no such definition")
        elif key in live:
            out.append(f"stale allowlist entry {key}: now referenced")
    return out


def test_every_module_and_definition_has_a_caller_or_a_reason():
    found = problems(REPO, PKG, ROOT_FILES, ROOT_GLOBS, ALLOWED_MODULES, ALLOWED_DEFS)
    assert not found, "\n".join(found)


def test_every_reason_names_a_row_a_direction_or_a_reference():
    reason = re.compile(r"COVERAGE|SURVEY|ROADMAP direction \d+|^reference: ")
    for key, why in {**ALLOWED_MODULES, **ALLOWED_DEFS}.items():
        assert reason.search(why), f"{key}: {why!r}"


def test_the_walk_reports_what_it_should(tmp_path):
    """A three-module package: the rules fire, not only pass on the tree."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (tmp_path / "root.py").write_text("from pkg.a import helper\n\nhelper()\n")
    (pkg / "a.py").write_text(
        "from .b import query, used\n\n"
        "def helper():\n    return used()\n\n"
        "def unused():\n    return 1\n\n"
        "def recursive(n):\n    return recursive(n - 1) if n else 0\n\n"
        "@query('q1', oracle='SELECT 1')\ndef registered(spark, sf_dir):\n    return None\n"
    )
    (pkg / "b.py").write_text(
        "def query(name, oracle):\n    return lambda fn: fn\n\n"
        "def used():\n    def lazy():\n        from . import c\n    return 0\n"
    )
    (pkg / "c.py").write_text("def reached_lazily():\n    return 0\n")
    (pkg / "d.py").write_text("def orphan():\n    return 0\n")

    def check(allowed_modules, allowed_defs):
        return set(problems(tmp_path, "pkg", ("root.py",), (), allowed_modules, allowed_defs))

    assert check({}, {}) == {
        "unreached module d",
        "unreferenced definition a:unused",
        "unreferenced definition a:recursive",
        "unreferenced definition c:reached_lazily",
    }
    assert check(
        {"d": "r", "b": "r", "gone": "r"},
        {"a:unused": "r", "a:helper": "r", "a:gone": "r", "c:reached_lazily": "r", "d:orphan": "r"},
    ) == {
        "stale allowlist entry b: now reached",
        "stale allowlist entry gone: no such module",
        "stale allowlist entry a:helper: now referenced",
        "stale allowlist entry a:gone: no such definition",
        "unreferenced definition a:recursive",
    }
