"""Gate-order and package-layout checks.

The driver's correctness gate checks the first 50 entries of
__spark_entry__.queries().  registry.GATE_ORDER alone decides them:
load_all() returns those names first and every other name sorted after
them, whatever order the query modules were imported in.

The query modules under operators/ and streaming/ are one module per
domain.  Domains import each other at module level only, one way, and
each module imports on its own.  One module opens the package's one
wholetext reader.
"""

from __future__ import annotations

import ast
import concurrent.futures
import json
import pathlib
import re
import subprocess
import sys

import __spark_entry__
from bigbugdata_spark.registry import _QUERY_PACKAGES, GATE_ORDER

N_QUERIES = 221
N_ORACLES = 215


def test_gate_order_leads_and_every_gated_query_has_an_oracle():
    names = list(__spark_entry__.queries())
    oracles = __spark_entry__.oracle_sql()
    assert names[: len(GATE_ORDER)] == list(GATE_ORDER)
    assert len(GATE_ORDER) == 50
    missing = [n for n in GATE_ORDER if n not in oracles]
    assert not missing, f"gated queries without an oracle: {missing}"
    assert len(names) == N_QUERIES
    assert len(oracles) == N_ORACLES


# A query module imported before load_all() registers its queries first;
# the gate order must not depend on that.
_EARLY_IMPORT = """
import json
import re
import bigbugdata_spark.operators.tpch
import __spark_entry__
print(json.dumps(list(__spark_entry__.queries())[:50]))
"""


def test_gate_order_survives_an_early_module_import():
    out = subprocess.run(
        [sys.executable, "-c", _EARLY_IMPORT],
        capture_output=True,
        text=True,
        cwd=str(pathlib.Path(__file__).resolve().parents[1]),
        check=True,
        timeout=300,
    )
    assert json.loads(out.stdout.strip().splitlines()[-1]) == list(GATE_ORDER)


# --- package layout --------------------------------------------------------

_ROOT = pathlib.Path(__file__).resolve().parents[1]
_QUERY_MODULES = sorted(
    p
    for pkg in ("operators", "streaming")
    for p in (_ROOT / "bigbugdata_spark" / pkg).glob("*.py")
    if p.name != "__init__.py"
)


def _dotted(path: pathlib.Path) -> str:
    return f"bigbugdata_spark.{path.parent.name}.{path.stem}"


def _query_imports(node: ast.AST) -> list[str]:
    """Modules under operators/ or streaming/ that `node` imports."""
    if isinstance(node, ast.ImportFrom) and node.module:
        mods = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
    elif isinstance(node, ast.Import):
        mods = [a.name for a in node.names]
    else:
        return []
    return [m for m in mods if m.startswith(tuple(p + "." for p in _QUERY_PACKAGES))]


def test_no_function_imports_a_sibling_query_module():
    found = []
    for path in _QUERY_MODULES:
        for fn in ast.walk(ast.parse(path.read_text())):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    if _query_imports(node):
                        found.append(f"{_dotted(path)}:{node.lineno} in {fn.name}")
    assert not found, f"function-local sibling imports: {found}"


def _top_level_bindings(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names += [(a.asname or a.name).split(".")[0] for a in node.names]
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names += [n for t in targets for n in _target_names(t)]
    return names


def _target_names(target: ast.expr) -> list[str]:
    """Names an assignment target binds; `f.__doc__ = ...` binds none."""
    if isinstance(target, ast.Name):
        return [target.id]
    if isinstance(target, (ast.Tuple, ast.List)):
        return [n for t in target.elts for n in _target_names(t)]
    if isinstance(target, ast.Starred):
        return _target_names(target.value)
    return []


def test_no_query_module_binds_a_top_level_name_twice():
    twice = {}
    for path in _QUERY_MODULES:
        names = _top_level_bindings(ast.parse(path.read_text()))
        dup = sorted({n for n in names if names.count(n) > 1})
        if dup:
            twice[_dotted(path)] = dup
    assert not twice, f"top-level names bound twice (later ones shadow): {twice}"


def test_query_module_imports_are_acyclic():
    graph = {_dotted(path): set() for path in _QUERY_MODULES}
    for path in _QUERY_MODULES:
        for node in ast.parse(path.read_text()).body:
            graph[_dotted(path)].update(m for m in _query_imports(node) if m in graph)
    done: set[str] = set()

    def visit(mod: str, stack: tuple[str, ...]) -> None:
        assert mod not in stack, f"import cycle: {' -> '.join(stack + (mod,))}"
        if mod not in done:
            for dep in sorted(graph[mod]):
                visit(dep, stack + (mod,))
            done.add(mod)

    for mod in graph:
        visit(mod, ())


def test_each_query_module_imports_on_its_own():
    failed = {}
    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as pool:
        runs = {
            mod: pool.submit(
                subprocess.run,
                [sys.executable, "-c", f"import {mod}"],
                capture_output=True,
                text=True,
                cwd=str(_ROOT),
                timeout=300,
            )
            for mod in map(_dotted, _QUERY_MODULES)
        }
        for mod, run in runs.items():
            proc = run.result()
            if proc.returncode:
                failed[mod] = proc.stderr.strip().splitlines()[-1:]
    assert not failed, f"modules that fail to import alone: {failed}"


def test_one_wholetext_reader():
    """Every kraken command reads its text through
    sources.kraken_reports.read_lines_ordered: that module names the
    wholetext option once, and no other module names it."""
    found = {}
    for path in sorted((_ROOT / "bigbugdata_spark").rglob("*.py")):
        n = sum(
            isinstance(node, ast.Constant) and node.value == "wholetext"
            for node in ast.walk(ast.parse(path.read_text()))
        )
        if n:
            found[str(path.relative_to(_ROOT))] = n
    assert found == {"bigbugdata_spark/sources/kraken_reports.py": 1}


# --- reachability ----------------------------------------------------------

#: whole files whose code is reached: the CLI, the class-archive builder,
#: the driver entry, bench.py and the benchmark of record
_REACH_ROOTS = (
    "bigbugdata_spark/cli.py",
    "bigbugdata_spark/class_archive.py",
    "__spark_entry__.py",
    "bench.py",
    "perfbench",
)

#: top-level definitions that no query, CLI command or benchmark reaches,
#: kept for the reason each group names
_UNREACHED_KEPT = {
    # reference twins: tests compare registered streaming queries to them
    "twins": (
        "streaming.events.batch_click_attribution",
        "streaming.events.batch_dedup_events",
        "streaming.events.batch_enriched_totals",
        "streaming.events.batch_user_lifecycle",
    ),
    # test infrastructure: the SQL-surface gate, the plan audits, and the
    # restart tests of registered queries on ROCKSDB_STATE_STORE_CONF
    "test infrastructure": (
        "catalog.register_views",
        "plans.inspect.read_columns",
        "plans.inspect.has_broadcast_join",
        "streaming.core.rocksdb_state_store",
    ),
    # maintenance APIs whose crash-safe publishing the tests prove
    "maintenance": (
        "operators.dedup_incr.append_batch_to_index",
        "operators.dedup_incr.append_batch_to_lsh_index",
        "operators.dedup_incr.append_bucketed",
        "operators.dedup_incr.begin_append_intent",
        "operators.dedup_incr.commit_append_intent",
        "operators.events.append_batch_to_rollup",
        "sources.partitioned.compact_partitions",
        "sources.versioned.compact_versioned",
        "sources.versioned.pin_version",
        "sources.versioned.unpin_version",
        "sources.versioned.versions",
    ),
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _parsed(path: pathlib.Path) -> tuple[ast.Module, set[int]]:
    """The module and the ids of its docstring nodes."""
    tree = ast.parse(path.read_text())
    docs = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, *_DEFS))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    return tree, docs


def _used_names(node: ast.AST, docs: set[int]) -> set[str]:
    """Names the code uses: identifiers, attributes and the words of its
    strings.  Docstrings and comments name nothing; an import binds a
    name but uses none."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in docs:
            out.update(re.findall(r"\w+", n.value))
    return out


def _registers(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in getattr(node, "decorator_list", ())
    )


def test_only_kept_definitions_lack_a_caller():
    """Every top-level definition in the package is reached from a
    registered query, module-level code or a _REACH_ROOTS file, or is
    kept on purpose in _UNREACHED_KEPT.  A name reaches every definition
    it names."""
    pkg = _ROOT / "bigbugdata_spark"
    roots = [_ROOT / r for r in _REACH_ROOTS]
    files = [p for r in roots for p in ([r] if r.suffix else sorted(r.rglob("*.py")))]
    candidates: dict[str, list[tuple[str, ast.AST, set[int]]]] = {}
    used: set[str] = set()
    for path in sorted({*pkg.rglob("*.py"), *files}):
        tree, docs = _parsed(path)
        candidate = path.is_relative_to(pkg) and path not in roots
        for node in tree.body:
            if candidate and isinstance(node, _DEFS) and not _registers(node):
                qual = ".".join((*path.relative_to(pkg).with_suffix("").parts, node.name))
                candidates.setdefault(node.name, []).append((qual, node, docs))
            else:
                used |= _used_names(node, docs)
    done: set[str] = set()
    while used - done:
        name = (used - done).pop()
        done.add(name)
        for _, node, docs in candidates.pop(name, ()):
            used |= _used_names(node, docs)
    unreached = {q for defs in candidates.values() for q, _, _ in defs}
    kept = {q for group in _UNREACHED_KEPT.values() for q in group}
    assert not unreached - kept, f"only tests reach: {sorted(unreached - kept)}"
    assert not kept - unreached, f"kept but reached or gone: {sorted(kept - unreached)}"
