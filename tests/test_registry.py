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
