"""Checks on the queries package as code: where gate fixtures live and
when they are deleted (`_util.fixture_dir`), and module-level names
that a later statement would silently rebind."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

import etl_gcp_function_tmabrasil_spark

PKG = Path(etl_gcp_function_tmabrasil_spark.__file__).parent
REPO = PKG.parent

#: Child process: make the fixture root, write one file into it, and
#: print the root. With FORK set it first forks a child that exits
#: normally (running the inherited atexit handler) and checks that the
#: file survived it.
_CHILD = r"""
import os, sys
from etl_gcp_function_tmabrasil_spark.queries._util import fixture_dir

d = fixture_dir("/data/sf0.01", "probe")
os.makedirs(d)
open(os.path.join(d, "f"), "w").close()
if os.environ.get("FORK"):
    pid = os.fork()
    if pid == 0:
        sys.exit(0)
    os.waitpid(pid, 0)
    assert os.path.isfile(os.path.join(d, "f")), "forked child deleted the root"
print(os.path.dirname(os.path.dirname(d)))
"""


def _run_child(**env) -> str:
    out = subprocess.run(
        [sys.executable, "-c", _CHILD],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": str(REPO), **env},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    root = out.stdout.strip().splitlines()[-1]
    assert os.path.basename(root).startswith("spark_graft_"), root
    return root


def test_fixture_root_is_removed_when_the_process_exits():
    assert not os.path.exists(_run_child())


def test_forked_child_exit_leaves_the_parents_root():
    """The cleanup registered by the parent also runs when a forked
    child exits; under the child's pid it must delete nothing (the
    child process asserts the file survived), and the parent's own
    exit still removes the root."""
    assert not os.path.exists(_run_child(FORK="1"))


def _calls(attr: str):
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                if getattr(f, "attr", getattr(f, "id", None)) == attr:
                    yield path.relative_to(PKG).as_posix()


def test_mkdtemp_is_called_only_by_fixture_dir():
    """One per-process scratch root: a second `mkdtemp` in the package
    would be a root that `fixture_dir`'s exit handler never deletes."""
    assert list(_calls("mkdtemp")) == ["queries/_util.py"]


def _module_bindings(tree: ast.Module):
    def names(target):
        if isinstance(target, ast.Name):
            return [target.id]
        if isinstance(target, (ast.Tuple, ast.List)):
            return [n for e in target.elts for n in names(e)]
        if isinstance(target, ast.Starred):
            return names(target.value)
        return []

    for node in tree.body:
        if isinstance(node, ast.Assign):
            for t in node.targets:
                for n in names(t):
                    yield n, node.lineno
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            for n in names(node.target):
                yield n, node.lineno
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                yield (a.asname or a.name).split(".")[0], node.lineno


def test_no_module_level_name_is_bound_twice_in_queries():
    """A second binding of a module-level name (an oracle SQL constant,
    say) makes every reader depend on statement order: a dict built
    between the two bindings sees the first value, a later lookup the
    second. `QUERIES[...] = ...` item assignments are not bindings."""
    twice = []
    for path in sorted((PKG / "queries").glob("*.py")):
        seen: dict[str, int] = {}
        for name, line in _module_bindings(ast.parse(path.read_text())):
            if name in seen:
                twice.append(f"{path.name}: {name} at {seen[name]} and {line}")
            seen.setdefault(name, line)
    assert twice == []
