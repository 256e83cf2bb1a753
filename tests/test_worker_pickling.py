"""Static guard: worker-side closures must not reference module-level
package functions as free globals.

cloudpickle serializes a nested (closure) function by VALUE, but any
module-level function it references as a free global is pickled BY
REFERENCE (module name + qualname) — and the executor worker then
fails at UNPICKLE time with ModuleNotFoundError whenever its
cwd/sys.path cannot import the package (any library user running from
outside the repo dir; Spark workers do not inherit the driver's
sys.path edits). r18 found exactly this live: the r17 bucket-occupancy
guard ``_check_worker_bucket`` was called from the two GEMM
``applyInPandas`` closures, so ``sim_hard_negatives`` (and every
banded/bucketed GEMM consumer) crashed from a non-repo cwd while
passing in the repo-cwd driver and sweeps. The fix pattern is the
worker-side import with the captured ``pkg_root`` fallback (see
``key_rows`` in operators/similarity.py).

This test walks every module that hands functions to applyInPandas /
mapInPandas / applyInPandasWithState / transformWithStateInPandas,
resolves the handed-over name to its (nested) def, and asserts the
def's free names never collide with module-level function defs of the
same module. A full-catalog execution check from a non-repo cwd backs
this statically pinned property (r18: 182/182 clean from /tmp).
"""

from __future__ import annotations

import ast
import os

import pytest

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "wikidata_to_surrealdb_spark",
)

WORKER_SINKS = {
    "applyInPandas",
    "mapInPandas",
    "applyInPandasWithState",
    "transformWithStateInPandas",
}


def _module_files():
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(root, f)


def _local_names(fn: ast.AST) -> set[str]:
    """Names bound inside the function: args, assignments, imports,
    nested defs, comprehension targets — anything NOT a free global."""
    bound: set[str] = set()

    class V(ast.NodeVisitor):
        def visit_FunctionDef(self, node):
            bound.add(node.name)
            for a in (
                node.args.args
                + node.args.posonlyargs
                + node.args.kwonlyargs
            ):
                bound.add(a.arg)
            if node.args.vararg:
                bound.add(node.args.vararg.arg)
            if node.args.kwarg:
                bound.add(node.args.kwarg.arg)
            self.generic_visit(node)

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Name(self, node):
            if isinstance(node.ctx, (ast.Store, ast.Del)):
                bound.add(node.id)

        def visit_Import(self, node):
            for alias in node.names:
                bound.add((alias.asname or alias.name).split(".")[0])

        def visit_ImportFrom(self, node):
            for alias in node.names:
                bound.add(alias.asname or alias.name)

    V().visit(fn)
    return bound


def _loaded_names(fn: ast.AST) -> set[str]:
    return {
        n.id
        for n in ast.walk(fn)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    }


def _worker_fn_names(tree: ast.Module) -> set[str]:
    """Function names handed to a worker sink anywhere in the module."""
    out = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in WORKER_SINKS
        ):
            for arg in node.args:
                if isinstance(arg, ast.Name):
                    out.add(arg.id)
    return out


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read())


# only the modules that hand a function to a worker sink
SINK_MODULES = sorted(p for p in _module_files() if _worker_fn_names(_parse(p)))


def test_worker_sink_modules_found():
    assert SINK_MODULES, "no module hands a function to a worker sink"


@pytest.mark.parametrize(
    "path", SINK_MODULES, ids=lambda p: os.path.relpath(p, PKG)
)
def test_worker_closures_have_no_module_function_free_globals(path):
    tree = _parse(path)
    module_fns = {
        n.name for n in tree.body if isinstance(n, ast.FunctionDef)
    }
    worker_names = _worker_fn_names(tree)
    offenders = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.FunctionDef)
            and node.name in worker_names
        ):
            free = _loaded_names(node) - _local_names(node)
            hits = sorted(free & module_fns)
            if hits:
                offenders.append((node.name, node.lineno, hits))
    assert not offenders, (
        "worker closures reference module-level functions as free "
        "globals (pickled BY REFERENCE -> ModuleNotFoundError at "
        "executor unpickle from a non-repo cwd); use the worker-side "
        f"pkg_root fallback import instead: {offenders}"
    )
