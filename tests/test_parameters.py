"""Every option has a caller, checked without a Spark session.

A parameter with a default is a setting a caller may change. One that
no caller ever changes is a fixed value dressed as an option: it is
one more dimension for tests and the benchmark to cover, and it never
changes an executed plan. The rule, for each function defined exactly
once by name under ``data_warehouse_project_spark/`` (a class's
``__init__`` goes by the class name): every defaulted parameter is
passed, by keyword, by position, or through ``*args``/``**kwargs``, at
some call of that name in the package, ``tests/``, ``scripts/``,
``perfbench/`` or ``bench.py``, with a value whose source text differs
from the default's."""

from __future__ import annotations

import ast
import glob
import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "data_warehouse_project_spark")
CALLERS = ("data_warehouse_project_spark", "tests", "scripts", "perfbench")


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _definitions() -> dict[str, list[tuple[ast.FunctionDef, bool]]]:
    """name -> [(definition, is_method)]; ``__init__`` is named by its
    class."""
    defs: dict[str, list] = defaultdict(list)
    for path in glob.glob(os.path.join(PACKAGE, "**", "*.py"),
                          recursive=True):
        tree = _parse(path)
        methods = {id(f): cls.name for cls in ast.walk(tree)
                   if isinstance(cls, ast.ClassDef) for f in cls.body
                   if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))}
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                cls = methods.get(id(node))
                name = cls if node.name == "__init__" and cls else node.name
                defs[name].append((node, cls is not None))
    return defs


def _defaulted(fn: ast.FunctionDef, is_method: bool):
    """[(parameter, positional index or None, default source)]."""
    a = fn.args
    positional = a.posonlyargs + a.args
    if is_method and not any(isinstance(d, ast.Name)
                             and d.id == "staticmethod"
                             for d in fn.decorator_list):
        positional = positional[1:]
    out = []
    for i, (arg, d) in enumerate(zip(positional[-len(a.defaults):]
                                     if a.defaults else [], a.defaults)):
        out.append((arg.arg, len(positional) - len(a.defaults) + i,
                    ast.unparse(d)))
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            out.append((arg.arg, None, ast.unparse(d)))
    return out


def _calls() -> dict[str, list[ast.Call]]:
    paths = [os.path.join(REPO, "bench.py")]
    for top in CALLERS:
        paths += glob.glob(os.path.join(REPO, top, "**", "*.py"),
                           recursive=True)
    calls: dict[str, list] = defaultdict(list)
    for path in paths:
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else (
                    f.attr if isinstance(f, ast.Attribute) else None)
                if name:
                    calls[name].append(node)
    return calls


def _varied(call: ast.Call, param: str, index: int | None,
            default: str) -> bool:
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return index is not None and index >= i
        if i == index:
            return ast.unparse(arg) != default
    for kw in call.keywords:
        if kw.arg is None:
            return True
        if kw.arg == param:
            return ast.unparse(kw.value) != default
    return False


def unvaried_parameters() -> tuple[int, list[str]]:
    """(count of defaulted parameters, the ones no caller varies)."""
    calls = _calls()
    total, unvaried = 0, []
    for name, found in sorted(_definitions().items()):
        if len(found) != 1:
            continue
        fn, is_method = found[0]
        for param, index, default in _defaulted(fn, is_method):
            total += 1
            if not any(_varied(c, param, index, default)
                       for c in calls.get(name, ())):
                unvaried.append(f"{name}({param}={default})")
    return total, unvaried


def test_every_defaulted_parameter_is_varied_by_a_caller():
    total, unvaried = unvaried_parameters()
    print(f"{total} defaulted parameters, {len(unvaried)} never varied")
    assert not unvaried, unvaried
