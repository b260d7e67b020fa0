"""Static guards: every option of the engine has a caller.

A defaulted parameter of a module-level function or class method in
`mvrs_dspa_spark/` must be set by at least one call site somewhere in
the engine, the tests, the tools, the bench or the perfbench driver,
or it is a constant dressed as an option. A module-level function
must be referenced somewhere besides its own definition; `@register`
builders are exempt (the registry calls them).

Call sites are matched by callee name (constructors by class name), so
the check errs on the side of "set": a call passes a parameter by
keyword, by position (methods skip `self`/`cls`), or through `*args`
/ `**kwargs`. A keyword passed to a callable held in a plain variable
(`fn(spark, sf, df_cap=...)` over a parametrized builder) counts for
every parameter of that name. Pure AST, no Spark session.
"""

from __future__ import annotations

import ast
import builtins
import collections
import functools
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "mvrs_dspa_spark"
SEARCH = (
    PKG,
    ROOT / "tests",
    ROOT / "tools",
    ROOT / "perfbench",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
)


def _trees(paths):
    for p in paths:
        files = [p] if p.is_file() else sorted(p.rglob("*.py"))
        for f in files:
            yield f, ast.parse(f.read_text(), str(f))


def _decorated(fn, name: str) -> bool:
    for d in fn.decorator_list:
        t = d.func if isinstance(d, ast.Call) else d
        if getattr(t, "id", None) == name or getattr(t, "attr", None) == name:
            return True
    return False


@functools.cache
def _definitions():
    """(where, callee name, positional names, self offset, defaulted
    names) per function or method, and the module-level functions."""
    defs, funcs = [], []
    for path, tree in _trees([PKG]):
        rel = path.relative_to(ROOT).as_posix()

        def add(fn, callee, qual, method):
            a = fn.args
            pos = [p.arg for p in a.posonlyargs + a.args]
            dflt = pos[len(pos) - len(a.defaults):] if a.defaults else []
            dflt += [
                p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            off = int(method and not _decorated(fn, "staticmethod"))
            defs.append((f"{rel}::{qual}", callee, pos, off, dflt))

        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                add(node, node.name, node.name, False)
                funcs.append((f"{rel}::{node.name}", node))
            elif isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        callee = node.name if m.name == "__init__" else m.name
                        add(m, callee, f"{node.name}.{m.name}", True)
    return defs, funcs


@functools.cache
def _uses():
    """Calls by callee name, keywords passed to unbound callables, and
    a count of every name referenced."""
    calls = collections.defaultdict(list)
    loose, bound, refs = [], set(builtins.__dict__), collections.Counter()
    for _, tree in _trees(SEARCH):
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                bound.add(node.name)
            elif isinstance(node, ast.alias):
                bound.add((node.asname or node.name).split(".")[0])
            elif isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name:
                    calls[name].append(node)
                if isinstance(f, (ast.Name, ast.Subscript)):
                    loose.append(node)
            elif isinstance(node, ast.Name):
                refs[node.id] += 1
            elif isinstance(node, ast.Attribute):
                refs[node.attr] += 1
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                refs[node.value] += 1
    loose_kw = {
        k.arg
        for c in loose
        if not (isinstance(c.func, ast.Name) and c.func.id in bound)
        for k in c.keywords
        if k.arg
    }
    return calls, loose_kw, refs


def _sets(call: ast.Call, param: str, pos: list[str], off: int) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg is None or k.arg == param for k in call.keywords):
        return True
    return param in pos and pos.index(param) < len(call.args) + off


def test_every_defaulted_parameter_has_a_caller_that_sets_it():
    defs, _ = _definitions()
    calls, loose_kw, _ = _uses()
    never_set = [
        f"{where}({p})"
        for where, callee, pos, off, dflt in defs
        for p in dflt
        if p not in loose_kw
        and not any(_sets(c, p, pos, off) for c in calls.get(callee, ()))
    ]
    assert not never_set, (
        f"{len(never_set)} defaulted parameters no call site sets; inline "
        "the value or make it a module constant:\n" + "\n".join(never_set)
    )


def test_every_module_level_function_is_referenced():
    _, funcs = _definitions()
    _, _, refs = _uses()
    dead = [
        where
        for where, fn in funcs
        if not _decorated(fn, "register") and refs[fn.name] == 0
    ]
    assert not dead, (
        f"{len(dead)} module-level functions nothing references:\n"
        + "\n".join(dead)
    )
