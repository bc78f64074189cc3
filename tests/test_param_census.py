"""Parameter census: every parameter with a default, on every ``def``
under tegola_spark/ (methods and nested defs included), is set by some
call on an output path, or it is a constant in the body.

A call is on an output path when it sits in code that
``test_output_surface.reach`` walks from the roots (the non-test files
outside the package, and the public names of ``cli.py`` and
``streaming/*``). The callee is qualified the way that census qualifies
a reference: a module alias's attribute, a from-imported name through
re-exports, a nested def of an enclosing function, or a same-module
name. A class call is a call to its ``__init__``; ``partial(f, ...)``
is a call to ``f``; ``obj.name(...)`` on anything but a module or a
class is a call to every def of that name (a module held in an
attribute, such as perfbench's ``self.sj``, is such a call). A
parameter is set when a call passes it by keyword, or by position
(``*args`` sets every positional parameter). A ``**mapping`` into a
package def hides what it sets, so the census rejects one on an output
path.

Exempt are deployment settings (where output goes, what a run is
called, what a command runs with) and the definitions on
``test_output_surface.ALLOW``.
``ALLOW_TEST_SET`` holds the parameters that only a test sets, each
with the test module that sets it and why it stays. A test that needs
a path only a large input reaches (such as a capped LSH bucket) patches
the module constant the operator reads, not a parameter.
"""

from __future__ import annotations

import ast

from test_output_surface import ALLOW, ROOT, _Module, _target, reach

# where output goes, what a run is called, and what a command runs with
# (``cli.main``'s command line and Spark session)
DEPLOY = {"out_dir", "query_name", "argv", "spark"}

# "module.qualname:param" -> (test module that sets it, why it stays)
ALLOW_TEST_SET = {
    "tegola_spark.plans.pipeline.build_tiles:with_debug":
        ("test_debug_layer_spark", "tegola's debug provider; a golden "
         "pins its tiles"),
    "tegola_spark.plans.pipeline.build_tiles:default_tags":
        ("test_pipeline_spark", "tegola's default-tag merge; its "
         "fixture is tegola's"),
    "tegola_spark.plans.pipeline.build_tiles:simplify":
        ("test_simplify_mode", "Douglas-Peucker simplification, which "
         "the north star names"),
    "tegola_spark.operators.spatial_join.spatial_join:broadcast_polys":
        ("test_spatial_join_spark", "the shuffled join for a polygon "
         "side too large to broadcast"),
}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


class _Def:
    def __init__(self, mod: str, qual: str, node, in_class: bool):
        self.mod, self.qual, self.node = mod, qual, node
        a = node.args
        decos = {d.id for d in node.decorator_list
                 if isinstance(d, ast.Name)}
        # positional parameters a call's positional arguments fill
        self.pos = [p.arg for p in (*a.posonlyargs, *a.args)]
        if in_class and "staticmethod" not in decos:
            self.pos = self.pos[1:]
        pos_all = [*a.posonlyargs, *a.args]
        self.defaulted = [p.arg for p in pos_all[len(pos_all)
                                                 - len(a.defaults):]]
        self.defaulted += [p.arg for p, d in zip(a.kwonlyargs,
                                                 a.kw_defaults)
                           if d is not None]

    def key(self, param: str) -> str:
        return f"{self.mod}.{self.qual}:{param}"


def _collect_defs(m: _Module) -> dict[str, _Def]:
    """Every def in the module by qualified name (``f``, ``C.meth``,
    ``outer.inner``)."""
    out: dict[str, _Def] = {}

    def walk(node, prefix, in_class):
        for n in ast.iter_child_nodes(node):
            if isinstance(n, _FUNCS):
                q = prefix + n.name
                out[q] = _Def(m.name, q, n, in_class)
                walk(n, q + ".", False)
            elif isinstance(n, ast.ClassDef):
                walk(n, prefix + n.name + ".", True)
            else:
                walk(n, prefix, in_class)

    walk(m.tree, "", False)
    return out


class _Index:
    def __init__(self):
        self.modules, self.pkg_mods, _, self.code = reach(ALLOW)
        self.defs = {m: _collect_defs(mod)
                     for m, mod in self.modules.items()}
        self.classes = {(m, n.name) for m, mod in self.modules.items()
                        for n in mod.tree.body
                        if isinstance(n, ast.ClassDef)}

    def all_defs(self):
        for d in self.defs.values():
            yield from d.values()

    def _top(self, mod: str, name: str) -> list[_Def]:
        hit = _target(self.modules, mod, name)
        if hit is None:
            return []
        mod, name = hit
        if (mod, name) in self.classes:
            name += ".__init__"
        d = self.defs[mod].get(name)
        return [d] if d else []

    def callees(self, m: _Module, scopes: list[str], f) -> list[_Def]:
        """Package defs the call target ``f`` names, in module ``m``
        inside the enclosing functions ``scopes``."""
        local = self.defs.get(m.name, {})
        if isinstance(f, ast.Name):
            for s in reversed(scopes):
                if f"{s}.{f.id}" in local:
                    return [local[f"{s}.{f.id}"]]
            if f.id in m.binds:
                return [d for mod, name in m.binds[f.id]
                        if name is not None
                        for d in self._top(mod, name)]
            return self._top(m.name, f.id)
        if isinstance(f, ast.Attribute):
            mods = m.module_of(f.value, self.pkg_mods)
            if mods:
                return [d for mod in mods for d in self._top(mod, f.attr)]
            if isinstance(f.value, ast.Name):
                owner = self.callees(m, scopes, f.value)
                if owner and owner[0].qual.endswith(".__init__"):
                    cls = owner[0].qual[:-len("__init__")]
                    d = self.defs[owner[0].mod].get(cls + f.attr)
                    return [d] if d else []
            return [d for d in self.all_defs()
                    if d.qual.rsplit(".", 1)[-1] == f.attr
                    and f.attr != "__init__"]
        return []

    def calls(self, m: _Module, node):
        """``(callee, call, partial)`` for every call under ``node`` (a
        module, or a top-level def or class of ``m``) that names a
        package def."""

        def walk(n, scopes, prefix):
            if isinstance(n, ast.Call):
                f, partial = n.func, False
                if (isinstance(f, ast.Name) and f.id == "partial"
                        or isinstance(f, ast.Attribute)
                        and f.attr == "partial") and n.args:
                    f, partial = n.args[0], True
                for d in self.callees(m, scopes, f):
                    yield d, n, partial
            for c in ast.iter_child_nodes(n):
                if isinstance(c, _FUNCS):
                    yield from walk(c, scopes + [prefix + c.name],
                                    prefix + c.name + ".")
                elif isinstance(c, ast.ClassDef):
                    yield from walk(c, scopes, prefix + c.name + ".")
                else:
                    yield from walk(c, scopes, prefix)

        if isinstance(node, _FUNCS):
            for c in ast.iter_child_nodes(node):
                yield from walk(c, [node.name], node.name + ".")
        elif isinstance(node, ast.ClassDef):
            yield from walk(node, [], node.name + ".")
        else:
            yield from walk(node, [], "")


def _sets(d: _Def, call: ast.Call, partial: bool) -> set[str] | None:
    """Parameters of ``d`` the call sets, or None for a ``**`` forward."""
    if any(k.arg is None for k in call.keywords):
        return None
    args = call.args[1:] if partial else call.args
    if any(isinstance(a, ast.Starred) for a in args):
        out = set(d.pos)
    else:
        out = set(d.pos[:len(args)])
    return out | {k.arg for k in call.keywords}


def _exempt(d: _Def, param: str) -> bool:
    top = f"{d.mod}.{d.qual.split('.')[0]}"
    return param in DEPLOY or top in ALLOW


def scan():
    """``(defaulted, live, forwards, test_set)``: every defaulted
    parameter key, the keys an output path sets, the ``**`` forwards on
    output paths, and key -> test modules that set it."""
    ix = _Index()
    defaulted = {d.key(p): d for d in ix.all_defs() for p in d.defaulted}
    live, forwards = set(), []
    for m, node in ix.code:
        for d, call, partial in ix.calls(m, node):
            sets = _sets(d, call, partial)
            if sets is None:
                forwards.append(f"{m.name}:{call.lineno} -> {d.mod}.{d.qual}")
            else:
                live.update(d.key(p) for p in sets if p in d.defaulted)

    test_set: dict[str, set[str]] = {}
    for path in sorted((ROOT / "tests").glob("*.py")):
        tm = _Module(path, ix.pkg_mods)
        for d, call, partial in ix.calls(tm, tm.tree):
            for p in _sets(d, call, partial) or ():
                if p in d.defaulted:
                    test_set.setdefault(d.key(p), set()).add(path.stem)
    return defaulted, live, forwards, test_set


def test_every_defaulted_parameter_is_set_on_an_output_path():
    defaulted, live, forwards, test_set = scan()
    dead = sorted(k for k, d in defaulted.items()
                  if k not in live and k not in ALLOW_TEST_SET
                  and not _exempt(d, k.rsplit(":", 1)[1]))
    assert not forwards, (
        "a ** forward into a package def hides which parameters an "
        "output path sets; pass them by name:\n  " + "\n  ".join(forwards))
    assert not dead, (
        f"{len(dead)} of {len(defaulted)} defaulted parameters under "
        "tegola_spark/ are set by no output path (make each a constant "
        "and delete the branches only its other values select):\n  "
        + "\n  ".join(f"{k}  (tests: "
                      f"{', '.join(sorted(test_set.get(k, ()))) or '-'})"
                      for k in dead))


def test_test_set_allow_list_is_short_and_current():
    defaulted, live, _, test_set = scan()
    assert len(ALLOW_TEST_SET) <= 4
    for key, (test, reason) in ALLOW_TEST_SET.items():
        assert reason.strip(), key
        assert key in defaulted, f"{key} no longer exists"
        assert key not in live, f"{key} is set on an output path now"
        assert test in test_set.get(key, ()), (
            f"{key} is no longer set by {test}")
