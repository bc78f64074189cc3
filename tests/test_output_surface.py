"""Output-surface census: every top-level function, class and module
constant under tegola_spark/ is reached from an output path, or sits on
a short allow-list that says why it stays (what an allow-listed name
uses stays with it).

Roots are every non-test ``.py`` file outside the package (the
``queries()`` entry, bench, tools, perfbench) plus the public names of
``cli.py`` and ``streaming/*``. Reachability is transitive over AST
``Name``/``Attribute`` nodes only, so a name that appears only in a
docstring or a comment does not count. Every reference is qualified
before it counts: an attribute of a module alias (``wkb.encode``)
names that module's definition, a bare name bound by ``from ... import``
names the definition it was imported from (through re-exports), and
any other bare name names its own module's definition. A definition
is reached only through a reference qualified to it, so two modules'
same-named definitions (``wkt.encode`` vs ``wkb.encode``, a function
vs a same-named attribute such as ``args.tile_list``) never keep each
other alive. A module's import-time code runs, and is walked, once
reached code imports it.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "tegola_spark"

# module-qualified name -> why it stays although no output path runs it
ALLOW = {
    "tegola_spark.sources.corpus.geocoded_pages":
        "per-page reference that test_corpus_spark checks geocoded_points by",
    "tegola_spark.operators.mvt.decode_geometry_commands":
        "decodes emitted tiles for the tile and golden tests",
    "tegola_spark.operators.raster.rasterize_polygons":
        "raster side of the raster<->vector operator ROADMAP direction 7 "
        "builds on",
    "tegola_spark.functions.config.EnvDict":
        "typed config accessors; kept this round with their 53-case "
        "table, deletion queued in ROADMAP direction 12",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _modname(path: pathlib.Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _resolve(mod_name: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = mod_name.split(".")
    if not is_pkg:
        base = base[:-1]
    base = base[:len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


class _Module:
    def __init__(self, path: pathlib.Path, pkg_mods: set[str]):
        self.name = _modname(path)
        self.is_pkg = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs = {n.name: n for n in self.tree.body
                     if isinstance(n, _DEFS)}
        # module constants: their values run at import, so only the
        # name needs a reader
        self.consts = {t.id for n in self.tree.body
                       if isinstance(n, (ast.Assign, ast.AnnAssign))
                       for t in (n.targets if isinstance(n, ast.Assign)
                                 else [n.target])
                       if isinstance(t, ast.Name)
                       and not t.id.startswith("__")}
        # local name -> {(module, None) for a module alias,
        #                (module, name) for an imported name}, from every
        # import in the file (function-level imports included)
        self.binds: dict[str, set] = {}
        for n in ast.walk(self.tree):
            if isinstance(n, ast.Import):
                for a in n.names:
                    mod = a.name if a.asname else a.name.split(".")[0]
                    self.binds.setdefault(a.asname or mod, set()).add(
                        (mod, None))
            elif isinstance(n, ast.ImportFrom):
                base = _resolve(self.name, self.is_pkg, n)
                for a in n.names:
                    full = f"{base}.{a.name}"
                    self.binds.setdefault(a.asname or a.name, set()).add(
                        (full, None) if full in pkg_mods
                        else (base, a.name))

    def module_of(self, expr, pkg_mods: set[str]) -> set[str]:
        """Package modules an expression names (an alias, or an
        attribute chain of one such as ``tegola_spark.functions.wkb``)."""
        if isinstance(expr, ast.Name):
            return {m for m, d in self.binds.get(expr.id, ()) if d is None}
        if isinstance(expr, ast.Attribute):
            return {f"{m}.{expr.attr}"
                    for m in self.module_of(expr.value, pkg_mods)
                    if f"{m}.{expr.attr}" in pkg_mods}
        return set()


def _uses(nodes, m: _Module, pkg_mods: set[str]):
    """(qualified (module, name) references, imported module names) of
    the code under ``nodes`` in module ``m``."""
    refs, mods = set(), set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                if n.id in m.binds:
                    refs |= {t for t in m.binds[n.id] if t[1] is not None}
                else:
                    refs.add((m.name, n.id))
            elif isinstance(n, ast.Attribute):
                refs |= {(mod, n.attr)
                         for mod in m.module_of(n.value, pkg_mods)}
            elif isinstance(n, ast.Import):
                mods |= {a.name for a in n.names}
            elif isinstance(n, ast.ImportFrom):
                base = _resolve(m.name, m.is_pkg, n)
                mods.add(base)
                mods |= {f"{base}.{a.name}" for a in n.names}
    closed = set()
    for mod in mods:
        parts = mod.split(".")
        closed |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return refs, closed


def _target(modules: dict, mod: str, name: str, depth: int = 0):
    """The definition a qualified reference names, following
    re-exports (``from .x import f`` in ``mod``), or None."""
    m = modules.get(mod)
    if m is None or depth > 8:
        return None
    if name in m.defs or name in m.consts:
        return mod, name
    for tmod, tname in m.binds.get(name, ()):
        if tname is not None:
            hit = _target(modules, tmod, tname, depth + 1)
            if hit:
                return hit
    return None


def reach(extra_roots=()):
    """Walk every output path. Returns
    ``(modules, pkg_mods, reached, code)``: the package's parsed
    modules, their names, the reached ``(module, name)`` definitions
    and constants, and every ``(module, node)`` the walk ran — the root
    files, the import-time code of each imported package module, and
    the node of each reached definition. ``extra_roots``
    (module-qualified names) count as roots too."""
    paths = sorted(PKG.rglob("*.py"))
    pkg_mods = {_modname(p) for p in paths}
    modules = {m.name: m for m in (_Module(p, pkg_mods) for p in paths)}
    refs, mods, seen = set(), set(), set()
    reached: set[tuple[str, str]] = set()
    walked_mods: set[str] = set()
    code: list[tuple[_Module, ast.AST]] = []

    def use(nodes, m):
        code.extend((m, n) for n in nodes)
        r, md = _uses(nodes, m, pkg_mods)
        refs.update(r)
        mods.update(md)

    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT).parts
        if rel[0] in ("tegola_spark", "tests") or rel[0].startswith("."):
            continue
        root = _Module(path, pkg_mods)
        use([root.tree], root)
    for m in modules.values():
        if m.name == "tegola_spark.cli" or m.name.startswith(
                "tegola_spark.streaming"):
            mods.add(m.name)
            public = [d for d in m.defs if not d.startswith("_")]
            reached |= {(m.name, d) for d in public}
            use([m.defs[d] for d in public], m)
    for qual in extra_roots:
        mod, d = qual.rsplit(".", 1)
        mods.add(mod)
        reached.add((mod, d))
        use([modules[mod].defs[d]], modules[mod])

    changed = True
    while changed:
        changed = False
        for m in modules.values():
            if m.name in mods and m.name not in walked_mods:
                # import-time code: everything but def/class bodies
                walked_mods.add(m.name)
                top = [n for n in m.tree.body if not isinstance(n, _DEFS)]
                top += [d for n in m.defs.values() for d in n.decorator_list]
                use(top, m)
                changed = True
        for ref in refs - seen:
            seen.add(ref)
            hit = _target(modules, *ref)
            if hit is None or hit in reached:
                continue
            reached.add(hit)
            node = modules[hit[0]].defs.get(hit[1])
            if node is not None:
                use([node], modules[hit[0]])
            changed = True
    return modules, pkg_mods, reached, code


def census(extra_roots=()) -> set[str]:
    """Module-qualified top-level definitions that no root reaches."""
    modules, _, reached, _ = reach(extra_roots)
    return {f"{m.name}.{d}" for m in modules.values()
            for d in (*m.defs, *m.consts) if (m.name, d) not in reached}


def test_every_definition_is_on_an_output_path():
    dead = census(extra_roots=ALLOW) - set(ALLOW)
    assert not dead, (
        f"{len(dead)} top-level names under tegola_spark/ are reached from "
        "no output path (delete them, move test fixtures into tests/, or "
        "allow-list them with a reason):\n  " + "\n  ".join(sorted(dead)))


def test_allow_list_is_short_and_current():
    assert len(ALLOW) <= 4
    assert all(reason.strip() for reason in ALLOW.values())
    # every allow-listed name exists and still needs the exemption
    unreached = census()
    assert set(ALLOW) <= unreached, sorted(set(ALLOW) - unreached)
