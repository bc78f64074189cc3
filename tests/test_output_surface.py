"""Output-surface census: every top-level function, class and module
constant under tegola_spark/ is reached from an output path, or sits on
a short allow-list that says why it stays (what an allow-listed name
uses stays with it).

Roots are every non-test ``.py`` file outside the package (the
``queries()`` entry, bench, tools, perfbench) plus the public names of
``cli.py`` and ``streaming/*``. Reachability is transitive over AST
``Name``/``Attribute``/import nodes only, so a name that appears only in
a docstring or a comment does not count. It is module-aware: a
definition is reached only when its name is used by reached code AND
its module is imported by reached code, so a whole module that nothing
reached imports is dead even where its names collide with a live
module's (``wkt.encode`` vs ``wkb.encode``).
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
    "tegola_spark.operators.geometry.region_intersections":
        "reference clip-region tables; kept this round with their 23 "
        "cases, deletion queued in ROADMAP direction 12",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _modname(path: pathlib.Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


class _Module:
    def __init__(self, path: pathlib.Path):
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


def _resolve(mod_name: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = mod_name.split(".")
    if not is_pkg:
        base = base[:-1]
    base = base[:len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _uses(nodes, mod_name: str, is_pkg: bool):
    """(identifiers, imported module names) of the code under ``nodes``."""
    names, mods = set(), set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                names.add(n.id)
            elif isinstance(n, ast.Attribute):
                names.add(n.attr)
            elif isinstance(n, ast.Import):
                mods |= {a.name for a in n.names}
            elif isinstance(n, ast.ImportFrom):
                base = _resolve(mod_name, is_pkg, n)
                mods.add(base)
                for a in n.names:
                    names.add(a.name)
                    mods.add(f"{base}.{a.name}")
    closed = set()
    for m in mods:
        parts = m.split(".")
        closed |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return names, closed


def census(extra_roots=()) -> set[str]:
    """Module-qualified top-level definitions that no root reaches.
    ``extra_roots`` (module-qualified names) count as roots too."""
    modules = {m.name: m for m in map(_Module, sorted(PKG.rglob("*.py")))}
    names, mods = set(), set()
    reached: set[tuple[str, str]] = set()
    walked_mods: set[str] = set()

    def use(nodes, mod_name, is_pkg):
        n, m = _uses(nodes, mod_name, is_pkg)
        names.update(n)
        mods.update(m)

    for path in sorted(ROOT.rglob("*.py")):
        rel = path.relative_to(ROOT).parts
        if rel[0] in ("tegola_spark", "tests") or rel[0].startswith("."):
            continue
        use([ast.parse(path.read_text(), str(path))], _modname(path), False)
    for m in modules.values():
        if m.name == "tegola_spark.cli" or m.name.startswith(
                "tegola_spark.streaming"):
            mods.add(m.name)
            reached |= {(m.name, d) for d in m.defs if not d.startswith("_")}
            use([m.defs[d] for d in m.defs if not d.startswith("_")],
                m.name, m.is_pkg)
    for qual in extra_roots:
        mod, d = qual.rsplit(".", 1)
        mods.add(mod)
        reached.add((mod, d))
        use([modules[mod].defs[d]], mod, modules[mod].is_pkg)

    changed = True
    while changed:
        changed = False
        for m in modules.values():
            if m.name not in mods:
                continue
            if m.name not in walked_mods:
                # import-time code: everything but def/class bodies
                walked_mods.add(m.name)
                top = [n for n in m.tree.body if not isinstance(n, _DEFS)]
                top += [d for n in m.defs.values() for d in n.decorator_list]
                use(top, m.name, m.is_pkg)
                changed = True
            for d, node in m.defs.items():
                if (m.name, d) not in reached and d in names:
                    reached.add((m.name, d))
                    use([node], m.name, m.is_pkg)
                    changed = True
    return {f"{m.name}.{d}" for m in modules.values()
            for d in (*m.defs, *m.consts)
            if (m.name, d) not in reached
            and not (d in m.consts and m.name in mods and d in names)}


def test_every_definition_is_on_an_output_path():
    dead = census(extra_roots=ALLOW) - set(ALLOW)
    assert not dead, (
        f"{len(dead)} top-level names under tegola_spark/ are reached from "
        "no output path (delete them, move test fixtures into tests/, or "
        "allow-list them with a reason):\n  " + "\n  ".join(sorted(dead)))


def test_allow_list_is_short_and_current():
    assert len(ALLOW) <= 5
    assert all(reason.strip() for reason in ALLOW.values())
    # every allow-listed name exists and still needs the exemption
    unreached = census()
    assert set(ALLOW) <= unreached, sorted(set(ALLOW) - unreached)
