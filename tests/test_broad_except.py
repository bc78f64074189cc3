"""Broad-except census: every ``except Exception``, ``except
BaseException`` or bare ``except`` under tegola_spark/ re-raises, so no
error in the engine is swallowed or turned into a default value.
Catching a narrow, named error (the one that means "absent") is the
way to tolerate a failure."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "tegola_spark"
_BROAD = {"Exception", "BaseException"}


def _is_broad(handler: ast.ExceptHandler) -> bool:
    t = handler.type
    if t is None:
        return True
    names = t.elts if isinstance(t, ast.Tuple) else [t]
    return any(isinstance(n, ast.Name) and n.id in _BROAD for n in names)


def test_every_broad_except_reraises():
    swallowing = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.ExceptHandler) and _is_broad(node)
                    and not isinstance(node.body[-1], ast.Raise)):
                swallowing.append(
                    f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not swallowing, (
        "broad except handlers that do not re-raise:\n  "
        + "\n  ".join(swallowing))
