"""Broad-except census: no ``except Exception``, ``except
BaseException`` or bare ``except`` remains under tegola_spark/, not
even one that re-raises, so no error in the engine is swallowed,
turned into a default value or re-wrapped out of its own type.
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
    """No broad handler may exist at all; the name dates from when a
    handler that re-raised passed."""
    broad = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ExceptHandler) and _is_broad(node):
                broad.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not broad, "broad except handlers:\n  " + "\n  ".join(broad)
