"""Every import in a ``bern_spark`` module is used by that module.

Stdlib ``ast`` only: a name bound by ``import``/``from ... import`` (at
any depth, including function-local imports) must be read somewhere in
the same module, or be listed in its ``__all__``. Package ``__init__``
modules are skipped — their imports are re-exports.
"""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "bern_spark"
MODULES = sorted(p for p in PKG.rglob("*.py") if p.name != "__init__.py")


def _unused_imports(source: str) -> list[str]:
    tree = ast.parse(source)
    bound: dict[str, int] = {}
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                bound[a.asname or a.name] = node.lineno
        elif isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used.update(
                e.value for e in getattr(node.value, "elts", [])
                if isinstance(e, ast.Constant)
            )
    return sorted(f"{name} (line {line})" for name, line in bound.items() if name not in used)


def test_modules_have_no_unused_imports():
    found = {
        str(p.relative_to(PKG)): bad
        for p in MODULES
        if (bad := _unused_imports(p.read_text(encoding="utf-8")))
    }
    assert found == {}


def test_checker_flags_unused_and_accepts_used():
    src = (
        "import os\nimport os.path as osp\nfrom a import b, c as d\n"
        "def f():\n    from e import g\n    return os.sep, d\n"
        "__all__ = ['b']\n"
    )
    assert _unused_imports(src) == ["g (line 5)", "osp (line 2)"]
