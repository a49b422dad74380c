"""No module under ``bern_spark/operators/`` knows the lineage store.

The stage-cut policy is chosen once, by the caller (``resolve_entities``),
and reaches an operator only as a ``cut`` function. Stdlib ``ast`` only:
an operator module may not import ``bern_spark.lineage`` nor use the
store's names (``lineage_store``, ``read_manifest``, ``run_stage``) as a
variable, parameter, keyword or attribute.
"""

import ast
import pathlib

OPS = pathlib.Path(__file__).resolve().parent.parent / "bern_spark" / "operators"
STORE_NAMES = {"lineage_store", "read_manifest", "run_stage"}


def _store_refs(source: str) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            mods = [base] + [f"{base}.{a.name}".lstrip(".") for a in node.names]
        else:
            mods = []
        found += [f"import {m} (line {node.lineno})" for m in mods if m.split(".")[-1] == "lineage"]
        name = (
            getattr(node, "id", None)
            or getattr(node, "attr", None)
            or (node.arg if isinstance(node, (ast.arg, ast.keyword)) else None)
        )
        if name in STORE_NAMES:
            found.append(f"{name} (line {node.lineno})")
    return found


def test_operators_do_not_reference_the_lineage_store():
    found = {
        p.name: bad
        for p in sorted(OPS.glob("*.py"))
        if (bad := _store_refs(p.read_text(encoding="utf-8")))
    }
    assert found == {}


def test_checker_flags_store_references():
    src = (
        "from bern_spark.lineage import LineageStore\nimport bern_spark.lineage\n"
        "from .. import lineage\n"
        "def f(df, lineage_store=None):\n"
        "    return lineage_store.run_stage(df, fingerprint=1)\n"
        "g(read_manifest=1)\n"
    )
    got = _store_refs(src)
    assert sum(r.startswith("import") for r in got) == 3
    assert {r.split()[0] for r in got} >= STORE_NAMES
    assert _store_refs("def f(df, cut):\n    return cut(df)  # lineage_store\n") == []
