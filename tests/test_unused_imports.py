"""Source guard: every module-level import under python_openetl_spark/
is used by its module. Package ``__init__.py`` files re-export, and a
line marked ``noqa`` is an intended side-effect or re-export import."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "python_openetl_spark"


def _unused_imports(path: pathlib.Path) -> list[str]:
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src)
    imported = {}
    for node in tree.body:
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("noqa" in lines[i - 1] for i in range(node.lineno, node.end_lineno + 1)):
            continue
        for alias in node.names:
            imported[(alias.asname or alias.name).split(".")[0]] = node.lineno
    used = {node.id for node in ast.walk(tree) if isinstance(node, ast.Name)}
    for node in tree.body:  # names exported through __all__
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used.update(ast.literal_eval(node.value))
    return [f"{n} (line {ln})" for n, ln in imported.items() if n not in used]


def test_no_unused_module_level_imports():
    offenders = [
        f"{path.relative_to(PACKAGE)}: {name}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "__init__.py"
        for name in _unused_imports(path)
    ]
    assert offenders == []
