"""Every import of the package inside the repo resolves.

A lazy import in a function body that no test calls would otherwise
outlive the deletion of the module or name it points at, and only fail
when that code path finally runs. This walks the source with ``ast``
(module-level and lazy imports alike) and imports each target.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "wwwision_importservice_spark"
SOURCES = [
    ROOT / PACKAGE,
    ROOT / "examples",
    ROOT / "tools",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]


def _python_files():
    for src in SOURCES:
        yield from sorted(src.rglob("*.py")) if src.is_dir() else [src]


def package_imports() -> list[tuple[str, str, str | None]]:
    """``(file:line, module, name)`` for every import of the package;
    ``name`` is None for a plain ``import module``."""
    found = []
    for path in _python_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                targets = [(a.name, None) for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                targets = [(node.module, a.name) for a in node.names]
            else:
                continue
            where = f"{path.relative_to(ROOT)}:{node.lineno}"
            found += [
                (where, module, name)
                for module, name in targets
                if module.split(".")[0] == PACKAGE
            ]
    return found


def _unresolved(module: str, name: str | None) -> str | None:
    try:
        mod = importlib.import_module(module)
    except ImportError as exc:
        return f"module {module}: {exc}"
    if name is None or hasattr(mod, name):
        return None
    try:
        # ``from package import submodule`` names a submodule that is an
        # attribute of the package only once something has imported it
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return f"{module} defines no {name}"
    return None


def test_package_imports_resolve():
    imports = package_imports()
    assert len(imports) > 100, "the import walk found almost nothing"
    broken = [
        f"{where}: {why}"
        for where, module, name in imports
        if (why := _unresolved(module, name))
    ]
    assert not broken, "\n".join(broken)
