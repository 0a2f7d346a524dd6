"""Every script that imports from the package must import names that
exist. The scripts have no other test, so a package function deleted
while a script still imports it would otherwise only fail when someone
next runs that script. Spark-free: modules are imported, no session is
built."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "prisma_migrator_spark"
SCRIPTS = sorted(
    [
        *ROOT.glob("tools/*.py"),
        *ROOT.glob("perfbench/*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
)


def _package_imports(path: Path) -> list[tuple[str, str | None]]:
    """(module, name) for every package import in ``path``; ``name``
    is None for a plain ``import module``."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == PACKAGE:
                found.extend((node.module, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            found.extend(
                (a.name, None) for a in node.names if a.name.split(".")[0] == PACKAGE
            )
    return found


def _resolves(module: str, name: str | None) -> bool:
    mod = importlib.import_module(module)
    if name is None or hasattr(mod, name):
        return True
    # ``from pkg import submodule`` names a module, not an attribute
    return (
        hasattr(mod, "__path__")
        and importlib.util.find_spec(f"{module}.{name}") is not None
    )


def test_script_package_imports_resolve():
    missing = [
        f"{path.relative_to(ROOT)}: {module}:{name}"
        for path in SCRIPTS
        for module, name in _package_imports(path)
        if not _resolves(module, name)
    ]
    assert not missing, f"scripts import names the package lacks: {missing}"
