"""Layering: no package module imports another module's private names, and
no source file cites a document that is not there.

A ``_``-prefixed name is its module's own; a name another module needs is
made public at its owner. ``tests/`` and ``perfbench/`` are outside the
package and may reach into it.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "pyspark_retention_pipeline_spark"


def private_imports(package: Path) -> list[str]:
    """``path:line name`` for every ``from <package module> import _name``
    under ``package`` (relative imports and absolute ones naming the
    package); dunder names are not private."""
    found = []
    for path in sorted(package.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.ImportFrom):
                continue
            module = node.module or ""
            if node.level == 0 and module.split(".")[0] != package.name:
                continue
            for alias in node.names:
                name = alias.name
                if name.startswith("_") and not name.startswith("__"):
                    rel = path.relative_to(package.parent)
                    found.append(f"{rel}:{node.lineno} {name}")
    return found


def test_no_module_imports_another_modules_private_names():
    assert private_imports(PACKAGE) == []


def test_private_imports_finds_relative_and_absolute_forms(tmp_path):
    pkg = tmp_path / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("from .a import __version__\n")
    (pkg / "a.py").write_text("from .b import _hidden, shown\nfrom os import _exit\n")
    (pkg / "sub" / "c.py").write_text("from pkg.a import _other\nfrom ..b import visible\n")
    assert private_imports(pkg) == ["pkg/a.py:1 _hidden", "pkg/sub/c.py:1 _other"]


def test_cited_docs_exist():
    """Every ``docs/<name>.md`` that a Python file, the Makefile or README.md
    names exists (hidden directories such as ``.git`` are not read)."""
    sources = [REPO / "Makefile", REPO / "README.md"] + [
        p
        for p in REPO.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    ]
    dangling = [
        f"{path.relative_to(REPO)}:{lineno} {cited}"
        for path in sorted(sources)
        for lineno, line in enumerate(path.read_text().splitlines(), 1)
        for cited in re.findall(r"docs/[\w.-]+\.md", line)
        if not (REPO / cited).is_file()
    ]
    assert dangling == []
