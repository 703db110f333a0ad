"""The scripts under ``tools/`` import engine internals (``_probe_dup_ids``,
``_lsh_sigs``, ``J._IDX_BUCKETS`` ...) inside ``main()``, so a rename in
the package breaks them only when someone runs them.  This test reads
each script's syntax tree and checks that every ``gmail_etl_spark``
name it imports, or reads as an attribute of an imported engine module
(``J.<name>``), exists.  No Spark session is started."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"
PKG = "gmail_etl_spark"


def _engine_names(tree: ast.AST) -> list[tuple[str, str, int]]:
    """(module, name, line) for every engine name the tree references."""
    aliases: dict[str, str] = {}
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            out += [(node.module, a.name, node.lineno) for a in node.names]
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG) and a.asname:
                    aliases[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            out.append((aliases[node.value.id], node.attr, node.lineno))
    return out


def test_tools_engine_names_resolve():
    scripts = sorted(TOOLS.glob("*.py"))
    assert scripts
    missing = []
    checked = 0
    for path in scripts:
        for module, name, line in _engine_names(ast.parse(path.read_text())):
            mod = importlib.import_module(module)
            checked += 1
            if not hasattr(mod, name):
                try:
                    importlib.import_module(f"{module}.{name}")
                except ModuleNotFoundError:
                    missing.append(f"{path.name}:{line} {module}.{name}")
    assert checked > 0
    assert not missing, missing
