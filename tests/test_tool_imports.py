"""Every ``finlogic_spark`` name a script under ``tools/`` imports still
exists. ``python -m compileall tools`` only parses the scripts; an
import of a removed name inside a function fails first when that code
path runs. No Spark session is needed."""

import ast
import importlib
from pathlib import Path

import pytest

TOOLS = sorted((Path(__file__).resolve().parent.parent / "tools").glob("*.py"))


def _imports(path: Path):
    """(module, name) for every ``from finlogic_spark… import name``
    and (module, None) for every ``import finlogic_spark…`` in the
    file, at any nesting depth."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == "finlogic_spark":
                for alias in node.names:
                    yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "finlogic_spark":
                    yield alias.name, None


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_imports_resolve(path):
    missing = []
    for module, name in _imports(path):
        mod = importlib.import_module(module)
        if name is None or name == "*" or hasattr(mod, name):
            continue
        try:  # a submodule is an attribute only once imported
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{module}.{name}")
    assert not missing, missing
