"""Every ``finlogic_spark`` name a script under ``tools/`` imports still
exists. ``python -m compileall tools`` only parses the scripts; an
import of a removed name inside a function fails first when that code
path runs. ``tools/ab.py``'s pairing, summary and run length are
checked on synthetic runs. No Spark session is needed."""

import ast
import importlib
import importlib.util
import json
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


def _load_tool(name: str):
    path = next(p for p in TOOLS if p.name == name)
    spec = importlib.util.spec_from_file_location(path.stem, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_ab_alternates_sides_and_summarizes_pairs():
    ab = _load_tool("ab.py")
    assert [ab.pair_order(i, "p", "c") for i in range(3)] == [
        ("p", "c"), ("c", "p"), ("p", "c")
    ]

    def side(op_ms, quality, failed=0):
        return {"failed": failed, "metrics": {
            "op_ms": {"value": op_ms}, "result_quality": {"value": quality}}}

    runs = [
        {"parent": side(10, 1.0), "change": side(5, 1.0)},
        {"parent": side(12, 1.0), "change": side(6, 0.9, failed=1)},
        {"parent": side(11, 1.0), "change": side(13, 1.0)},
    ]
    s = ab.summarize(runs, {"op_ms": "lower", "result_quality": "higher"})
    assert s["op_ms"]["parent"]["median"] == 11 and s["op_ms"]["change"]["median"] == 6
    assert s["op_ms"]["change_won"] == 2 and s["op_ms"]["pairs"] == 3
    assert s["result_quality"]["change_won"] == 0
    assert s["failed"] == {"parent": [0, 0, 0], "change": [0, 1, 0]}


def test_ab_runs_for_the_benchmarks_run_seconds(tmp_path, monkeypatch):
    ab = _load_tool("ab.py")
    (tmp_path / "BENCHMARK.json").write_text(json.dumps({
        "run_seconds": 7,
        "end_to_end": [{"name": "op_ms", "better": "lower"}],
    }))
    calls = []

    def run_once(checkout, workload, seed, seconds):
        calls.append((checkout, seed, seconds))
        return {"failed": 0, "metrics": {"op_ms": {"value": 1.0}}}

    monkeypatch.setattr(ab, "run_once", run_once)
    out = tmp_path / "ab.json"
    assert ab.main(["P", str(tmp_path), "--workload", "w", "--seeds", "1", "2",
                    "--out", str(out)]) == 0
    assert calls == [("P", 1, 7), (str(tmp_path), 1, 7), (str(tmp_path), 2, 7), ("P", 2, 7)]
    assert json.loads(out.read_text())["seconds"] == 7
