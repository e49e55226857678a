"""bench.py's per-query detail sidecar: a full run writes the committed
BENCH_baseline_detail.json, a subset run a temp file of its own, and
$SPARK_GRAFT_BASELINE_DETAIL overrides both. No Spark session needed."""

import os

import bench

COMMITTED = os.path.join(os.path.dirname(os.path.abspath(bench.__file__)),
                         "BENCH_baseline_detail.json")


def test_subset_run_never_targets_committed_detail(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BASELINE_DETAIL", raising=False)
    assert bench.baseline_detail_path(subset=False) == COMMITTED
    path = bench.baseline_detail_path(subset=True)
    try:
        assert os.path.abspath(path) != COMMITTED and os.path.exists(path)
    finally:
        os.remove(path)
    monkeypatch.setenv("SPARK_GRAFT_BASELINE_DETAIL", "/elsewhere.json")
    assert bench.baseline_detail_path(subset=True) == "/elsewhere.json"
    assert bench.baseline_detail_path(subset=False) == "/elsewhere.json"
