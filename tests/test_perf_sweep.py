"""tools/perf_sweep.py isolated mode: a child that dies must surface as an
error, never as the numbers an earlier child left in its output file."""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_perf_sweep():
    spec = importlib.util.spec_from_file_location(
        "perf_sweep", os.path.join(REPO, "tools", "perf_sweep.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_isolated_failed_child_reports_error(monkeypatch):
    perf_sweep = _load_perf_sweep()
    key = "q_perf_sweep_stale_probe"
    stale = f"/tmp/perf_sweep_iso_{key}.json"
    with open(stale, "w") as f:
        json.dump({key: {"run": 0.123, "runs": [0.123]}}, f)
    # The "child interpreter" exits 1 without writing anything.
    monkeypatch.setattr(perf_sweep.sys, "executable", "false")
    try:
        results = perf_sweep.run_isolated([key], "/nonexistent", 1)
    finally:
        if os.path.exists(stale):
            os.remove(stale)
    assert "error" in results[key], results[key]
    assert "run" not in results[key]
