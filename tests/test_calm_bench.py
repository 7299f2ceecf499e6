"""tools/calm_bench.py logs its own verdict with every bench record."""

from __future__ import annotations

import json
import os
import sys
import types

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

import calm_bench  # noqa: E402


def test_sys_rejected_reading_is_not_logged_as_accepted(monkeypatch, tmp_path):
    # two bench lines that both report calm=true; the first burned more
    # whole-run sys cpu than --max-sys allows
    lines = [{"value": 1.0, "calm": True, "cpu_sec": {"sys": 200.0}},
             {"value": 2.0, "calm": True, "cpu_sec": {"sys": 20.0}}]
    monkeypatch.setattr(calm_bench, "steal_rate", lambda window: (0.0, 0.0))
    monkeypatch.setattr(
        calm_bench.subprocess, "run",
        lambda *a, **k: types.SimpleNamespace(
            stdout=json.dumps(lines.pop(0)) + "\n"))
    log = tmp_path / "calm.jsonl"
    monkeypatch.setattr(sys, "argv", [
        "calm_bench.py", "--log", str(log), "--max-accepted", "1",
        "--max-sys", "90", "--min-gap", "0", "--window", "0",
        "--stop-file", str(tmp_path / "stop")])
    calm_bench.main()
    recs = [json.loads(ln) for ln in log.read_text().splitlines()]
    assert [(r["value"], r["_sys_ok"], r["_accepted"]) for r in recs] == [
        (1.0, False, False), (2.0, True, True)]
