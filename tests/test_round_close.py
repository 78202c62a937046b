"""tools/round_close.py bench deltas (Spark-free): an artifact the bench
marked load_ok=false is skipped by name, and the deltas compare the two
newest artifacts that remain."""

from __future__ import annotations

import importlib.util
import json
import os

_TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "round_close.py")


def _round_close():
    spec = importlib.util.spec_from_file_location("round_close", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _artifact(path, queries: dict, load_ok: bool | None) -> None:
    parsed = {"queries": queries}
    if load_ok is not None:
        parsed["load_ok"] = load_ok
    path.write_text(json.dumps({"tail": "", "parsed": parsed}))


def test_bench_deltas_skip_load_not_ok(tmp_path, monkeypatch, capsys):
    _artifact(tmp_path / "BENCH_r13.json", {"q1": 2.0, "q2": 4.0}, None)
    _artifact(tmp_path / "BENCH_r14.json", {"q1": 9.0, "q2": 9.0}, False)
    _artifact(tmp_path / "BENCH_r15.json", {"q1": 1.0, "q2": 4.0}, True)
    rc = _round_close()
    monkeypatch.setattr(rc, "REPO", str(tmp_path))

    rc.bench_deltas()

    out = capsys.readouterr().out
    assert "REFUSING" not in out
    assert "BENCH_r14.json" in out.splitlines()[0]  # named as skipped
    assert "== warm deltas BENCH_r13.json" in out and "-> BENCH_r15.json" in out
    assert "x0.50" in out  # q1: 2.0 -> 1.0, measured against r13, not r14


def test_bench_deltas_need_two_comparable(tmp_path, monkeypatch, capsys):
    _artifact(tmp_path / "BENCH_r14.json", {"q1": 9.0}, False)
    _artifact(tmp_path / "BENCH_r15.json", {"q1": 1.0}, True)
    rc = _round_close()
    monkeypatch.setattr(rc, "REPO", str(tmp_path))

    rc.bench_deltas()

    out = capsys.readouterr().out
    assert "fewer than two comparable" in out and "warm deltas" not in out
