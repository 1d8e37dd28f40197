"""`tools/round_close.py` runs its checks in order and stops at the
first failure with that check's exit code."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import round_close


def test_steps_are_full_suite_then_oracle_then_ledger():
    suite, oracle, ledger = round_close.steps(["SF"])
    assert suite[1:] == ["-m", "pytest", "tests/", "-q", "-m", "slow or not slow"]
    assert oracle[1:] == ["tools/verify_local.py", "SF"]
    assert ledger[1:] == ["tools/stale_rows.py", "--fail"]
    assert round_close.steps([])[1][1:] == ["tools/verify_local.py"]


def test_stops_at_first_failure(monkeypatch, tmp_path):
    marker = tmp_path / "ran"
    py = sys.executable
    cmds = [
        [py, "-c", "pass"],
        [py, "-c", "raise SystemExit(3)"],
        [py, "-c", f"open({str(marker)!r}, 'w')"],
    ]
    monkeypatch.setattr(round_close, "steps", lambda sf_dir: cmds)
    assert round_close.main([]) == 3
    assert not marker.exists()
    monkeypatch.setattr(round_close, "steps", lambda sf_dir: [cmds[0], cmds[2]])
    assert round_close.main([]) == 0
    assert marker.exists()
