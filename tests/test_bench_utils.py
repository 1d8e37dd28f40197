"""Pure-function tests for the bench harness's round-6 pollution
machinery — no Spark session needed."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_steady_spread_uses_best_three_runs():
    # polluted first run must not pin the spread forever once rescue
    # runs land: spread is over the 3 fastest samples
    assert bench._steady_spread([36.0, 13.0, 9.3]) > 1.0
    polluted_then_rescued = [36.0, 13.0, 9.3, 9.5, 9.4]
    assert bench._steady_spread(polluted_then_rescued) < 0.1


def test_steady_spread_zero_floor():
    assert bench._steady_spread([0.0, 0.0, 0.0]) == 0.0


def test_anchor_machine_fingerprint_gates_ratio_test(tmp_path, monkeypatch):
    import os

    path = tmp_path / "BENCH_ANCHOR.json"
    path.write_text(json.dumps({"machine": {"cpus": os.cpu_count()}}))
    monkeypatch.setattr(bench, "ANCHOR_PATH", str(path))
    assert bench._anchor_machine_matches()
    path.write_text(json.dumps({"machine": {"cpus": os.cpu_count() + 1}}))
    assert not bench._anchor_machine_matches()
    monkeypatch.setattr(bench, "ANCHOR_PATH", str(tmp_path / "missing.json"))
    assert not bench._anchor_machine_matches()


def test_load_anchor_sf_mismatch_and_shape(tmp_path, monkeypatch):
    path = tmp_path / "BENCH_ANCHOR.json"
    path.write_text(
        json.dumps({"queries": {"q": 1.5}, "sf": 0.1, "machine": {}})
    )
    monkeypatch.setattr(bench, "ANCHOR_PATH", str(path))
    assert bench._load_anchor(0.1) == {"q": 1.5}
    assert bench._load_anchor(0.01) == {}  # anchor only valid at its sf
    monkeypatch.setattr(bench, "ANCHOR_PATH", str(tmp_path / "missing.json"))
    assert bench._load_anchor(0.1) == {}


def test_preflight_canary_noop_paths_return_pass_empty(monkeypatch):
    """The canary gate must be a clean no-op — (True, {}) — whenever it
    has nothing comparable to measure: skip env var, missing/empty
    anchor, or an anchor from a different machine. A None or bare dict
    here would crash main()'s tuple unpacking or poison BENCH_FULL."""
    monkeypatch.setenv("SPARK_GRAFT_BENCH_SKIP_PREFLIGHT", "1")
    assert bench._preflight_canary(None, None, None, {"x": 1.0}) == (True, {})
    monkeypatch.delenv("SPARK_GRAFT_BENCH_SKIP_PREFLIGHT")
    assert bench._preflight_canary(None, None, None, {}) == (True, {})
    assert bench._preflight_canary(
        None, None, None, {"unrelated_query": 1.0}
    ) == (True, {})
    assert bench._preflight_canary(
        None, None, None, {bench._CANARY: 0.0}
    ) == (True, {})


def test_preflight_canary_measures_against_anchor(tmp_path, monkeypatch):
    """With a comparable anchor, the gate times the canary via the
    registry callable and returns (passed, ratio payload) — the payload
    lands in BENCH_FULL.json as the run's calibration number."""
    import json as _json
    import os

    path = tmp_path / "BENCH_ANCHOR.json"
    path.write_text(_json.dumps({"machine": {"cpus": os.cpu_count()}}))
    monkeypatch.setattr(bench, "ANCHOR_PATH", str(path))

    class FakeQuery:
        def spark(self, spark, sf_dir):
            class _DF:
                def count(self):
                    return 1

            return _DF()

    reg = {bench._CANARY: FakeQuery()}
    # a huge anchor best => measured ratio ~0 => pass, ratio recorded
    ok, info = bench._preflight_canary(None, reg, "x", {bench._CANARY: 1e9})
    assert ok and info["canary"] == bench._CANARY
    assert 0 <= info["canary_ratio"] < 0.001


def test_canary_settle_horizon_matches_weather_phases():
    """r11 verdict item 2: the settle horizon must be on the scale of
    the machine's 30-60 min weather phases, not an order of magnitude
    under it. ~20 min total, escalating."""
    assert sum(bench._CANARY_SETTLES) >= 15 * 60
    assert list(bench._CANARY_SETTLES) == sorted(bench._CANARY_SETTLES)


def test_preflight_canary_exhausts_escalating_settles(monkeypatch):
    import os

    sleeps = []
    monkeypatch.setattr(bench.time, "sleep", lambda s: sleeps.append(s))
    monkeypatch.setattr(bench, "_anchor_machine_matches", lambda: True)

    class SlowQuery:
        def spark(self, spark, sf_dir):
            class _DF:
                def count(self):
                    return 1

            return _DF()

    reg = {bench._CANARY: SlowQuery()}
    # tiny anchor best => measured ratio astronomically over 1.2 =>
    # every attempt fails => all settles consumed, (False, info) back
    ok, info = bench._preflight_canary(None, reg, "x", {bench._CANARY: 1e-12})
    assert not ok
    assert info["canary"] == bench._CANARY and info["canary_ratio"] > 1.2
    assert sleeps == list(bench._CANARY_SETTLES)


def _fake_bench_env(monkeypatch, tmp_path, headliner="fake_q"):
    """Shared scaffolding: one fake headliner, no Spark, artifacts to
    tmp_path."""
    import types

    class FakeQuery:
        def spark(self, spark, sf_dir):
            class _DF:
                def count(self):
                    return 7

            return _DF()

    monkeypatch.setattr(bench, "HEADLINE", [headliner])
    monkeypatch.setattr(bench, "get_spark", lambda app_name: None)
    monkeypatch.setattr(bench, "registry", lambda: {headliner: FakeQuery(), bench._CANARY: FakeQuery()})
    monkeypatch.setattr(bench, "_HERE", str(tmp_path))
    monkeypatch.setattr(bench, "ANCHOR_PATH", str(tmp_path / "BENCH_ANCHOR.json"))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    monkeypatch.setattr(bench.sys, "argv", ["bench.py"])
    monkeypatch.delenv("SPARK_GRAFT_BENCH_SKIP_PREFLIGHT", raising=False)
    return types.SimpleNamespace()


def test_main_degrades_on_load_never_error_only(monkeypatch, tmp_path, capsys):
    """r11's BENCH_r11.json was an error-only abort. The contract now:
    a failed preflight still produces per-query numbers, tagged
    degraded with the evidence."""
    import json as _json

    _fake_bench_env(monkeypatch, tmp_path)
    monkeypatch.setattr(bench, "_preflight_quiet", lambda: 9.87)
    bench.main()
    line = capsys.readouterr().out.strip().splitlines()[-1]
    out = _json.loads(line)
    assert out["degraded"] is True
    assert out["degraded_reason"] == "preflight_load"
    assert out["load_1m"] == 9.87
    assert "error" not in out and out["queries"]["fake_q"] >= 0
    full = _json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert full["degraded"] is True and "queries" in full


def test_main_degrades_on_canary_and_disables_anchor_writes(
    monkeypatch, tmp_path, capsys
):
    import json as _json
    import os

    _fake_bench_env(monkeypatch, tmp_path)
    monkeypatch.setattr(bench, "_preflight_quiet", lambda: None)
    # comparable anchor with an impossibly fast canary best => canary
    # fails every escalating attempt => degraded, not error-only
    (tmp_path / "BENCH_ANCHOR.json").write_text(
        _json.dumps(
            {
                "queries": {bench._CANARY: 1e-12, "fake_q": 1e-12},
                "sf": 0.1,
                "machine": {"cpus": os.cpu_count()},
            }
        )
    )
    monkeypatch.setattr(
        bench.sys, "argv", ["bench.py", "--write-anchor", "--repin-entry", "fake_q"]
    )
    bench.main()
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["degraded"] is True
    assert out["degraded_reason"] == "preflight_canary"
    assert out["canary_ratio"] > 1.2
    assert out["queries"]["fake_q"] >= 0
    # a weather-lensed run must never move the fixed point, and the
    # meaningless >=2x-anchor rescue loop must not have fired
    anchor = _json.loads((tmp_path / "BENCH_ANCHOR.json").read_text())
    assert anchor["queries"]["fake_q"] == 1e-12
    full = _json.loads((tmp_path / "BENCH_FULL.json").read_text())
    assert full["reruns"] == {}


def test_repin_entry_rewrites_only_named_entry(monkeypatch, tmp_path, capsys):
    import json as _json
    import os

    _fake_bench_env(monkeypatch, tmp_path)
    monkeypatch.setattr(bench, "_preflight_quiet", lambda: None)
    # the fake query's count() is near-instant, so an anchor value that
    # lands the canary ratio inside [0.95, 1.05] can't be chosen
    # deterministically — bypass the canary via env and assert the
    # refusal path instead: no canary_ratio => no repin (evidence bar)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_SKIP_PREFLIGHT", "1")
    (tmp_path / "BENCH_ANCHOR.json").write_text(
        _json.dumps(
            {
                "queries": {"fake_q": 123.0, "other_q": 9.0},
                "sf": 0.1,
                "machine": {"cpus": os.cpu_count()},
            }
        )
    )
    monkeypatch.setattr(bench.sys, "argv", ["bench.py", "--repin-entry", "fake_q"])
    bench.main()
    capsys.readouterr()
    # SKIP_PREFLIGHT => no canary_ratio => repin refused (evidence bar)
    anchor = _json.loads((tmp_path / "BENCH_ANCHOR.json").read_text())
    assert anchor["queries"]["fake_q"] == 123.0
    assert anchor["queries"]["other_q"] == 9.0
    # now with uniform-quiet canary evidence: only the named entry moves
    monkeypatch.delenv("SPARK_GRAFT_BENCH_SKIP_PREFLIGHT")
    monkeypatch.setattr(
        bench,
        "_preflight_canary",
        lambda *a, **k: (True, {"canary": bench._CANARY, "canary_ratio": 1.0}),
    )
    bench.main()
    capsys.readouterr()
    anchor = _json.loads((tmp_path / "BENCH_ANCHOR.json").read_text())
    assert anchor["queries"]["fake_q"] != 123.0  # refreshed from this run
    assert anchor["queries"]["other_q"] == 9.0  # era fixed point untouched


def test_repin_entry_accepts_whole_fixed_point_agreement(
    monkeypatch, tmp_path, capsys
):
    """Gate (b): with >= 10 anchored headliners whose vs_anchor_total
    sits inside ±5%, a single-entry repin applies even when the canary
    carries no ratio — the 60-entry fixed point agreeing is stronger
    uniform-quiet evidence than one sub-second query's best-of-3
    (r12: the canary vetoed three consecutive clean 0.97-1.09 runs)."""
    import json as _json
    import os

    _fake_bench_env(monkeypatch, tmp_path)
    monkeypatch.setattr(bench, "_preflight_quiet", lambda: None)
    monkeypatch.setattr(bench, "_preflight_canary", lambda *a, **k: (True, {}))
    heads = [f"q{i}" for i in range(12)]
    monkeypatch.setattr(bench, "HEADLINE", heads)

    class FakeQuery:
        def spark(self, spark, sf_dir):
            class _DF:
                def count(self):
                    return 1

            return _DF()

    monkeypatch.setattr(
        bench, "registry", lambda: {h: FakeQuery() for h in heads}
    )
    # deterministic clock: every time.time() call advances 0.05s, so
    # each timed run measures exactly 0.05s (two calls per run)
    tick = [0.0]

    def fake_time():
        tick[0] += 0.05
        return tick[0]

    monkeypatch.setattr(bench.time, "time", fake_time)
    anchor_q = {h: 0.05 for h in heads}
    anchor_q["q0"] = 0.0500001  # distinguishable from the re-pinned 0.05
    (tmp_path / "BENCH_ANCHOR.json").write_text(
        _json.dumps(
            {"queries": anchor_q, "sf": 0.1, "machine": {"cpus": os.cpu_count()}}
        )
    )
    monkeypatch.setattr(bench.sys, "argv", ["bench.py", "--repin-entry", "q0"])
    bench.main()
    capsys.readouterr()
    anchor = _json.loads((tmp_path / "BENCH_ANCHOR.json").read_text())
    assert anchor["queries"]["q0"] == 0.05  # refreshed from this run
    assert anchor["queries"]["q1"] == 0.05  # untouched era fixed point


def test_repin_entry_spread_gate_is_per_entry(monkeypatch, tmp_path, capsys):
    """r13: one repinned entry's loose own-spread must not veto the
    entries whose 3 runs were tight — quiet windows are scarce, and
    the global gates already attest the run. The loose entry is
    skipped (and named in the report); the tight one pins."""
    import json as _json
    import os

    _fake_bench_env(monkeypatch, tmp_path)
    monkeypatch.setattr(bench, "_preflight_quiet", lambda: None)
    monkeypatch.setattr(bench, "_preflight_canary", lambda *a, **k: (True, {}))
    heads = [f"q{i}" for i in range(12)]
    monkeypatch.setattr(bench, "HEADLINE", heads)
    tick = [0.0]

    class FakeQuery:
        def __init__(self, name):
            self.name = name
            self.calls = 0

        def spark(self, spark, sf_dir):
            q = self

            class _DF:
                def count(self):
                    q.calls += 1
                    # q0's LAST timed run (call 5 = warmup + priming
                    # + 3 timed) hits a transient spike: +20% — above
                    # the 1.10 repin bar, below the rescue trigger
                    if q.name == "q0" and q.calls == 5:
                        tick[0] += 0.01
                    return 1

            return _DF()

    monkeypatch.setattr(
        bench, "registry", lambda: {h: FakeQuery(h) for h in heads}
    )

    def fake_time():
        tick[0] += 0.05
        return tick[0]

    monkeypatch.setattr(bench.time, "time", fake_time)
    anchor_q = {h: 0.05 for h in heads}
    anchor_q["q0"] = 0.0500001
    anchor_q["q1"] = 0.0500001
    (tmp_path / "BENCH_ANCHOR.json").write_text(
        _json.dumps(
            {"queries": anchor_q, "sf": 0.1, "machine": {"cpus": os.cpu_count()}}
        )
    )
    monkeypatch.setattr(
        bench.sys, "argv",
        ["bench.py", "--repin-entry", "q0", "--repin-entry", "q1"],
    )
    bench.main()
    err = capsys.readouterr().err
    anchor = _json.loads((tmp_path / "BENCH_ANCHOR.json").read_text())
    assert anchor["queries"]["q1"] == 0.05  # tight entry pinned
    assert anchor["queries"]["q0"] == 0.0500001  # loose entry skipped
    assert "skipped, own-spread>1.10" in err and "q0" in err


def test_noop_twins_resolve_to_headliners():
    # every +noop twin must shadow a real headliner (the twin times the
    # SAME query under the noop sink), and twin names must never collide
    # with registry names (no '+' in real headliner names)
    import bench

    assert set(bench.NOOP_TWINS) <= set(bench.HEADLINE)
    assert not any("+" in n for n in bench.HEADLINE)
    assert len(set(bench.NOOP_TWINS)) == len(bench.NOOP_TWINS)
