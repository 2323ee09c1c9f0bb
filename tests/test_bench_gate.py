"""The probe-gated headline bench (bench.py run_gated) is the driver's
ONLY per-round performance record — it must emit exactly one JSON
result no matter which subprocess dies under host contention.

Covers the two resilience contracts added in round 5:
* a crashed calibration probe reads as an out-of-band window (never an
  exception),
* a crashed bench subprocess burns one ATTEMPT (recorded + retried),
  never the whole gate;
and a host narrower than the probe's widest leg, where the gate skips
the probes and runs the bench once.

All subprocesses are stubbed; no Spark is started.
"""
import importlib.util
import json
import os
import sys
import types

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def bench_mod(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PROBE_BAND", "2.55,3.7")
    spec = importlib.util.spec_from_file_location(
        "bench_under_test", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(mod.time, "sleep", lambda *_: None)
    # a host as wide as the probe's 32-process leg, so the gate runs
    monkeypatch.setattr(mod, "default_cpus", lambda: 32)
    return mod


def test_dead_probe_is_out_of_band_not_fatal(bench_mod, monkeypatch):
    def boom(*a, **k):
        raise OSError("calibration subprocess died")

    monkeypatch.setattr(bench_mod.subprocess, "run", boom)
    p = bench_mod._probe()
    assert p["in_band"] is False
    assert "error" in p


def _fake_proc(returncode=0, stdout="", stderr=""):
    return types.SimpleNamespace(
        returncode=returncode, stdout=stdout, stderr=stderr
    )


def test_failed_bench_attempt_retries_then_accepts(bench_mod, monkeypatch):
    """Attempt 1's bench subprocess dies; attempt 2 succeeds in-band —
    run_gated must return attempt 2's result with the failure on the
    attempts record."""
    good = {"metric": "wall", "value": 1.23, "unit": "sec"}
    calls = {"bench": 0}

    def fake_run(cmd, **kw):
        if "host_calibration.py" in " ".join(cmd):
            return _fake_proc(stdout=json.dumps({
                "throughput_speedup_8_to_32": 3.0,
                "throughput_efficiency": 0.75,
            }))
        calls["bench"] += 1
        if calls["bench"] == 1:
            return _fake_proc(returncode=1, stderr="spark OOM")
        return _fake_proc(stdout=json.dumps(good) + "\n")

    monkeypatch.setattr(bench_mod.subprocess, "run", fake_run)
    out = bench_mod.run_gated()
    assert out["value"] == good["value"]
    gate = out["probe_gate"]
    assert gate["in_band"] is True
    assert any(t.get("failed") for t in gate["attempts"])
    assert calls["bench"] == 2


def test_no_clean_window_picks_best_attempt_flagged(bench_mod, monkeypatch):
    """Every pre-probe is in-band but every post-probe is out-of-band
    (a window that degrades mid-bench, three times): run_gated must
    return the LOWEST-value attempt and flag the gate out-of-band."""
    values = iter([7.7, 5.5, 6.6])
    probes = iter([3.0, 1.0] * 3)  # pre in-band, post out-of-band, x3

    def fake_run(cmd, **kw):
        if "host_calibration.py" in " ".join(cmd):
            return _fake_proc(stdout=json.dumps({
                "throughput_speedup_8_to_32": next(probes),
                "throughput_efficiency": 0.5,
            }))
        return _fake_proc(stdout=json.dumps(
            {"metric": "wall", "value": next(values), "unit": "sec"}
        ) + "\n")

    monkeypatch.setattr(bench_mod.subprocess, "run", fake_run)
    out = bench_mod.run_gated()
    assert out["value"] == 5.5
    gate = out["probe_gate"]
    assert gate["in_band"] is False
    assert [t["value"] for t in gate["attempts"]] == [7.7, 5.5, 6.6]


def test_all_probes_dead_still_emits_one_result(bench_mod, monkeypatch):
    """Every probe crashing = every window out-of-band: the forced
    fallback still produces a flagged result line."""
    good = {"metric": "wall", "value": 9.9, "unit": "sec"}

    def fake_run(cmd, **kw):
        if "host_calibration.py" in " ".join(cmd):
            raise OSError("probe dead")
        return _fake_proc(stdout=json.dumps(good) + "\n")

    monkeypatch.setattr(bench_mod.subprocess, "run", fake_run)
    out = bench_mod.run_gated()
    assert out["value"] == good["value"]
    assert out["probe_gate"]["in_band"] is False


def test_narrow_host_skips_probes_and_runs_once(bench_mod, monkeypatch):
    """On a host with fewer cores than the probe's 32-process leg the
    band is out of reach: no probe runs, the bench runs exactly once
    and the gate records the skip with the core count."""
    good = {"metric": "wall", "value": 4.2, "unit": "sec"}
    calls = {"bench": 0}

    def fake_run(cmd, **kw):
        if "host_calibration.py" in " ".join(cmd):
            raise AssertionError("probe must not run on a narrow host")
        calls["bench"] += 1
        return _fake_proc(stdout=json.dumps(good) + "\n")

    monkeypatch.setattr(bench_mod, "default_cpus", lambda: 4)
    monkeypatch.setattr(bench_mod.subprocess, "run", fake_run)
    out = bench_mod.run_gated()
    assert out["value"] == good["value"]
    assert calls["bench"] == 1
    gate = out["probe_gate"]
    assert gate["skipped"] is True and gate["cpus"] == 4
    assert gate["reason"]
