"""Harness-tool behavior pins (no Spark needed): the steal-percent
guard on short /proc/stat cpu lines, the diff_bench exclusion gate
(an excluded reading is a deferred verdict, not a pass), and the
neardup gate's count-degradation semantics."""
from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_steal_pct_handles_missing_steal_column():
    sys.path.insert(0, HERE)
    from bench import _steal_pct
    # kernel with no steal column (7 fields) must degrade, not IndexError
    assert _steal_pct([1, 2, 3, 4, 5, 6, 7], [2, 3, 4, 5, 6, 7, 8]) is None
    assert _steal_pct(None, [1] * 10) is None
    # full line: 10 steal ticks over 100 total -> 10%
    s0 = [0] * 10
    s1 = [30, 0, 20, 40, 0, 0, 0, 10, 0, 0]
    assert abs(_steal_pct(s0, s1) - 10.0) < 1e-9


def test_bench_error_line_records_handy_summary():
    """A HandyException is recorded by its summary, without the colour
    escapes that start its message; other errors by their first line."""
    sys.path.insert(0, HERE)
    from bench import error_line
    from handyspark_spark.core.util import HandyException
    e = HandyException(ValueError("ValueError: no rows\ntrace line"))
    assert str(e).startswith("\x1b[")
    assert error_line(e) == "ValueError: no rows"
    assert error_line(ValueError("first\nsecond")) == "first"
    assert error_line(RuntimeError()) == "RuntimeError"


def _run_diff(tmp_path, old, new, *extra):
    op, np_ = tmp_path / "old.json", tmp_path / "new.json"
    op.write_text(json.dumps(old))
    np_.write_text(json.dumps(new))
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "tools", "diff_bench.py"),
         str(op), str(np_), *extra], capture_output=True, text=True)


def test_diff_bench_gate_codes(tmp_path):
    base = {"value": 10.0, "queries": {"a": 5.0, "b": 5.0}}
    # clean: no regression -> 0
    ok = {"value": 10.0, "queries": {"a": 5.0, "b": 5.0}}
    assert _run_diff(tmp_path, base, ok).returncode == 0
    # real regression -> 1
    bad = {"value": 20.0, "queries": {"a": 15.0, "b": 5.0}}
    assert _run_diff(tmp_path, base, bad).returncode == 1
    # regression whose every run saw host steal -> excluded, but the
    # gate is NOT clean: exit 2 unless --allow-excluded
    stolen = {"value": 20.0, "queries": {"a": 15.0, "b": 5.0},
              "host_steal": {"a": [3.2, 2.8]}}
    r = _run_diff(tmp_path, base, stolen)
    assert r.returncode == 2 and "re-measure" in r.stdout
    assert _run_diff(tmp_path, base, stolen,
                     "--allow-excluded").returncode == 0
    # artifacts from different hosts: both hosts printed, no verdict
    here = {"spark_graft_cpus": "4", "driver_mem": "8g", "cpu_count": 4}
    there = dict(here, spark_graft_cpus="32", cpu_count=32)
    r = _run_diff(tmp_path, dict(base, host=here), dict(bad, host=there))
    assert r.returncode == 3 and "'cpu_count': 32" in r.stdout \
        and "'cpu_count': 4" in r.stdout and "REGRESSION" not in r.stdout
    # same host (or a side that records none): the usual verdicts
    assert _run_diff(tmp_path, dict(base, host=here),
                     dict(bad, host=here)).returncode == 1
    assert _run_diff(tmp_path, base, dict(ok, host=there)).returncode == 0


def test_audit_plans_splice_replaces_only_named_rows():
    """A filtered audit run rewrites its own rows and the flag line and
    leaves every other row as it was; a query the file lacks is
    appended to the table."""
    sys.path.insert(0, os.path.join(HERE, "tools"))
    from audit_plans import _splice
    old = "\n".join([
        "# PLAN_AUDIT", "", "sf_dir: /d. Exchanges ...", "",
        "| query | exchanges | joins | python/flags |", "|---|---|---|---|",
        "| a | 1 | - | - |", "| b | 2+5c | - | ERROR x |",
        "| c | 0 | - | - |", "", "**Flags: ['b', 'c']**", "", "## notes"])
    got = _splice(old, "/d", [("b", "2+3c", "-", "-"),
                              ("z", 0, "-", "-")], ["b", "z"], [])
    lines = got.splitlines()
    assert lines[6:10] == ["| a | 1 | - | - |", "| b | 2+3c | - | - |",
                           "| c | 0 | - | - |", "| z | 0 | - | - |"]
    assert "**Flags: ['c']**" in lines and lines[-1] == "## notes"
    import pytest
    with pytest.raises(SystemExit):
        _splice(old, "/other", [], ["a"], [])
