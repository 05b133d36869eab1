"""Unit tests for the scaling bench (no Spark, no processes): the child
runner must retry once with diagnostics when the host kills or hangs a
child JVM and fail loudly after two attempts; `--scaling` sizes its N
and 4N children from the cores this process may run on."""

from __future__ import annotations

import importlib.util
import json
import subprocess
import sys

import pytest


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench_mod", "bench.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _ok(payload):
    return subprocess.CompletedProcess(
        args=[], returncode=0, stdout=json.dumps(payload) + "\n", stderr=""
    )


def _dead():
    return subprocess.CompletedProcess(
        args=[], returncode=-9, stdout="", stderr="jvm killed\n"
    )


def test_child_success_first_try(bench, monkeypatch):
    monkeypatch.setattr(subprocess, "run", lambda *a, **k: _ok({"turns_per_sec": 1.0}))
    assert bench._run_scaling_child([], {}, 8) == {"turns_per_sec": 1.0}


def test_child_retries_after_kill(bench, monkeypatch, capsys):
    calls = iter([_dead(), _ok({"turns_per_sec": 2.0})])
    monkeypatch.setattr(subprocess, "run", lambda *a, **k: next(calls))
    assert bench._run_scaling_child([], {}, 32) == {"turns_per_sec": 2.0}
    assert "jvm killed" in capsys.readouterr().err


def test_child_retries_after_hang(bench, monkeypatch):
    state = {"n": 0}

    def fake_run(*a, **k):
        state["n"] += 1
        if state["n"] == 1:
            raise subprocess.TimeoutExpired(cmd=[], timeout=k.get("timeout"), stderr=b"stuck")
        return _ok({"turns_per_sec": 3.0})

    monkeypatch.setattr(subprocess, "run", fake_run)
    assert bench._run_scaling_child([], {}, 32, timeout=1) == {"turns_per_sec": 3.0}


def test_child_fails_twice_raises(bench, monkeypatch):
    monkeypatch.setattr(subprocess, "run", lambda *a, **k: _dead())
    with pytest.raises(RuntimeError, match="failed twice"):
        bench._run_scaling_child([], {}, 8)


def test_scaling_sizes_children_from_affinity(bench, monkeypatch, capsys, tmp_path):
    (tmp_path / "_SUCCESS").touch()  # input table present: no --gen-only
    monkeypatch.setattr(bench, "_transcripts_path", lambda: str(tmp_path))
    monkeypatch.setattr(subprocess, "run", lambda *a, **k: pytest.fail("started a process"))
    monkeypatch.setattr(bench.shutil, "which", lambda name: "/usr/bin/taskset")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "8g")
    children = []

    def fake_child(cmd, env, cpus, timeout=3600):
        children.append((cmd, env, cpus))
        return {"n_turns": 100, "turns_per_sec": 1000.0 * cpus,
                "control_tps": 5000.0 * cpus, "app_id": f"app-{cpus}", "runs_sec": [1.0]}

    monkeypatch.setattr(bench, "_run_scaling_child", fake_child)
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: {0, 1, 2, 3})
    bench.main_scaling()
    (cmd_n, env_n, n), (cmd_4n, env_4n, n4) = children
    assert (n, n4) == (1, 4)
    assert cmd_n[:3] == ["/usr/bin/taskset", "-c", "0"]
    assert cmd_4n[:3] == ["/usr/bin/taskset", "-c", "0-3"]
    assert cmd_n[-1] == cmd_4n[-1] == "--transcripts-only"
    assert (env_n["SPARK_GRAFT_CPUS"], env_4n["SPARK_GRAFT_CPUS"]) == ("1", "4")
    heap_n, heap_4n = (bench._heap_mb(e["SPARK_DRIVER_MEM"]) for e in (env_n, env_4n))
    assert (heap_n, heap_4n) == (2048, 8192)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n"] == 1 and out["efficiency"] == 1.0
    assert out["control_efficiency"] == 1.0
    assert (out["app_id_n"], out["app_id_4n"]) == ("app-1", "app-4")
    assert bench._cpu_list([0, 1, 2, 3, 6]) == "0-3,6"

    children.clear()
    monkeypatch.setattr(bench.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    with pytest.raises(SystemExit, match="at least 4 cores"):
        bench.main_scaling()
    assert children == []


def test_sys_executable_untouched():
    # sanity: module import above must not have started Spark or
    # mutated interpreter state
    assert "pyspark" not in sys.argv
