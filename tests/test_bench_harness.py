"""bench.py's harness with no Spark: a scripted host sampler and clock
drive run_leg through its clean, retried and still-dirty paths; the child
runner's memory check and the import's side effects are checked too."""

import importlib
import os
import sys
import types

import pytest

import bench


def _scripted(monkeypatch, runs):
    """Script bench's clock and /proc/stat sampler. `runs` holds one
    (wall_s, sys_pct, steal_pct) per run, in order; the returned job plays
    the next one and returns its 1-based index. A run past the script
    raises IndexError."""
    state = {"t": 0.0, "ticks": [0, 0, 0, 0], "n": 0}

    def job():
        wall, sys_pct, steal_pct = runs[state["n"]]
        state["n"] += 1
        state["t"] += wall
        ticks = state["ticks"]  # (user, sys, idle, steal), 100 per run
        ticks[1] += sys_pct
        ticks[2] += 100 - sys_pct - steal_pct
        ticks[3] += steal_pct
        return state["n"]

    monkeypatch.setattr(bench, "_cpu_ticks", lambda: tuple(state["ticks"]))
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(
        perf_counter=lambda: state["t"]))
    return job


@pytest.mark.parametrize("runs", [
    [(2.0, 0, 0), (1.0, 0, 0)],
    # a dirty run that is not the fastest does not trigger the retry
    [(1.0, 0, 0), (2.0, 0, 9)],
])
def test_clean_fastest_run_takes_two_runs(monkeypatch, runs):
    job = _scripted(monkeypatch, runs)
    wall, host, out = bench.run_leg(job)
    assert wall == 1.0
    assert host == {"sys_pct": 0.0, "steal_pct": 0.0, "dirty": False,
                    "runs": [runs[0][0], runs[1][0]]}
    assert out == 1  # the first run's result


def test_dirty_fastest_run_takes_a_third(monkeypatch):
    job = _scripted(monkeypatch, [(2.0, 0, 0), (1.0, 0, 9), (0.5, 1, 0)])
    wall, host, out = bench.run_leg(job)
    assert wall == 0.5
    assert host == {"sys_pct": 1.0, "steal_pct": 0.0, "dirty": False,
                    "runs": [2.0, 1.0, 0.5]}
    assert out == 1


@pytest.mark.parametrize("dirty_run", [(1.0, 0, 9), (1.0, 6, 0)])
def test_still_dirty_after_retry_is_flagged(monkeypatch, dirty_run):
    job = _scripted(monkeypatch, [(2.0, 0, 0), dirty_run, (1.5, 0, 0)])
    wall, host, _ = bench.run_leg(job)
    assert wall == 1.0
    assert host["dirty"] is True
    assert host["runs"] == [2.0, 1.0, 1.5]
    assert (host["sys_pct"], host["steal_pct"]) == dirty_run[1:]


def test_one_shot_leg_records_dirt_without_retry(monkeypatch):
    job = _scripted(monkeypatch, [(1.0, 0, 9)])
    wall, host, out = bench.run_leg(job, 1, retry=False)
    assert (wall, out) == (1.0, 1)
    assert host["dirty"] is True and host["runs"] == [1.0]


def test_children_skip_when_their_heaps_do_not_fit(monkeypatch):
    monkeypatch.setattr(bench, "_mem_available_gib", lambda: 12.0)

    def no_spawn(*a, **k):
        raise AssertionError("a child was started")

    monkeypatch.setattr(bench.subprocess, "Popen", no_spawn)
    res = bench.run_children(2, 8, 4, 1, summarize=lambda outs: outs)
    assert set(res) == {"skipped"}
    assert "MemAvailable is 12.0 GiB" in res["skipped"]


def test_import_leaves_environ_unchanged(monkeypatch):
    for k in ("PYSPARK_PYTHON", "PYSPARK_DRIVER_PYTHON",
              "ARROW_DEFAULT_MEMORY_POOL", "MALLOC_TRIM_THRESHOLD_",
              "MALLOC_MMAP_THRESHOLD_"):
        monkeypatch.delenv(k, raising=False)
    before = dict(os.environ)
    monkeypatch.delitem(sys.modules, "bench")
    importlib.import_module("bench")
    assert dict(os.environ) == before
