"""Tests of the benchmark itself: event-log attribution, the declared
metric set, and the refusal to run without the engine.

    python3 -m pytest loadbench -q -p no:cacheprovider

Each test starts its own Spark JVM or benchmark process (about two
minutes in all on a 4-core host).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

from loadbench import eventlog, run

ROOT = run.ROOT


@pytest.fixture
def restore_env():
    saved, tmp = dict(os.environ), tempfile.tempdir
    yield
    os.environ.clear()
    os.environ.update(saved)
    tempfile.tempdir = tmp


def test_eventlog_attribution_on_one_query(restore_env):
    r = run.Run("census_moe", seed=5, seconds=0, trace=True)
    try:
        r.setup()
        r.queries = ["q_sum_m"]
        execs, _, passes, _ = r.loop()
        r.stop_spark()  # flushes the event log
        assert len(execs) == passes == run.MIN_PASSES["census_moe"]
        name, t0, _, t2, _ = execs[0]
        assert name == "q_sum_m"
        window = (int(t0 * 1000), int(t2 * 1000) + 1)
        events = list(eventlog.read_events(r.settings["event_log"]))
        prof, = eventlog.attribute(events, [window])
        # nothing outside the window is attributed to it
        empty, = eventlog.attribute(events, [(window[1] + 1, window[1] + 2)])
    finally:
        r.close()
    assert prof.jobs >= 1
    assert prof.tasks >= 1
    assert prof.input_mb > 0
    assert window[0] <= prof.first_job_ms <= window[1]
    # executor CPU is reported in ns, run time in ms: allow 1 ms a task
    assert 0 < prof.task_cpu_s <= prof.task_run_s + prof.tasks * 1e-3
    assert empty.jobs == 0 and empty.tasks == 0


def _declared(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_run_reports_declared_metrics(trace, section):
    p = subprocess.run(
        [sys.executable, "loadbench/run.py", "--workload", "census_moe",
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == _declared(section)
    assert not os.path.exists(os.path.join(ROOT, ".loadbench_work"))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "loadbench"), tmp_path / "loadbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "loadbench/run.py", "--workload", "census_moe",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
