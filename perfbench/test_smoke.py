"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The smoke runs use ``--smoke`` (a workload's few smoke keys at sf0.001) and
check that every metric named in BENCHMARK.json is emitted with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from eventlog import driver_gap_s  # noqa: E402
from proctree import ThreadClock  # noqa: E402
from run import tail_stat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def run_bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_workloads_match_spec_and_registry():
    sys.path.insert(0, ROOT)
    from trireme_spark import registry

    assert [w["name"] for w in spec()["workloads"]] == list(WORKLOADS)
    for wl in WORKLOADS.values():
        assert wl.keys and len(set(wl.keys)) == len(wl.keys)
        assert set(wl.keys) <= set(registry.QUERIES), wl.name
        assert wl.smoke and set(wl.smoke) <= set(wl.keys), wl.name


def test_tail_stat_leaves_ten_samples_above():
    xs = [float(i) for i in range(40)]
    value, pct = tail_stat(xs)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(75.0)


def test_driver_gap_subtracts_union_of_jobs():
    # 10 s span; jobs cover 2-5 s and 4-6 s (overlapping) and 8-12 s.
    jobs = [(2000, 5000), (4000, 6000), (8000, 12000)]
    assert driver_gap_s((0.0, 10.0), jobs) == pytest.approx(4.0)


def test_thread_clock_counts_threads_that_started_in_full():
    # Thread 1 ran 1.5 s; thread 2 ended (its share is lost); thread 3 is new.
    before = {(1, 1): 5_000_000_000, (1, 2): 1_000_000_000}
    after = {(1, 1): 6_500_000_000, (1, 3): 500_000_000}
    assert ThreadClock.seconds(before, after) == pytest.approx(2.0)


def test_thread_clock_sees_own_work():
    clock = ThreadClock(os.getpid())
    before = clock.snapshot()
    sum(i * i for i in range(2_000_000))
    assert ThreadClock.seconds(before, clock.snapshot()) > 0.01


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        HERE, tmp_path / "perfbench",
        ignore=shutil.ignore_patterns(".runs", ".cache", "out", "__pycache__"),
    )
    proc = run_bench(str(tmp_path), "--workload", "headline", "--seed", "1",
                     "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_emits_every_metric(trace):
    proc = run_bench(ROOT, "--workload", "breadth", "--seed", "1",
                     "--seconds", "1", "--trace", trace, "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    section = spec()["per_layer" if trace == "1" else "end_to_end"]
    assert {m["name"]: m["unit"] for m in section} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    for m in section:
        assert f"\n{m['name']} " in "\n" + proc.stdout
    if trace == "1":
        metrics = result["metrics"]
        assert metrics["sources.io.staged_mb"]["value"] > 0
        assert metrics["exec.checkpoints"]["value"] > 0
        assert metrics["queries.build_jobs"]["value"] > 0
