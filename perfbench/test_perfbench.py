"""The benchmark's own tests. They start Spark sessions and take several
minutes; run them on their own:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import E2E_UNITS, WORKLOADS  # noqa: E402

MIX = {"latest": 3, "history": 2}


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.fixture
def scratch():
    d = os.path.join(ROOT, ".perfbench", f"test-{os.getpid()}")
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_inputs_are_a_pure_function_of_the_seed(scratch):
    digests = {}
    for seed, copy in ((1, "a"), (1, "b"), (2, "a")):
        out = os.path.join(scratch, f"{seed}{copy}")
        gen.write_prices_table(gen.Market(seed, gen.BASE_TICKS), os.path.join(out, "prices"))
        gen.write_analytics_tables(seed, os.path.join(out, "sf"))
        pq.write_table(gen.raw_tick_table(gen.Market(seed, gen.BASE_TICKS + 3), 2),
                       os.path.join(out, "tick.parquet"))
        digests[seed, copy] = _digest(out)
    assert digests[1, "a"] == digests[1, "b"]
    assert digests[1, "a"] != digests[2, "a"]
    assert gen.request_sequence(1, 500, MIX, 10) == gen.request_sequence(1, 500, MIX, 10)
    assert gen.request_sequence(1, 500, MIX, 10) != gen.request_sequence(2, 500, MIX, 10)


def test_request_blocks_keep_the_mix():
    seq = gen.request_sequence(3, 50, MIX, 10)
    for i in range(0, 50, 5):
        kinds = [k for k, _ in seq[i:i + 5]]
        assert {k: kinds.count(k) for k in MIX} == MIX
        assert all((s is not None) == (k == "history") for k, s in seq[i:i + 5])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_two_seeds_pass_the_output_checks(workload):
    for seed in (101, 102):
        res = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", "5", "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        assert res.returncode == 0, res.stderr[-3000:]
        result = json.loads(res.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0, res.stdout[-3000:]
        assert result["attempted"] >= 1
        assert set(result["metrics"]) == set(E2E_UNITS)
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_tracing_adds_no_jobs_and_counts_repeat():
    """Fresh sessions run one fixed operation list; see counts.py. The
    operations whose counts do not repeat are recorded, not asserted."""
    res = subprocess.run([sys.executable, os.path.join(HERE, "counts.py")],
                         cwd=ROOT, capture_output=True, text=True, timeout=1200)
    assert res.returncode == 0, res.stderr[-3000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["tracing_adds_no_jobs"], summary


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "results"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env)
    assert res.returncode != 0
    assert '"correct"' not in res.stdout
