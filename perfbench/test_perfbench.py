"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The input tests are fast.  ``test_printed_names`` runs the command once
per listed workload and trace mode (a few minutes on four cores) and
checks that no process of the run is left running.
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _files(d: str) -> "list[str]":
    return sorted(os.path.relpath(os.path.join(dp, f), d)
                  for dp, _, fs in os.walk(d) for f in fs)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes(workload, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    gen.generate(workload, 5, a)
    gen.generate(workload, 5, b)
    assert _files(a) == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert mismatch == [] and errors == []


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_other_seed_other_bytes(workload, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    gen.generate(workload, 5, a)
    gen.generate(workload, 6, b)
    data = [f for f in _files(a) if f.endswith(".parquet")]
    _, mismatch, _ = filecmp.cmpfiles(a, b, data, shallow=False)
    assert mismatch, "a different seed wrote identical inputs"


def test_declared_names_match_benchmark_json():
    import run
    assert {w["name"] for w in BENCH["workloads"]} <= set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.E2E_UNITS
    assert ({m["name"]: m["unit"] for m in BENCH["per_layer"]}
            == run.layer_metric_units())


def _processes_naming(text: str) -> "list[int]":
    pids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                if text.encode() in fh.read():
                    pids.append(int(d))
        except (OSError, ValueError):
            pass
    return pids


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_printed_names(workload, trace):
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    stdout, _ = proc.communicate(timeout=600)
    assert proc.returncode == 0
    # the driver JVM's command line names the run's work directory
    assert _processes_naming(f"{workload}-3-{proc.pid}") == [], \
        "the run left a process running"
    last = json.loads(stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert ({k: v["unit"] for k, v in last["metrics"].items()}
            == {m["name"]: m["unit"] for m in want})
