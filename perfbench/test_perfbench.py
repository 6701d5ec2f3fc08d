"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

Run from the repository root. The smoke tests run ``run.py --smoke``
(tiny inputs, one pass) for each workload, untraced and traced, and the
DAG traced once more: about five minutes on a 4-core host.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import probe  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    """One smoke run; returns (last stdout line, report line)."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


_smoke = functools.cache(_run)


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(directory)):
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_parse_metric():
    assert probe.parse_metric("260.2 KiB") == pytest.approx(260.2 * 1024)
    assert probe.parse_metric("4,000") == 4000
    assert probe.parse_metric("total (min, med, max (stageId: taskId))\n35 ms (17 ms, 18 ms, 18 ms (stage 28.0: task 26))") == pytest.approx(0.035)
    assert probe.parse_metric("1.8 s") == pytest.approx(1.8)


def test_inputs_follow_the_seed(tmp_path):
    for seed, sub in ((1, "a"), (1, "b"), (2, "c")):
        inputs.dag_corpus(str(tmp_path / sub / "dag"), seed, 30, 300, members=2)
        inputs.headline_tables(str(tmp_path / sub / "tables"), seed, scale=0.05)
    a, b, c = (_digest(str(tmp_path / s)) for s in "abc")
    assert a == b
    assert a != c


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        BENCH["command"] + ["--workload", BENCH["workloads"][0]["name"], "--seed", "1",
                            "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_emits_every_metric(workload, trace):
    result, report = _smoke(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, report["failures"]
    spec = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] >= 0
        if not trace:
            assert got["value"] > 0
    if trace:
        # per-group sums equal the application totals, nothing evicted
        assert not [f for f in report["failures"] if f.startswith("counters:")]
        assert all(v >= 0 for v in report["app_totals"].values())
        spans = os.path.join(ROOT, ".perfbench", f"spans-{workload}-3.json")
        with open(spans) as fh:
            assert json.load(fh)["spans"]


def test_same_seed_repeats_dag_outputs_and_counts():
    """Two runs with one seed give the same DAG output hashes, CW
    iteration count and CW state rows written."""
    (m1, r1), (m2, r2) = _smoke("textreuse_dag", 1), _run("textreuse_dag", 1)
    assert r1["hashes"] and r1["hashes"] == r2["hashes"]
    assert r1["cw"] == r2["cw"]
    for k in ("clustering.iterations", "clustering.state_rows_written"):
        assert m1["metrics"][k]["value"] == m2["metrics"][k]["value"] > 0
