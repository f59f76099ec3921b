"""The benchmark's own tests.

Run from the repository root (a few minutes; each smoke run starts Spark):

    python3 -m pytest perfbench/test_perfbench.py -q
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

from run import END_TO_END_UNITS, PER_LAYER_UNITS  # noqa: E402
from verify import digest, expected_for, load_expected  # noqa: E402
from workloads import SMOKE_DOCS, WORKLOADS  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_metric_names_match_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_every_slot_has_expected_outputs():
    expected = load_expected()
    for wl in WORKLOADS.values():
        for slot in wl.slots:
            for n_docs in (wl.n_docs, SMOKE_DOCS):
                assert expected_for(expected, slot, n_docs)["rows"] > 0


def test_digest_ignores_row_order_and_float_noise():
    cols = ["b", "a"]
    one = digest([(1.0000001, "x"), (-0.0000001, "y")], cols)
    two = digest([(0.0, "y"), (1.0, "x")], cols)
    assert one == two
    assert digest([(1.5, "x")], cols) != digest([(1.5, "z")], cols)


def _result(proc) -> tuple[dict, list[dict]]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    return lines[-1], [x for x in lines[:-1] if x.get("record") == "pass"]


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_passes_verification(workload):
    result, passes = _result(_run(
        "--workload", workload, "--seed", "7", "--seconds", "0", "--trace", "0",
        "--docs", str(SMOKE_DOCS),
    ))
    assert result["correct"] and result["failed"] == 0
    # cold, warm-up and one timed pass
    assert result["attempted"] == len(passes) == 3
    assert [p["phase"] for p in passes] == ["cold", "warmup", "timed"]
    assert set(result["metrics"]) == set(END_TO_END_UNITS)
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_run_outputs_match_untraced(workload):
    """Plain and traced passes are checked against the same expected
    digests, so both passing means they produced the same outputs."""
    result, passes = _result(_run(
        "--workload", workload, "--seed", "8", "--seconds", "0", "--trace", "1",
        "--docs", str(SMOKE_DOCS),
    ))
    assert result["correct"] and result["failed"] == 0
    assert {p["phase"] for p in passes} >= {"timed", "traced"}
    assert all(p["ok"] for p in passes)
    assert set(result["metrics"]) == set(PER_LAYER_UNITS)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "doc_cluster", "--seed", "1", "--seconds", "1", "--trace", "0",
                cwd=tmp_path, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
