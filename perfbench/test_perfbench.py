"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The record tests start one benchmark process per (workload, seed, trace)
with a 1-second measuring window, so the module takes a few minutes.
"""
from __future__ import annotations

import importlib.util
import json
import re
import shutil
import subprocess
import sys
import tempfile
from functools import lru_cache
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _load_run():
    spec = importlib.util.spec_from_file_location("perfbench_run", HERE / "run.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


RUN = _load_run()
DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path[:0] = [str(HERE), str(ROOT)]
import workloads  # noqa: E402


@lru_cache(maxsize=None)
def record(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """(run record, result) of one benchmark process."""
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=300)
    assert p.returncode == 0
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def test_metric_names_match_pattern():
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in DECLARED[key]]
    names += [w["name"] for w in DECLARED["workloads"]]
    assert names and all(NAME.fullmatch(n) for n in names)
    assert len(names) == len(set(names))


def test_declared_metrics_are_the_ones_the_runner_reports():
    assert {m["name"]: m["unit"] for m in DECLARED["end_to_end"]} == RUN.END_TO_END
    assert {m["name"]: m["unit"] for m in DECLARED["per_layer"]} == RUN.PER_LAYER
    assert tuple(w["name"] for w in DECLARED["workloads"]) == RUN.WORKLOAD_NAMES


def test_deadline_leaves_the_declared_window_room():
    # a run must exit within 180 s; the deadline kills it before that
    seconds = DECLARED["run_seconds"]
    assert seconds * 3 < RUN.deadline_s(seconds) < 180


def test_brute_force_pairs_on_a_hand_example():
    texts = {1: "a b c d", 2: "a  b c e", 3: "x y z", 4: "a b"}
    # bigrams of 1 and 2: {ab, bc, cd} and {ab, bc, ce}: 2 shared of 4
    assert workloads.brute_force_pairs(texts, 2, 50) == [(1, 2, 2, 3, 3)]
    assert workloads.brute_force_pairs(texts, 2, 51) == []


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", RUN.WORKLOAD_NAMES)
def test_every_declared_metric_is_in_the_record(workload, trace):
    _, res = record(workload, 1, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    key = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in DECLARED[key]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_seed_changes_input_but_not_metric_names():
    rec1, res1 = record("pyramid_write", 1, 0)
    rec2, res2 = record("pyramid_write", 2, 0)
    assert rec1["input_digest"] != rec2["input_digest"]
    assert set(res1["metrics"]) == set(res2["metrics"])


def test_fails_without_the_package():
    """A directory holding only BENCHMARK.json and the benchmark's files."""
    (ROOT / ".bench_work").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=ROOT / ".bench_work") as tmp:
        shutil.copytree(HERE, Path(tmp) / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", tmp)
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "join_tile", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=tmp, stdout=subprocess.PIPE, text=True, timeout=180)
    assert p.returncode != 0 and p.stdout.strip() == ""
