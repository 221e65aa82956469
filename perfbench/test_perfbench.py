"""Tests of the benchmark itself: seeded inputs, answer normalisation,
interval accounting, the result-line contract, and that a run leaves the
working tree as it found it.

    python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
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
sys.path.insert(0, ROOT)

from perfbench.inputs import render_datasus, write_star_schema  # noqa: E402
from perfbench.tracing import _covered  # noqa: E402
from perfbench.workloads import normalize  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            with open(os.path.join(dirpath, n), "rb") as fh:
                out[os.path.relpath(os.path.join(dirpath, n), root)] = fh.read()
    return out


def test_inputs_follow_the_seed(tmp_path):
    a = render_datasus(str(tmp_path / "a"), 7, 2, 2, 1, (50, 80))
    b = render_datasus(str(tmp_path / "b"), 7, 2, 2, 1, (50, 80))
    c = render_datasus(str(tmp_path / "c"), 8, 2, 2, 1, (50, 80))
    assert a.dbc_members == b.dbc_members and a.totals == b.totals
    assert a.dbc_members != c.dbc_members
    assert len(a.cold) == 4 and len(a.replay) == 6 and len(a.new_months) == 1
    assert set(a.cold_months) | set(a.new_months) == set(a.totals)
    write_star_schema(str(tmp_path / "s1"), 3, 0.001)
    write_star_schema(str(tmp_path / "s2"), 3, 0.001)
    assert _tree(str(tmp_path / "s1")) == _tree(str(tmp_path / "s2"))


def test_normalize_is_order_insensitive():
    rows = [(1, "a", 0.1 + 0.2), (2, "b", -0.0)]
    swapped = [("b", 0.0, 2), ("a", 0.3, 1)]
    assert normalize(rows, ["k", "s", "x"]) == normalize(swapped, ["s", "x", "k"])
    assert normalize(rows, ["k", "s", "x"]) != normalize([(1, "a", 0.31)], ["k", "s", "x"])


def test_covered_merges_and_clips():
    assert _covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert _covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert _covered([], 0, 1) == 0


def test_without_the_engine_it_fails_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(
        "results", ".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "datasus_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.skipif(
    shutil.which("git") is None
    or subprocess.run(["git", "-C", ROOT, "rev-parse"], capture_output=True).returncode,
    reason="needs a git checkout",
)
def test_traced_run_is_correct_and_leaves_the_tree_clean():
    def status() -> str:
        return subprocess.run(
            ["git", "-C", ROOT, "status", "--porcelain", "--untracked-files=all"],
            capture_output=True, text=True, check=True,
        ).stdout

    before = status()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "datasus_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["per_layer"]}
    assert set(result["metrics"]) == names
    assert "writer.useful_ratio" in proc.stdout
    assert status() == before
