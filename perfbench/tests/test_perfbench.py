"""Tests of the benchmark itself.  Run from the repository root:

    python -m pytest perfbench/tests -q

The smoke runs start Spark once per workload (about a minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, workloads  # noqa: E402
from perfbench.procstat import ProcTree  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.mark.parametrize(
    "make, files",
    [
        (lambda d, s: inputs.crawl_table(d, 80, s), ("pages.parquet", "claims.parquet")),
        (lambda d, s: inputs.docs_table(d, 80, s), ("pages.parquet", "claims.parquet")),
        (lambda d, s: inputs.near_dup_corpus(d, 200, s), ("documents.parquet",)),
    ],
    ids=["crawl_table", "docs_table", "near_dup_corpus"],
)
def test_generator_bytes_repeat_per_seed(tmp_path, make, files):
    make(str(tmp_path / "a"), 7)
    make(str(tmp_path / "b"), 7)
    make(str(tmp_path / "c"), 8)
    for name in files:
        assert _digest(tmp_path / "a" / name) == _digest(tmp_path / "b" / name)
    assert any(_digest(tmp_path / "a" / n) != _digest(tmp_path / "c" / n) for n in files)


def test_crawl_table_has_every_branch(tmp_path):
    inp = inputs.crawl_table(str(tmp_path), 400, 3)
    from perfbench.layers import input_branches

    rows = input_branches(inp.frame)
    assert rows["extract.rows.text"] and rows["extract.rows.html"] and rows["extract.rows.pdf"]
    assert rows["extract.rows.none"] == 0


def test_near_dup_corpus_has_its_share_of_copies(tmp_path):
    frame = inputs.near_dup_corpus(str(tmp_path), 400, 5).frame
    copies = [t for t in frame["text"] if t.endswith(" dup")]
    assert len(copies) == round(inputs.DUP_FRACTION * 400)
    # the generated words never include "dup": only the copies carry it
    assert sum("dup" in t.split(" ") for t in frame["text"]) == len(copies)


def test_workload_names_match_benchmark_json():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(workloads.WORKLOADS)


def test_proc_tree_splits_cpu_by_role():
    tree = ProcTree()
    before = tree.members()
    child = subprocess.Popen([sys.executable, "-c", "import time\nt=time.time()\nwhile time.time()-t<0.5: pass"])
    time.sleep(0.3)
    during = tree.members()
    child.wait(timeout=30)
    assert during[child.pid][0] == "python"
    assert ProcTree.cpu_delta(before, during)["python"] > 0.1


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run_passes_its_output_check(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_smoke_run_prints_every_layer_metric():
    res = _run("crawl_mixed", 1)
    assert res["correct"]
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    benchmark fails fast and prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_mixed", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
