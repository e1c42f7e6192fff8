"""BENCHMARK.json agrees with the runner, inputs follow the seed, and the
runner refuses to run outside a checkout of the engine."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import run
from conftest import HERE, ROOT
from inputs import documents_table


def test_benchmark_json_matches_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    with open(os.path.join(HERE, "expected_digests.json")) as f:
        pinned = json.load(f)
    from workloads import WORKLOADS

    for name, wl in WORKLOADS.items():
        assert set(pinned[name]) == set(wl.ops + wl.traced_ops)


def test_documents_follow_the_seed():
    a, b, c = documents_table(300, 7), documents_table(300, 7), documents_table(300, 8)
    assert a.equals(b)
    assert not a.equals(c)
    texts = a.column("text").to_pylist()
    assert sum(t.endswith(" dup") for t in texts) > 0
    assert a.column("n_chars").to_pylist() == [len(t) for t in texts]


def test_runner_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "geo", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
