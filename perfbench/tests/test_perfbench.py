"""Tests of the benchmark itself: input determinism, the metric schema
against BENCHMARK.json, a smoke run of every workload, and that a run
leaves no process behind.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import fixtures  # noqa: E402
from perfbench.run import adopt_orphans, child_pids, end_to_end  # noqa: E402
from perfbench.workloads import Op, Result  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def _tree_digest(root: str) -> dict[str, str]:
    """SHA-256 of every input file (``expected.json`` holds absolute
    paths, so it is compared by value instead)."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            if name == "expected.json":
                continue
            path = os.path.join(d, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _values(desc: dict) -> dict:
    return {k: {f: v for f, v in d.items() if f not in ("uri", "files")} for k, d in desc.items()}


def test_weather_inputs_are_deterministic(tmp_path):
    a = fixtures.weather_stores(str(tmp_path / "a"), 7)
    b = fixtures.weather_stores(str(tmp_path / "b"), 7)
    fixtures.weather_stores(str(tmp_path / "c"), 8)
    da, db, dc = (_tree_digest(str(tmp_path / x)) for x in "abc")
    assert da == db and _values(a) == _values(b)
    assert da.keys() == dc.keys() and da != dc
    assert set(a) == set(fixtures.FORMATS)
    for desc in a.values():
        assert len(desc["full"]) == len(desc["pruned"]) == 2  # two days
        assert 0 < desc["kept_frac"] <= 1


def test_ingest_inputs_are_deterministic(tmp_path):
    a = fixtures.ingest_days(str(tmp_path / "a"), 3)
    b = fixtures.ingest_days(str(tmp_path / "b"), 3)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert [d["sum"] for d in a] == [d["sum"] for d in b]
    assert all(0 < d["area_rows"] < d["rows"] for d in a)


def test_end_to_end_names_and_units_match_spec():
    results = [Result(Op("x", scan), wall=1.0 + i, deliver=0.5, cells=10.0, bytes_out=5.0)
               for i, scan in enumerate(("full", "pruned", "full"))]
    metrics = end_to_end(results, 3.0, (1.0, 2.0))
    assert {k: u for k, (_, u) in metrics.items()} == E2E
    assert all(v > 0 for v, _ in metrics.values())


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "0", "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_traced_run(workload):
    # a process the run leaves behind is reparented here, and stays
    # listed as a child (a zombie, if it has ended) until reaped
    adopt_orphans()
    before = set(child_pids())
    p = _run(ROOT, workload, 1)
    assert set(child_pids()) - before == set()
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    assert {k: v["unit"] for k, v in out["metrics"].items()} == LAYER


def test_smoke_untraced_run():
    p = _run(ROOT, "weather_ingest", 0)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == E2E
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".results", "__pycache__"))
    p = _run(str(tmp_path), "weather_query", 0)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
