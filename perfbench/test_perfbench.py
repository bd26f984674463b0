"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The two end-to-end tests start a Spark session each (about a minute in
total on a 4-core box)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from layers import LAYER_NAMES, LAYER_UNITS  # noqa: E402
from run import E2E_UNITS, abba_overhead  # noqa: E402
from workloads import WORKLOADS, ranking_reference  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

WORKLOAD_NAMES = ["recsys_msd", "iterative_driver"]
E2E_NAMES = ["setup_s", "wall_s", "cpu_s", "peak_rss_mb"]


def test_names_are_pinned():
    assert list(WORKLOADS) == WORKLOAD_NAMES
    assert [w["name"] for w in SPEC["workloads"]] == WORKLOAD_NAMES
    assert list(E2E_UNITS) == E2E_NAMES
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == \
        list(E2E_UNITS.items())
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == \
        list(LAYER_UNITS.items())
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    """The single result object: the last stdout line, and the only line
    that parses as a JSON object."""
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    objects = []
    for line in lines:
        try:
            objects.append(json.loads(line))
        except ValueError:
            continue
    assert len(objects) == 1, f"{len(objects)} JSON lines on stdout"
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    return result


def test_untraced_run_prints_end_to_end_metrics():
    res = _result(_run("--workload", "recsys_msd", "--seed", "3",
                       "--seconds", "1", "--trace", "0"))
    assert res["correct"] and res["failed"] == 0
    assert sorted(res["metrics"]) == sorted(E2E_NAMES)
    for name, m in res["metrics"].items():
        assert m["unit"] == E2E_UNITS[name] and m["value"] > 0


def test_traced_run_accounts_for_each_op():
    res = _result(_run("--workload", "iterative_driver", "--seed", "3",
                       "--seconds", "1", "--trace", "1"))
    assert sorted(res["metrics"]) == sorted(LAYER_NAMES)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["operators.jobs"] >= m["queries.build_jobs"] > 0
    assert m["queries.py4j_calls"] > 0
    # Every iteration of the builders' driver loops is a query of its own,
    # so there are many more than the two ops' final plans.
    assert m["plans.queries"] > 2 * len(WORKLOADS["iterative_driver"].ops)
    assert m["plans.optimization_ms"] > 0
    out = os.path.join(ROOT, ".perfbench_out")
    spans_file = max((os.path.join(out, f) for f in os.listdir(out)
                      if f.startswith("spans-iterative_driver-s3-t1")),
                     key=os.path.getmtime)
    with open(spans_file) as f:
        spans = [json.loads(line) for line in f]
    ops = [s for s in spans if s["kind"] == "op"]
    assert ops
    for op in ops:
        parts = [s for s in spans if s["parent"] == op["span_id"]]
        assert {p["name"] for p in parts} == {"build", "plan", "execute"}
        wall = op["end"] - op["start"]
        covered = sum(p["end"] - p["start"] for p in parts)
        assert abs(wall - covered) <= 0.03 * wall + 0.005, (op["name"],
                                                            wall, covered)


def test_abba_overhead_cancels_linear_drift():
    # Passes slow down by 1 s each; tracing adds 0.5 s.
    walls = [10 + i + (0.5 if i % 4 in (1, 2) else 0.0) for i in range(8)]
    over, drift = abba_overhead(walls)
    assert over == pytest.approx(0.5)
    assert drift == pytest.approx(3.0)


def test_fails_without_the_engine():
    bare = os.path.join(ROOT, ".perfbench_cache", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "iterative_driver", "--seed", "1",
                "--seconds", "1", cwd=bare)
    shutil.rmtree(bare)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_generators_are_seeded():
    a = gen.corpus_tables(0.002, 5)
    b = gen.corpus_tables(0.002, 5)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(gen.corpus_tables(0.002, 6)["documents"])
    p = gen.permute_rows(a, 9)
    for t in a:
        assert sorted(p[t].to_pylist(), key=repr) == \
            sorted(a[t].to_pylist(), key=repr)


def test_msd_table_shape():
    t = gen.msd_interactions(200, 300, 10, 1)
    assert t.num_rows == gen.msd_interactions(200, 300, 10, 2).num_rows
    pairs = list(zip(t["user_id"].to_pylist(), t["track_id"].to_pylist()))
    assert len(pairs) == len(set(pairs))
    assert min(t["count"].to_pylist()) >= 1
    assert all(len(u) == 40 for u in t["user_id"].to_pylist())
    assert all(len(x) == 18 and x.startswith("TR")
               for x in t["track_id"].to_pylist())


def test_ranking_reference_by_hand():
    preds = {1: [10, 20, 30], 2: [40, 50, 60]}
    truth = {1: [20, 99], 2: []}
    got = ranking_reference(preds, truth, k=2)
    # user 1: hit at rank 2 -> AP = (1/2)/2, P@2 = 1/2,
    # NDCG@2 = (1/log2(3)) / (1 + 1/log2(3)); user 2 has no truth -> 0.
    assert got["n_users"] == 2
    assert got["map"] == pytest.approx(0.25 / 2)
    assert got["precision_at_k"] == pytest.approx(0.25)
    ndcg1 = (1 / np.log2(3)) / (1 + 1 / np.log2(3))
    assert got["ndcg_at_k"] == pytest.approx(ndcg1 / 2)
