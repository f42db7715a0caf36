"""The benchmark's own test, at a tiny input size.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end runs start Spark (about a minute each, four runs).  They
check that every named metric is printed with its unit, and that a
falsified result is counted in ``failed_op_ratio`` and makes the command
exit non-zero.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import catalog, inputs  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def test_benchmark_json_matches_catalog():
    b = _bench_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(catalog.WORKLOADS)
    assert all(set(w) == {"name", "why"} for w in b["workloads"])
    assert {
        m["name"]: (m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]
    } == {k: v[:3] for k, v in catalog.END_TO_END.items()}
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == {
        k: (v[0], "higher" if k in catalog.HIGHER_IS_BETTER else "lower")
        for k, v in catalog.PER_LAYER.items()
    }
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_statuses_are_the_packages_error_codes():
    from flink_big_query_connector_spark.streaming.errors import StatusCode

    assert set(catalog.STATUSES) == {s.value for s in StatusCode} - {"OK"}


def test_inputs_follow_the_seed(tmp_path):
    a = inputs.write_event_chunks(str(tmp_path / "a"), 3, 2, 50, 2)
    b = inputs.write_event_chunks(str(tmp_path / "b"), 3, 2, 50, 2)
    c = inputs.write_event_chunks(str(tmp_path / "c"), 4, 2, 50, 2)
    assert a.equals(b) and not a.equals(c)
    assert inputs.scan_table(3, 100).equals(inputs.scan_table(3, 100))
    files = sorted(os.listdir(tmp_path / "a"))
    mtimes = [os.path.getmtime(tmp_path / "a" / f) for f in files]
    assert mtimes == sorted(mtimes)


def test_same_events_catches_a_dropped_or_duplicated_row(tmp_path):
    rows = inputs.write_event_chunks(str(tmp_path), 1, 1, 20, 1)
    shuffled = rows.take(pa.array(list(reversed(range(rows.num_rows)))))
    assert inputs.same_events(shuffled, rows)
    assert not inputs.same_events(rows.slice(1), rows)
    dup = pa.concat_tables([rows.slice(1), rows.slice(1, 1)])
    assert not inputs.same_events(dup, rows)


def test_scan_expectation_counts_the_filter():
    t = inputs.scan_table(2, 1_000)
    n, qty, ids = inputs.scan_expectation(t, 100)
    assert n == 1_000 and ids == sum(range(1_000))
    assert inputs.scan_expectation(t, 0) == (0, 0, 0)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    rc, result, err = _run(catalog.IEO, 0, cwd=str(tmp_path))
    assert rc != 0 and result is None
    assert "not found" in err


@pytest.mark.parametrize("workload", catalog.WORKLOADS)
def test_every_end_to_end_metric_is_printed(workload):
    rc, result, err = _run(workload, 0, "--scale", "tiny")
    assert rc == 0, err[-2000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(catalog.END_TO_END)
    for name, m in result["metrics"].items():
        assert m["unit"] == catalog.END_TO_END[name][0]
        assert m["value"] > 0, name


@pytest.mark.parametrize(
    "workload,corrupt",
    [(catalog.IEO, "readback"), (catalog.TS, "scan")],
)
def test_a_wrong_result_fails_the_run(workload, corrupt):
    rc, result, err = _run(workload, 1, "--scale", "tiny", "--corrupt", corrupt)
    assert rc != 0
    assert not result["correct"] and result["failed"] >= 1
    assert set(result["metrics"]) == set(catalog.PER_LAYER)
    for name, m in result["metrics"].items():
        assert m["unit"] == catalog.PER_LAYER[name][0], name
    ratio = result["metrics"]["failed_op_ratio"]["value"]
    assert ratio == pytest.approx(result["failed"] / result["attempted"])
    assert ratio > 0
