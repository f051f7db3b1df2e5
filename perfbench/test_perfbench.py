"""Tests of the benchmark itself, at smoke size.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Each workload runs once, traced, with one expected result deliberately
corrupted: the run must report the wrong result and still emit every
metric that BENCHMARK.json names. In the ``bi_queries`` run one
operation also raises; its metrics must read NaN. A copy of the
benchmark without the engine sources must refuse to run.
"""

from __future__ import annotations

import io
import json
import shutil
import subprocess
import sys
from contextlib import redirect_stdout
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import medallion, run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str) -> tuple[dict, dict]:
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert run.main([
            "--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", "1", "--smoke",
        ]) == 0
    result = json.loads(buf.getvalue().strip().splitlines()[-1])
    record = json.loads(
        (ROOT / ".perfbench_out" / "results" / f"{workload}-seed7-trace1.json").read_text()
    )
    return result, record


def _assert_metrics(result: dict, record: dict) -> None:
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    assert set(record["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert all(v["unit"] == units[k] for k, v in result["metrics"].items())


def test_medallion_wrong_mart_is_caught(monkeypatch):
    real = medallion.expected_marts

    def corrupted(landed):
        marts = real(landed)
        row = list(marts["metrics_revenue"][0])
        row[-1] += 1  # one more order than the pipeline counted
        marts["metrics_revenue"][0] = tuple(row)
        return marts

    monkeypatch.setattr(medallion, "expected_marts", corrupted)
    result, record = _run("medallion_cycle")
    _assert_metrics(result, record)
    assert not result["correct"] and result["failed"] == 1
    assert result["attempted"] >= 3


def test_bi_wrong_or_failed_operation_is_caught(monkeypatch):
    import math

    import tools.check_correctness as cc

    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES

    real = cc.run_duckdb

    def corrupted(sql, sf_dir):
        rows, cols = real(sql, sf_dir)
        if sql == QUERIES["top3_orders_per_customer"].oracle:
            rows = rows[1:]  # the oracle loses a row
        return rows, cols

    def broken(spark, sf_dir):
        raise RuntimeError("the operation fails")

    monkeypatch.setattr(cc, "run_duckdb", corrupted)
    monkeypatch.setattr(QUERIES["copurchase_pagerank"], "builder", broken)
    result, record = _run("bi_queries")
    _assert_metrics(result, record)
    assert not result["correct"]
    failed = {o["op"].split("-", 1)[1] for o in record["ops"] if o["failed"]}
    assert failed == {"top3_orders_per_customer", "copurchase_pagerank"}
    assert math.isnan(record["end_to_end"]["bulk_s"])
    assert math.isnan(record["info"]["workload_metrics"]["pagerank_s"])
    assert not math.isnan(record["end_to_end"]["latency_s"])


def test_refuses_without_engine_sources(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        SPEC["command"] + ["--workload", "bi_queries", "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.mark.parametrize("values,expected", [([3.0], 3.0), (list(range(1, 21)), 10)])
def test_tail_has_ten_samples_above(values, expected):
    from perfbench.bi import tail

    assert tail(values) == expected


def test_tail_of_no_samples_is_nan():
    import math

    from perfbench.bi import tail

    assert math.isnan(tail([]))
