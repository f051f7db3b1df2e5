"""bench.py compares a run only with a recorded run at the same core
count (a record at another core count is not a baseline), and a stale
AB_PAIRED.json clears no regression flag."""

from __future__ import annotations

import json
import subprocess
from pathlib import Path

import pytest

import bench


def _write(path, doc) -> None:
    path.write_text(json.dumps(doc))


def test_baseline_is_the_newest_record_at_the_same_core_count(tmp_path):
    q = {"queries": {"q1": 1.0}}
    _write(tmp_path / "BENCH_r01.json", q)  # legacy: no core count stated
    _write(tmp_path / "BENCH_r02_c4.json", q)
    _write(tmp_path / "BENCH_DETAIL_r02_c4.json", {"queries": {"q1": 2.0}})
    _write(tmp_path / "BENCH_r03.json", {"cpus": 8, "parsed": q})
    _write(tmp_path / "BENCH_DETAIL_r04.json", q)  # no round record: skipped
    _write(tmp_path / "BENCH_r05.json", {"cpus": 4, "parsed": q})
    # an archive stating another core count is not this round's record
    _write(tmp_path / "BENCH_DETAIL_r05.json", {**q, "cpus": 8})

    def pick(cpus):
        rec = bench._latest_recorded(cpus, tmp_path)
        return rec and rec[0]

    assert pick(4) == "BENCH_r05.json"
    assert pick(8) == "BENCH_r03.json"
    assert pick(bench._LEGACY_CPUS) == "BENCH_r01.json"
    assert pick(16) is None
    (tmp_path / "BENCH_r05.json").unlink()
    assert pick(4) == "BENCH_DETAIL_r02_c4.json"


def test_bench_refuses_stale_ab_paired():
    """AB_PAIRED.json only clears regression flags when its B tree is a
    this-round commit (a strict descendant of the newest round-boundary
    commit) and its A tree predates the boundary."""

    def run(*args):
        return subprocess.run(
            ["git", *args],
            cwd=Path(bench.__file__).parent,
            capture_output=True,
            text=True,
        )

    def git(*args):
        return run(*args).stdout.strip()

    boundary = git(
        "log", "--grep", "^round [0-9]*:", "-E", "--format=%h", "-n", "1"
    )
    if not boundary:
        pytest.skip("no round-boundary commit in this checkout")
    head = git("rev-parse", "--short", "HEAD")
    # stale: B tree IS (or predates) the boundary
    assert bench._ab_staleness(boundary + "^", boundary) is not None
    assert bench._ab_staleness(boundary, boundary) is not None
    # unverifiable inputs are stale, not trusted
    assert bench._ab_staleness(None, head) is not None
    assert bench._ab_staleness("definitely-not-a-sha", head) is not None
    # fresh: A predates the boundary, B is a this-round commit (HEAD
    # qualifies whenever it descends from the boundary)
    if (
        head != boundary
        and run("merge-base", "--is-ancestor", boundary, head).returncode == 0
    ):
        assert bench._ab_staleness(boundary + "^", head) is None
