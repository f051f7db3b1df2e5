"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end: plan construction + execution +
collect(), which materializes EVERY output column. (A count() action
would let Catalyst prune the projected expressions away — measured:
minhash_signatures "ran" in 0.34s under count() vs ~2s real. The noop
DSv2 write also forces full evaluation but bypasses AQE, uniformly
inflating shuffle-heavy queries ~2x — collect keeps AQE in play and is
what the driver's own harness does.) Result sizes are bounded (top-k /
grouped outputs), so driver transfer is negligible. A warmup query
first amortizes JVM/codegen startup so numbers reflect steady-state
engine throughput, not JIT warmup.

Regression tracking (VERDICT r1 #9): per-query steady-state times are
compared against the newest recorded BENCH_r*.json made at the SAME
core count; anything >1.25x slower lands in "regressions". With no
recorded run at this core count the line says "no like-for-like
baseline" and flags nothing: a 4-core run read against a 32-core record
flags the queries that scale best, not the ones that got slower. The
table layer is timed separately via the silver->gold mart round-trip
(pipelines/mart_bench) under "table_layer" — kept OUT of the headline
total so `value` stays comparable across rounds.

Environment calibration: the shared VM's effective speed drifts
between rounds (measured: the IDENTICAL r1 commit re-benched 1.7x
slower than its recorded r1 numbers on a later day — host contention,
not code). A fixed CPU-bound workload ("spark_hash_120m": sum of
xxhash64 over a 120M-row range, whole-stage codegen, all cores) is
timed each run and recorded under "calibration"; cross-round TOTALS
are scaled by its drift ("prev.calibration_drift",
"prev.ratio_calibrated").

Per-query regression flags are SELF-calibrated instead (r5 triage
finding): the pure-CPU probe over-responds to host contention relative
to the mixed scan/shuffle queries — r4→r5 measured probe drift 0.68x
while the median query ratio was 0.78x — so scaling individual queries
by probe drift manufactures ±20% false flags in whichever direction
the host moved. The robust host-speed estimator is the MEDIAN ratio of
the >=24 shared queries themselves (a real single-query regression
cannot move the median); a query is flagged when its ratio exceeds
median * 1.25. Queries whose benched WORKLOAD deliberately changed
since the recorded baseline (e.g. r4's image_pixel_stats decoding four
codecs where r3 decoded two) are annotated in WORKLOAD_CHANGES and
reported under "workload_changes" instead of "regressions" — the
driver's gate then compares like with like.

The DEFINITIVE cross-round speed signal is the interleaved A/B run
(tools/ab_bench.py, VERDICT r5 next #2): the previous round's tree and
this tree run as resident workers on one host with executions
alternated per query (A-B, B-A, A-B), so host drift cancels inside
every pair. Its per-query paired ratios are attached to this script's
JSON line under "ab_paired"; the single-probe calibration above is
retained as ADVISORY ONLY.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
from real_time_e_commerce_analytics_lakehouse_spark.session import get_spark

REGRESSION_RATIO = 1.25

# Queries whose benched workload deliberately changed relative to the
# newest RECORDED round — compared like-for-like is impossible, so they
# are reported under "workload_changes" (with the note) instead of
# "regressions". Prune entries once a round records the new workload.
WORKLOAD_CHANGES: dict[str, str] = {}


def _git(*args: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", *args],
            cwd=Path(__file__).resolve().parent,
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _ab_staleness(a_commit: str | None, b_commit: str | None) -> str | None:
    """Return a reason string if AB_PAIRED.json cannot be trusted for
    the CURRENT round, else None.

    The A/B file clears single-run regression flags as host noise, so a
    stale file (commits from a previous round) would launder genuine
    current-round regressions. Freshness contract: the B tree must be a
    strict descendant of the newest driver round-boundary commit
    ("round N: verdict/advice/correctness/bench"), and the A tree must
    predate that boundary (it is the previous round's tree). When the
    repo has no boundary commit yet (round 1), any in-repo pair is
    accepted. Unverifiable (git missing, unknown SHAs) counts as stale.
    """
    if not a_commit or not b_commit:
        return "missing commit ids"
    boundary = _git(
        "log", "--grep", "^round [0-9]*:", "-E", "--format=%h", "-n", "1"
    )
    if boundary is None:
        return "git unavailable"
    for name, sha in (("a_commit", a_commit), ("b_commit", b_commit)):
        if _git("rev-parse", "--verify", "--quiet", f"{sha}^{{commit}}") is None:
            return f"{name} {sha} not in repo"
    if not boundary:
        return None  # round 1: no boundary commit yet
    if (
        _git("merge-base", "--is-ancestor", boundary, b_commit) is None
        or _git("rev-parse", "--short", boundary)
        == _git("rev-parse", "--short", b_commit)
    ):
        return f"b_commit {b_commit} predates round boundary {boundary}"
    if _git("merge-base", "--is-ancestor", a_commit, boundary) is None:
        return f"a_commit {a_commit} is not a previous-round tree"
    return None


def _recover_from_tail(doc: dict) -> dict | None:
    """Salvage a round whose JSON line outgrew the driver's tail capture
    (BENCH_r03: "parsed": null, "tail" starts mid-object). The steady
    per-query map sits before the "cold_run" key; calibration appears
    once. Truncated leading key parses under a garbled name and is
    simply never matched against a real query."""
    tail = doc.get("tail")
    if not isinstance(tail, str):
        return None
    # cut before the first non-query section in EITHER stdout format:
    # verbose rounds had "cold_run" after the steady map; the compact
    # format goes straight to "calibration"/"regressions". Without the
    # extra sentinels a truncated compact line would sweep regression
    # RATIOS into the recovered per-query map (last regex match wins)
    # and poison the next round's baseline.
    head = re.split(r'"cold_run"|"calibration"|"regressions"', tail)[0]
    queries = {
        m.group(1): float(m.group(2))
        for m in re.finditer(r'"(\w+)":\s*([0-9.]+)', head)
    }
    if not queries:
        return None
    out: dict = {"queries": queries}
    cal = re.search(r'"spark_hash_120m":\s*([0-9.]+)', tail)
    if cal:
        out["calibration"] = {"spark_hash_120m": float(cal.group(1))}
    return out


# Rounds recorded before bench.py stated its core count ran on 32 cores;
# the 8-core runs of that era are the `_c8`-suffixed archives.
_LEGACY_CPUS = 32


def _latest_recorded(
    cpus: int, here: Path = Path(__file__).resolve().parent
) -> tuple[str, dict] | None:
    """Newest parseable record of a COMPLETED round run at `cpus` cores,
    by round number.

    A record's core count is its `_c{N}` archive suffix, else the
    `cpus` the record or its "parsed" envelope states, else
    _LEGACY_CPUS. For each recorded round N (a BENCH_r{N}.json or
    BENCH_r{N}_c{cpus}.json exists), prefer the full-fidelity archive
    bench.py wrote during that round (BENCH_DETAIL_r{N}.json, unless it
    states another core count) over the round file's bounded
    ~2,000-char stdout capture — the r6->r7 prev comparison covered
    only 13 shared queries because it had to read a truncated tail
    (VERDICT r7 procedural note). Falls back to the round file's
    parsed envelope, then tail recovery, then earlier rounds. Rounds
    without a BENCH_r{N}.json are NOT candidates: a mid-round local
    archive must never become its own round's baseline."""
    cands = []
    for p in glob.glob(str(here / "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)(_c(\d+))?\.json$", p)
        if m:
            cands.append((int(m.group(1)), m.group(2) or "", p))
    for n, suffix, path in sorted(cands, reverse=True):
        try:
            with open(path) as f:
                doc = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if suffix:
            rec_cpus = int(suffix[2:])
        else:
            parsed = doc.get("parsed")
            rec_cpus = doc.get("cpus") or (
                parsed.get("cpus") if isinstance(parsed, dict) else None
            ) or _LEGACY_CPUS
        if rec_cpus != cpus:
            continue
        detail_path = here / f"BENCH_DETAIL_r{n:02d}{suffix}.json"
        try:
            with open(detail_path) as f:
                detail = json.load(f)
            if detail.get("queries") and detail.get("cpus", cpus) == cpus:
                return detail_path.name, detail
        except (OSError, json.JSONDecodeError):
            pass
        # the driver wraps bench.py's JSON line under "parsed"
        if "parsed" in doc and isinstance(doc["parsed"], dict):
            doc = doc["parsed"]
        elif "parsed" in doc:
            recovered = _recover_from_tail(doc)
            if recovered is None:
                continue
            doc = recovered
        return os.path.basename(path), doc
    return None


def _current_round() -> int:
    """This run's round number = newest driver-recorded round + 1."""
    here = Path(__file__).resolve().parent
    rounds = [
        int(m.group(1))
        for p in glob.glob(str(here / "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = Path(sf_dir).name.replace("sf", "")
    spark = get_spark(app_name="bench")

    bench_queries = [name for name, q in QUERIES.items() if q.bench]

    from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
        release_cached,
    )

    def run(name: str) -> None:
        # Drain the query's cache leases after the action: builders that
        # persist intermediates attach them as `_cached_deps` for the
        # caller to release. Without this, the steady-state reruns of the
        # SAME query re-persist an identical plan while the cold run's
        # entry is still cached — 8 `CacheManager: Asked to cache already
        # cached data` warnings in the r5 bench tail (VERDICT r5 wrong
        # #3), and the steady runs silently reuse the cold run's cache
        # instead of measuring a self-contained execution.
        df = QUERIES[name].builder(spark, sf_dir)
        df.collect()
        release_cached(df)

    # warmup: run the flagship once to pay JVM/codegen/parquet-footer costs
    run("revenue_by_nation_status")

    # r12 (VERDICT r11 what's-wrong #3 / next #6): the IVF index is a
    # persistent, corpus-fingerprint-keyed artifact; when a PREVIOUS
    # run's index survived under the default $SPARK_GRAFT_INDEX_DIR,
    # even the cold ivf_index_ann_topk run was probe-only — a cross-run
    # persisted intermediate keyed on the testdata. The bench now (a)
    # points the index at a RUN-SCOPED temp dir so every invocation
    # builds from the parquet inputs, and (b) times the build as its
    # own row ("ivf_index_build", additive — never replaces the
    # existing headline row), so ivf_index_ann_topk is pure probe by
    # construction, which is what its steady-state number always
    # measured (r10/r11 comparisons stay like-for-like).
    idx_root = tempfile.mkdtemp(prefix="bench_vecindex_")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = idx_root
    from real_time_e_commerce_analytics_lakehouse_spark.operators.vecindex import (
        build_ivf_index,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans.embeddings import (
        KM_ROUNDS,
        _adaptive_cells,
        _embeddings_fingerprint,
    )
    from real_time_e_commerce_analytics_lakehouse_spark.plans.registry import (
        table as _table,
    )

    emb = _table(spark, sf_dir, "embeddings")
    idx = os.path.join(idx_root, _embeddings_fingerprint(sf_dir))
    t0 = time.perf_counter()
    n_emb = emb.count()
    build_ivf_index(
        spark, emb, idx, n_cells=_adaptive_cells(n_emb), rounds=KM_ROUNDS
    )
    with open(os.path.join(idx, "_INDEX_READY"), "w") as f:
        f.write("ok")
    ivf_build_secs = round(time.perf_counter() - t0, 3)

    # environment calibration: fixed JVM-side work, best of two
    def _cal_once() -> float:
        t0 = time.perf_counter()
        spark.range(0, 120_000_000).selectExpr(
            "sum(xxhash64(id) % 1000000) AS s"  # bounded: no ANSI long overflow
        ).collect()
        return time.perf_counter() - t0

    calibration = {"spark_hash_120m": round(min(_cal_once(), _cal_once()), 3)}

    # two timed runs per query: the first pays whole-stage-codegen
    # compilation (Janino + JIT) for that query's generated classes —
    # measured up to 8s for the widest vector expressions — the second is
    # steady state, which is what a resident engine serves. Report the
    # steady-state time as the headline, cold times alongside.
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in bench_queries:
        # isolate queries: drop caches persisted by prior builders (the
        # LSH/Jaccard queries persist intermediates by design)
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        run(name)
        cold[name] = round(time.perf_counter() - t0, 3)
        # adaptive steady state: sample until the two fastest runs agree
        # within 15% (max 4 samples). Single runs on this shared box swing
        # wildly (observed 1.4s vs 3.9s for the same query minutes apart —
        # host noisy-neighbor, not code); requiring two concordant minima
        # tracks the engine, not the machine.
        steady: list[float] = []
        for _ in range(4):
            t1 = time.perf_counter()
            run(name)
            steady.append(time.perf_counter() - t1)
            s = sorted(steady)
            if len(s) >= 2 and s[1] / s[0] <= 1.15:
                break
        timings[name] = round(min(*steady, cold[name]), 3)

    # additive row (never replaces/renames an existing one): the IVF
    # build pass, reported separately from the probe-only headline row.
    # Kept OUT of the headline total so `value` stays comparable with
    # every prior round's total over the same 29-query set (the driver
    # divides raw totals; a new workload row must not read as a
    # slowdown).
    timings["ivf_index_build"] = ivf_build_secs

    total = round(
        sum(v for k, v in timings.items() if k != "ivf_index_build"), 3
    )

    # table-layer round-trip (cold only: it is write-dominated, and a
    # second run would just re-pay the same disk I/O)
    from real_time_e_commerce_analytics_lakehouse_spark.pipelines.mart_bench import (
        mart_build_roundtrip,
    )

    workdir = tempfile.mkdtemp(prefix="mart_bench_")
    try:
        t0 = time.perf_counter()
        mart_stats = mart_build_roundtrip(spark, sf_dir, workdir)
        mart_secs = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        shutil.rmtree(idx_root, ignore_errors=True)  # run-scoped IVF index

    # interleaved A/B paired ratios (tools/ab_bench.py): host-drift-free
    # cross-round comparison — both trees ran as resident workers on one
    # host with executions alternated per query, so the paired per-query
    # ratio isolates CODE speed from host speed. The single-probe
    # calibration stays advisory only. Loaded BEFORE the regression
    # check: a single-run flag that the A/B measured code-identical
    # (paired ratio <= 1.1) is host noise and lands in "ab_cleared".
    ab_paired: dict = {}
    ab_stale: str | None = None
    ab_path = Path(__file__).resolve().parent / "AB_PAIRED.json"
    if ab_path.exists():
        try:
            with open(ab_path) as f:
                ab = json.load(f)
            ab_paired = {
                "a_commit": ab.get("a_commit"),
                "b_commit": ab.get("b_commit"),
                "median_paired_ratio": ab.get("median_paired_ratio"),
                "ratios": {
                    n: v["ratio"]
                    for n, v in ab.get("queries", {}).items()
                    if "ratio" in v
                },
            }
        except (OSError, json.JSONDecodeError, KeyError):
            ab_paired = {}
    # A stale AB_PAIRED.json (left over from a previous round's commits)
    # must NOT clear genuine current-round regressions as "host noise":
    # require the B tree to be a strict descendant of the most recent
    # driver round-boundary commit, and the A tree an ancestor of it.
    # Any git failure is treated as "cannot verify" -> file ignored.
    if ab_paired:
        ab_stale = _ab_staleness(
            ab_paired.get("a_commit"), ab_paired.get("b_commit")
        )
        if ab_stale is not None:
            ab_paired = {}

    # regression check vs the newest round recorded at this core count
    cpus = spark.sparkContext.defaultParallelism
    prev = _latest_recorded(cpus)
    prev_info: dict = {}
    baseline = prev[0] if prev else "no like-for-like baseline"
    if prev is None:
        print(f"bench: {baseline} (no recorded run at {cpus} cpus)", file=sys.stderr)
    regressions: dict[str, float] = {}
    workload_changes: dict[str, str] = {}
    ab_cleared: dict[str, dict] = {}
    if prev is not None:
        prev_file, prev_doc = prev
        prev_q = prev_doc.get("queries", {})
        prev_cal = prev_doc.get("calibration", {}).get("spark_hash_120m")
        drift = (
            calibration["spark_hash_120m"] / prev_cal
            if prev_cal and prev_cal > 0
            else 1.0
        )
        # self-calibrated flags (see module docstring): host speed is
        # estimated from the shared queries' MEDIAN ratio, not the
        # pure-CPU probe, which over-responds to contention
        shared = [n for n in timings if prev_q.get(n)]
        ratios = {n: timings[n] / prev_q[n] for n in shared}
        med = sorted(ratios.values())[len(ratios) // 2] if ratios else 1.0
        ab_ratios = ab_paired.get("ratios", {})
        for name, r in ratios.items():
            if med > 0 and r / med > REGRESSION_RATIO:
                if name in WORKLOAD_CHANGES:
                    workload_changes[name] = WORKLOAD_CHANGES[name]
                elif ab_ratios.get(name, 99) <= 1.1:
                    # the interleaved A/B (same prev tree, same host,
                    # alternated executions) measured this query code-
                    # identical in speed — the single-run flag is host
                    # noise, recorded as cleared rather than hidden
                    ab_cleared[name] = {
                        "vs_prev": round(r / med, 2),
                        "ab_paired": ab_ratios[name],
                    }
                else:
                    regressions[name] = round(r / med, 2)
        # cross-round ratio over the INTERSECTION of query sets, so
        # adding new headline queries does not read as a slowdown
        now_shared = sum(timings[n] for n in shared)
        old_shared = sum(prev_q[n] for n in shared)
        prev_info = {
            "file": prev_file,
            "total": prev_doc.get("value"),
            "shared_queries": len(shared),
            "ratio": round(now_shared / old_shared, 3) if old_shared else None,
            "median_query_ratio": round(med, 3) if ratios else None,
            "calibration_drift": round(drift, 3) if prev_cal else None,
            "ratio_calibrated": (
                round(now_shared / (old_shared * drift), 3)
                if prev_cal and old_shared
                else None
            ),
        }

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # The driver captures only a bounded stdout tail: BENCH_r03 outgrew
    # it and landed as "parsed": null (VERDICT r3 wrong #1). Keep the
    # stdout line COMPACT — total + steady per-query map + regressions +
    # calibration — and write the full payload (cold runs, table layer,
    # prev-round comparison) to BENCH_DETAIL.json alongside this script.
    detail = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold_run": cold,
        "table_layer": {"mart_build": mart_secs, **mart_stats},
        "calibration": calibration,
        "prev": prev_info,
        "regressions": regressions,
        "workload_changes": workload_changes,
        "ab_cleared": ab_cleared,
        "ab_paired": ab_paired,
        "ab_stale": ab_stale,
        "sf": sf_val,
        "cpus": cpus,
        "baseline": baseline,
    }
    here = Path(__file__).resolve().parent
    with open(here / "BENCH_DETAIL.json", "w") as f:
        json.dump(detail, f, indent=1)
    # Per-round archive (VERDICT r7 next #7): the driver's BENCH_r{N}
    # capture truncates, so cross-round comparisons read this file via
    # _latest_recorded once the round completes. Overwritten by every
    # bench run this round; the driver's own end-of-round run writes
    # last, so the archive matches BENCH_r{N}.json.
    # r12 measurement-bug fix: the driver ALSO re-runs the bench at a
    # LOW core count (SPARK_GRAFT_CPUS=8) after its main run — at the
    # r11 boundary that 8-core run wrote last and the committed
    # BENCH_DETAIL_r12.json held 8-core numbers, which would have
    # become the next round's 32-core baseline. Low-core runs (CPUS
    # set below the cores this process may run on) archive under a
    # _c{cpus} suffix instead of the round file. The affinity mask, not
    # os.cpu_count(): a container pinned to fewer cores than the host
    # has would otherwise file every full-width run as low-core.
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
    low_core = (
        cpus_env is not None
        and cpus_env.isdigit()
        and int(cpus_env) < len(os.sched_getaffinity(0))
    )
    suffix = f"_c{cpus_env}" if low_core else ""
    with open(
        here / f"BENCH_DETAIL_r{_current_round():02d}{suffix}.json", "w"
    ) as f:
        json.dump(detail, f, indent=1)
    # The driver captures a bounded (~2,000 char) stdout tail: the r6
    # line embedded the full 28-query ab_paired ratio map, overflowed
    # the capture and landed as "parsed": null (VERDICT r6 wrong #1).
    # The compact line therefore carries only the A/B SUMMARY (median
    # paired ratio + which flags it cleared); the per-query ratio map,
    # cold runs, table layer and the advisory single-probe calibration
    # history all live in BENCH_DETAIL.json. Length is asserted.
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall_clock",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "calibration": calibration,
            "regressions": regressions,
            "workload_changes": sorted(workload_changes),
            "ab_cleared": ab_cleared,
            "median_query_ratio": prev_info.get("median_query_ratio"),
            "ab_median_paired_ratio": ab_paired.get("median_paired_ratio"),
            "sf": sf_val,
            "cpus": cpus,
            "baseline": baseline,
        },
        separators=(",", ":"),
    )
    assert len(line) < 1800, (
        f"compact bench line is {len(line)} chars (driver capture is "
        "~2000): trim a field or move it to BENCH_DETAIL.json"
    )
    print(line)


if __name__ == "__main__":
    main()
