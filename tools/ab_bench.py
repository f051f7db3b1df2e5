"""Interleaved A/B benchmark of two repo trees (VERDICT r5 next #2).

Cross-round speed claims previously rested on a pure-CPU calibration
probe that over-responds to host contention: it cannot distinguish
"host got faster" from "code got slower". This tool eliminates host
drift instead of modeling it: both trees run as resident worker
processes ON THE SAME HOST AT THE SAME TIME, and each query's
executions alternate A-B-B-A-A-B within a window of seconds, so any
host-speed movement hits both sides of every pair equally. The paired
per-query ratio (median over pairs) is then a host-independent
statement about the CODE.

Protocol per query (hardened r10 — the r9 committed run produced two
false regression signals from 3 thin pairs + 1 warm-up + a stale B
tree; VERDICT r9 what's-wrong #1):
- TWO discarded warm-up runs in each worker (codegen/JIT AND
  multi-job warm-up — lsh-style queries swung 10.9s -> 2.3s after the
  first warm run),
- three timed pairs; the side order flips each pair (A-B, B-A, A-B) so
  monotone host drift within the window cancels,
- ADAPTIVE extension: if the paired-ratio spread (max/min) exceeds
  1.15, more pairs run (up to 3x the requested count) until it
  tightens — thin noisy samples no longer ship as signals,
- only one worker executes at a time (the other blocks on stdin), so
  the trees never compete for cores,
- the B tree must BE the shipped HEAD: the run refuses when B's
  commit differs from this repo's HEAD or the B tree is dirty
  (--allow-stale-b to override for archaeology),
- every query whose final paired ratio exceeds 1.2 is listed in the
  artifact under "flagged"; if BASELINE.md does not mention the query
  name, the run exits non-zero — an unannotated regression signal
  fails loudly instead of riding along.

Usage:
  driver:  python tools/ab_bench.py A_TREE B_TREE [SF_DIR] [--pairs N]
  worker:  python tools/ab_bench.py --worker TREE_DIR SF_DIR   (internal)

Writes AB_<alabel>_<blabel>.json at the B tree's root (labels are the
trees' short commit hashes); bench.py attaches the summary to its JSON
line so the driver's BENCH_r{N}.json carries the paired ratios.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path


def worker(tree: str, sf_dir: str) -> None:
    sys.path.insert(0, tree)
    os.chdir(tree)
    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES
    from real_time_e_commerce_analytics_lakehouse_spark.session import get_spark

    try:
        from real_time_e_commerce_analytics_lakehouse_spark.operators.simsearch import (
            release_cached,
        )
    except ImportError:  # older tree without the lease protocol
        def release_cached(df):  # type: ignore[misc]
            pass

    spark = get_spark(app_name=f"ab_worker_{Path(tree).name}")
    print("READY", flush=True)
    for line in sys.stdin:
        name = line.strip()
        if not name or name == "EXIT":
            break
        if name not in QUERIES:
            print("SKIP", flush=True)
            continue
        try:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = QUERIES[name].builder(spark, sf_dir)
            df.collect()
            dt = time.perf_counter() - t0
            release_cached(df)
            print(f"TIME {dt:.4f}", flush=True)
        except Exception as exc:  # one broken query must not kill the run
            print(f"SKIP {type(exc).__name__}", flush=True)
    spark.stop()


class Worker:
    def __init__(self, tree: str, sf_dir: str):
        self.tree = tree
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker", tree, sf_dir],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
            bufsize=1,
        )
        self._await("READY")

    def _await(self, prefix: str) -> str:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"worker {self.tree} died")
            if line.startswith(prefix):
                return line.strip()

    def run(self, name: str) -> float | None:
        self.proc.stdin.write(name + "\n")
        self.proc.stdin.flush()
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"worker {self.tree} died running {name}")
            line = line.strip()
            if line.startswith("SKIP"):
                return None
            if line.startswith("TIME "):
                return float(line.split()[1])

    def close(self) -> None:
        try:
            self.proc.stdin.write("EXIT\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()


def short_commit(tree: str) -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=tree, capture_output=True, text=True, check=True,
        ).stdout.strip()
    except Exception:
        return Path(tree).name


_OUT_NAME = "AB_PAIRED.json"


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--worker":
        worker(sys.argv[2], sys.argv[3])
        return

    a_tree, b_tree = os.path.abspath(sys.argv[1]), os.path.abspath(sys.argv[2])
    rest = sys.argv[3:]
    pairs = 3
    if "--pairs" in rest:
        i = rest.index("--pairs")
        pairs = int(rest[i + 1])
        rest = rest[:i] + rest[i + 2:]
    only: list[str] | None = None
    if "--only" in rest:
        i = rest.index("--only")
        only = rest[i + 1].split(",")
        rest = rest[:i] + rest[i + 2:]
    allow_stale_b = "--allow-stale-b" in rest
    if allow_stale_b:
        rest.remove("--allow-stale-b")
    sf_dir = rest[0] if rest else "/root/testdata/sf0.1"

    # the benched B tree must BE the shipped HEAD (r9: the committed
    # A/B ran against a pre-final commit and its signals were read as
    # the final tree's)
    repo = str(Path(__file__).resolve().parent.parent)
    head = short_commit(repo)
    b_head = short_commit(b_tree)
    b_dirty = subprocess.run(
        ["git", "status", "--porcelain"],
        cwd=b_tree, capture_output=True, text=True,
    ).stdout.strip()
    if not allow_stale_b and (b_head != head or b_dirty):
        raise SystemExit(
            f"ab_bench: B tree HEAD {b_head}"
            f"{' (dirty)' if b_dirty else ''} != shipped HEAD {head} — "
            "bench the tree you ship (commit first), or pass "
            "--allow-stale-b for archaeology"
        )

    # bench set = B tree's headline queries (B is the tree under test)
    sys.path.insert(0, b_tree)
    from real_time_e_commerce_analytics_lakehouse_spark.plans import QUERIES

    names = [n for n, q in QUERIES.items() if q.bench]
    if only is not None:
        names = [n for n in names if n in only]
        # a targeted triage run must never overwrite the full record
        global _OUT_NAME
        _OUT_NAME = "AB_PAIRED_subset.json"

    wa, wb = Worker(a_tree, sf_dir), Worker(b_tree, sf_dir)
    out: dict[str, dict] = {}
    try:
        for name in names:
            # TWO discarded warm-ups per side: the first covers
            # codegen/JIT, the second covers multi-job warm-up (r9's
            # lsh false signal: 10.9s -> 2.3s inside one window)
            warm = [wa.run(name), wb.run(name), wa.run(name), wb.run(name)]
            if any(w is None for w in warm):
                out[name] = {"skipped": "not in both trees"}
                continue
            ta: list[float] = []
            tb: list[float] = []

            def one_pair(i: int) -> bool:
                if i % 2 == 0:
                    ra, rb = wa.run(name), wb.run(name)
                else:
                    rb, ra = wb.run(name), wa.run(name)
                if ra is None or rb is None:
                    return False
                ta.append(ra)
                tb.append(rb)
                return True

            ok = all(one_pair(i) for i in range(pairs))
            # adaptive: extend while the ratio spread is noisy
            while ok and len(ta) < 3 * pairs:
                ratios = [b / a for a, b in zip(ta, tb)]
                if max(ratios) / min(ratios) <= 1.15:
                    break
                ok = one_pair(len(ta))
            if not ok:
                out[name] = {"skipped": "worker error mid-pairs"}
                continue
            ratios = [b / a for a, b in zip(ta, tb)]
            out[name] = {
                "a": [round(x, 4) for x in ta],
                "b": [round(x, 4) for x in tb],
                "paired_ratios": [round(r, 3) for r in ratios],
                "ratio": round(statistics.median(ratios), 3),
            }
            print(f"[ab] {name}: ratio={out[name]['ratio']} "
                  f"a={out[name]['a']} b={out[name]['b']}", file=sys.stderr)
    finally:
        wa.close()
        wb.close()

    med = statistics.median(
        v["ratio"] for v in out.values() if "ratio" in v
    )
    flagged = sorted(
        n for n, v in out.items() if v.get("ratio", 0) > 1.2
    )
    baseline_txt = ""
    bp = Path(b_tree) / "BASELINE.md"
    if bp.exists():
        baseline_txt = bp.read_text()
    unannotated = [n for n in flagged if n not in baseline_txt]
    a_label, b_label = short_commit(a_tree), short_commit(b_tree)
    doc = {
        "a_tree": a_tree,
        "b_tree": b_tree,
        "a_commit": a_label,
        "b_commit": b_label,
        "sf_dir": sf_dir,
        "pairs_per_query": pairs,
        "median_paired_ratio": round(med, 3),
        "flagged_over_1.2": flagged,
        "flagged_unannotated": unannotated,
        "queries": out,
    }
    path = Path(b_tree) / _OUT_NAME
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"[ab] wrote {path}; median paired ratio (B/A) = {med:.3f}",
          file=sys.stderr)
    if flagged:
        print(f"[ab] paired ratio > 1.2: {flagged}", file=sys.stderr)
    print(json.dumps({"median_paired_ratio": round(med, 3)}))
    if unannotated:
        print(
            f"[ab] FAIL: ratios > 1.2 with no BASELINE.md annotation: "
            f"{unannotated} — investigate or annotate before shipping",
            file=sys.stderr,
        )
        raise SystemExit(2)


if __name__ == "__main__":
    main()
