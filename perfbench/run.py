"""Benchmark entry point.

    python3 perfbench/run.py --workload {medallion_cycle,bi_queries} \
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the root of a source tree. Inputs come from ``--seed`` only;
everything the run writes stays under ``.perfbench_out/`` in that tree.
One process, one closed-loop client, Spark on ``local[N]`` with N the
cores this process may use and otherwise the engine's own defaults.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics``, the end-to-end metrics with ``--trace 0`` and
the per-layer metrics with ``--trace 1``. The line before it holds the
host and provenance record. Each run also writes that record, both
metric sets and the op list to ``.perfbench_out/results/``; a traced run
adds its spans and the per-op event-log aggregate. ``compare.py`` reads
these records.

End-to-end metrics, all in seconds. On a virtual machine the hypervisor
may give part of this machine's CPU time to other guests ("steal", in
/proc/stat), which stretches wall time by up to half on a busy host. Each
timing is therefore its wall time times ``(1 - s) ** STEAL_EXPONENT``,
with ``s`` the share of CPU time stolen over it; the record keeps the
wall time and the share of each op. An op that only computed on one CPU
would stretch by ``1 / (1 - s)``; a Spark stage waits for its slowest
task, so it stretches more. The share is machine-wide, so the correction
also assumes the stolen time falls evenly on every process. On a 4-vCPU
VM whose steal varied from 0% to 40% between runs, two sets of ten runs
per workload, taken two hours apart, gave the narrowest run-to-run
spreads of ``bulk_s`` and ``work_total_s`` at an exponent of 1.5: 3 to
14 times narrower than raw wall time, and 1.8 to 4.6 times narrower than
at an exponent of 1. ``setup_s`` runs from process start
until the session is up, the inputs are generated (the median of
``SETUP_REPEATS`` generations) and the warm pass is done; ``latency_s``
is the typical latency of the workload's repeated operation; ``bulk_s``
the time of its one-off heavy operations; ``work_total_s`` is
``bulk_s`` plus the median time of each kind of repeated operation. The
workload modules say what each of these is for them.

``--smoke`` shrinks the inputs so each workload finishes in under a
minute; ``test_perfbench.py`` uses it.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

T_PROCESS = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("medallion_cycle", "bi_queries")
SETUP_REPEATS = 3
STEAL_EXPONENT = 1.5  # see the module docstring

# Metrics of the benchmark's design that are not end-to-end metrics of
# BENCHMARK.json, and where they went; a traced run's record carries
# this list.
DROPPED = {
    "failed_frac": "the result line's failed/attempted; 0 at correct code, so it cannot carry a relative bound",
    "jvm_peak_rss_mb": "per_layer session.jvm_peak_rss_mb: under the engine's 48g default heap its run-to-run spread is about 0.5",
    "backfill_s, cycle_p50_s, rows_per_s": "medallion_cycle's bulk_s and latency_s, and workload_metrics in the record",
    "query_p50_s, query_tail_s, queries_total_s": "bi_queries' latency_s and work_total_s, and workload_metrics in the record; an 8 s window gives two rounds of six queries, too few samples for a steady tail",
    "ivf_build_s, cc_parts_s, pagerank_s": "the iterative builds run after bi_queries' query rounds; their sum is its bulk_s, each is in workload_metrics",
}


class Op:
    def __init__(self, name: str, index: int):
        self.id = f"{index:04d}-{name}"
        self.seconds: float | None = None
        self.failed = False
        self.attrs: dict = {}
        self._cpu0 = cpu_times()

    def ok(self, wall_s: float) -> None:
        """Record the op's wall time; ``seconds`` is that time less the
        hypervisor's steal over it (see ``unstolen``)."""
        steal = steal_frac(self._cpu0, cpu_times())
        self.attrs.update(wall_s=wall_s, steal_frac=steal)
        self.seconds = unstolen(wall_s, steal)


class Harness:
    """State of one run: the session, tracer, inputs, ops and metrics."""

    def __init__(self, workload: str, seed: int, trace: bool):
        from perfbench.trace import Tracer

        self.workload, self.seed = workload, seed
        self.tracer = Tracer(trace)
        self.out = ROOT / ".perfbench_out"
        self.work = Path(tempfile.mkdtemp(prefix=f"{workload}-", dir=self._mk("work")))
        self.cores = len(os.sched_getaffinity(0))
        self.ops: list[Op] = []
        self.timed_ops: list[dict] = []
        self.setup_ops: list[dict] = []
        self.in_window = False
        self.leaked = 0
        self.gen_s: list[float] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.named: dict[str, float] = {}
        self.info: dict = {}
        self.phases: dict[str, float] = {}
        self._cpu0 = cpu_times()
        self._warm_t0: float | None = None
        self.setup_s: float | None = None
        self.setup_steal = 0.0
        self.spark = None
        self._saved_env: dict[str, str] | None = None

    def _mk(self, name: str) -> str:
        p = self.out / name
        p.mkdir(parents=True, exist_ok=True)
        return str(p)

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since process start."""
        self.phases[phase] = time.perf_counter() - T_PROCESS

    def fresh_dir(self, prefix: str) -> str:
        return tempfile.mkdtemp(prefix=f"{prefix}-", dir=self.work)

    # -------------------------------------------------------------- setup

    def start_session(self) -> None:
        """Start Spark with every temporary directory inside the work dir."""
        tmp = self.work / "tmp"
        tmp.mkdir()
        self._saved_env = dict(os.environ)
        os.environ["TMPDIR"] = str(tmp)
        tempfile.tempdir = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        # no hsperfdata file: the JVM would write it under /tmp
        os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        from real_time_e_commerce_analytics_lakehouse_spark.session import get_spark

        conf = {"spark.local.dir": str(self.work / "local")}
        if self.tracer.enabled:
            self.event_dir = self.work / "eventlog"
            self.event_dir.mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir.as_uri(),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=conf,
        )
        self.mark("session")
        self.session_s = self.phases["session"]
        if self.tracer.enabled:
            self.tracer.install_engine_wrappers()

    def setup_inputs(self, generate):
        """Generate the inputs SETUP_REPEATS times, each into fresh
        directories, and keep the last; the median time enters setup_s."""
        result = None
        for i in range(SETUP_REPEATS):
            before = set(self.work.iterdir())
            t0 = time.perf_counter()
            result = generate()
            self.gen_s.append(time.perf_counter() - t0)
            if i < SETUP_REPEATS - 1:
                for p in set(self.work.iterdir()) - before:
                    shutil.rmtree(p)
        return result

    def start_warm(self) -> None:
        self.mark("oracles")
        self._warm_t0 = time.perf_counter()

    def setup_done(self) -> None:
        warm = time.perf_counter() - self._warm_t0 if self._warm_t0 else 0.0
        setup_wall = self.session_s + self.median(self.gen_s) + warm
        self.setup_steal = steal_frac(self._cpu0, cpu_times())
        self.setup_s = unstolen(setup_wall, self.setup_steal)
        # start every window from a collected heap, outside any op's time
        self.spark.sparkContext._jvm.java.lang.System.gc()
        gc.collect()
        self.tracer.spans.clear()
        self.in_window = True
        self.mark("setup")

    # ---------------------------------------------------------------- ops

    @contextmanager
    def op(self, kind: str, name: str):
        """One operation of the closed loop. An exception marks it failed
        and is reported, not raised, so the loop goes on."""
        op = Op(name, len(self.ops))
        self.ops.append(op)
        sc = self.spark.sparkContext
        sc.setJobGroup(op.id, name)
        self.tracer.op = op.id
        start = time.time()
        try:
            yield op
        except Exception:  # noqa: BLE001 - a failed op is a result, not a crash
            op.failed = True
            print(f"op {op.id} failed:\n{traceback.format_exc()}", file=sys.stderr)
        finally:
            self.tracer.op = None
            sc.setLocalProperty("spark.jobGroup.id", None)
            rec = {
                "op": op.id, "kind": kind, "start": start, "end": time.time(),
                "seconds": op.seconds, "failed": op.failed, **op.attrs,
            }
            (self.timed_ops if self.in_window else self.setup_ops).append(rec)

    def check(self, ok: bool, message: str) -> None:
        """Mark the latest op wrong when a result check fails."""
        if not ok:
            self.ops[-1].failed = True
            print(f"check failed: {message}", file=sys.stderr)
            if self.timed_ops and self.timed_ops[-1]["op"] == self.ops[-1].id:
                self.timed_ops[-1]["failed"] = True

    @contextmanager
    def checking(self, what: str):
        """Run result checks; one that raises fails the latest op, so the
        run still reports."""
        try:
            yield
        except Exception:  # noqa: BLE001 - a check that cannot run has failed
            self.check(False, f"{what}:\n{traceback.format_exc()}")

    def release(self, release_fn) -> None:
        """Release an op's cache leases, count what stays cached, then
        clear it so the next op starts from an empty cache."""
        release_fn()
        jsc = self.spark.sparkContext._jsc
        rdds = jsc.getPersistentRDDs()
        left = max(self._cached_frames(), rdds.size())
        self.ops[-1].attrs["cached_left"] = left
        if self.in_window:
            self.leaked += left
        if left:
            self.spark.catalog.clearCache()
            for rdd in list(jsc.getPersistentRDDs().values()):
                rdd.unpersist(False)

    def _cached_frames(self) -> int:
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        if cm.isEmpty():
            return 0
        for f in cm.getClass().getDeclaredFields():
            if f.getName().endswith("cachedData"):
                f.setAccessible(True)
                return f.get(cm).size()
        return 1

    @staticmethod
    def median(values: list[float]) -> float:
        return statistics.median(values) if values else float("nan")

    # ------------------------------------------------------------- results

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from the JVM's status")

    def host_record(self) -> dict:
        with open("/proc/meminfo") as f:
            mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        jvm = self.spark.sparkContext._jvm
        return {
            "cores": self.cores,
            "mem_total_kb": mem_kb,
            "driver_memory": self.spark.conf.get("spark.driver.memory", "default"),
            "spark": self.spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "commit": source_version(),
            "workload": self.workload,
            "seed": self.seed,
            "trace": self.tracer.enabled,
        }

    def per_layer(self, spark_ops: dict[str, dict], rss_mb: float) -> dict[str, float]:
        from perfbench.trace import spark_metrics

        t = self.tracer
        n = max(1, len(self.timed_ops))
        started = t.count("streaming.run_available_now")
        batches = t.count("streaming.batch")
        values = {
            "session.jvm_peak_rss_mb": rss_mb,
            "pipelines.bronze_ingest_s": t.total("pipelines.bronze_ingest") / n,
            "pipelines.silver_conform_s": t.total("pipelines.silver_conform") / n,
            "pipelines.gold_build_s": t.total("pipelines.gold_build") / n,
            "pipelines.metrics_build_s": t.total("pipelines.metrics_build") / n,
            "streaming.queries_started": started / n,
            "streaming.batches": batches / n,
            "streaming.useful_frac": batches / started if started else 0.0,
            "streaming.run_available_now_s": t.self_time("streaming.run_available_now") / n,
            "streaming.incremental_process_s": t.total("streaming.incremental_process") / n,
            "tables.merge_calls": t.count("tables.merge") / n,
            "tables.merge_s": t.total("tables.merge") / n,
            "tables.overwrite_calls": t.count("tables.overwrite") / n,
            "tables.overwrite_s": t.total("tables.overwrite") / n,
            "tables.read_changes_s": t.total("tables.read_changes") / n,
            "tables.write_amp": 0.0,
            "tables.files_added": 0.0,
            "plans.build_s": t.total("plans.build") / n,
            "plans.catalyst_s": sum(o.get("catalyst_s", 0.0) for o in self.timed_ops) / n,
            "plans.collect_s": t.total("plans.collect") / n,
            "operators.build_ivf_index_s": float(t.total("operators.build_ivf_index")),
            "operators.jobs_per_op": float(self.median([a["jobs"] for a in spark_ops.values()] or [0])),
            "operators.cached_frames_leaked": float(self.leaked),
        }
        values.update(spark_metrics(spark_ops))
        values.update(self.layer)
        return values

    def finish(self, spec: dict) -> dict:
        """Stop Spark, write the run's record and return the host record
        and the result line."""
        from perfbench.trace import read_event_log, spark_by_op

        e2e = {"setup_s": self.setup_s, **self.e2e}
        rss_mb = self.jvm_peak_rss_mb()
        host = self.host_record()
        self.mark("checks")
        self.spark.stop()
        stop_gateway()
        self.mark("stopped")
        self.info["phases"] = self.phases
        self.info["steal_frac_p50"] = self.median(
            [o["steal_frac"] for o in self.timed_ops if "steal_frac" in o]
        )
        self.info["setup"] = {"session_s": self.session_s, "generate_s": self.gen_s,
                              "steal_frac": self.setup_steal}
        self.info["workload_metrics"] = self.named
        record = {"host": host, "info": self.info, "setup_ops": self.setup_ops,
                  "ops": self.timed_ops, "end_to_end": e2e}
        results = Path(self._mk("results"))
        section, metrics = "end_to_end", e2e
        if self.tracer.enabled:
            spark_ops = spark_by_op(read_event_log(str(self.event_dir)), self.timed_ops)
            section, metrics = "per_layer", self.per_layer(spark_ops, rss_mb)
            record["per_layer"] = metrics
            record["dropped"] = DROPPED
            untraced = results / f"{self.workload}-seed{self.seed}-trace0.json"
            if untraced.exists():
                base = json.loads(untraced.read_text())["end_to_end"]
                self.info["tracing_overhead"] = {
                    k: e2e[k] / base[k] - 1.0 for k in e2e if base.get(k)
                }
            self.tracer.dump(str(results / f"{self._stem()}.spans.json"))
            with open(results / f"{self._stem()}.spark_ops.json", "w") as f:
                json.dump(spark_ops, f, indent=1)
        with open(results / f"{self._stem()}.json", "w") as f:
            json.dump(record, f, indent=1)
        failed = sum(1 for o in self.ops if o.failed)
        return {
            "host": host,
            "result": {
                "correct": failed == 0,
                "attempted": len(self.ops),
                "failed": failed,
                "metrics": {
                    m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in spec[section]
                },
            },
        }

    def close(self) -> None:
        """Undo the run's process-wide changes and remove its work dir."""
        self.tracer.unwrap_all()
        stop_gateway()
        shutil.rmtree(self.work, ignore_errors=True)
        tempfile.tempdir = None
        if self._saved_env is not None:
            os.environ.clear()
            os.environ.update(self._saved_env)

    def _stem(self) -> str:
        return f"{self.workload}-seed{self.seed}-trace{int(self.tracer.enabled)}"


def cpu_times() -> list[int]:
    """The host-wide CPU time counters of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the CPU time this machine wanted between two readings that
    its hypervisor gave to other guests: 0 on a host of its own."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = (
        b - a for a, b in zip(before[:8], after[:8])
    )
    wanted = user + nice + system + irq + softirq + steal
    return steal / wanted if wanted else 0.0


def unstolen(wall_s: float, steal: float) -> float:
    """Estimate of ``wall_s`` had no CPU time been stolen."""
    return wall_s * (1.0 - steal) ** STEAL_EXPONENT


def stop_gateway() -> None:
    """Shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def source_version() -> str:
    """The git commit, or a digest of the engine and benchmark sources
    when the tree is not a git checkout."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha1()
    for base in ("real_time_e_commerce_analytics_lakehouse_spark", "tools", "perfbench"):
        for p in sorted((ROOT / base).rglob("*.py")):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return "src-" + h.hexdigest()[:16]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import real_time_e_commerce_analytics_lakehouse_spark  # noqa: F401
        import tools.check_correctness  # noqa: F401
        import tools.make_olist_fixtures  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine sources are not in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import bi, medallion

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    h = Harness(args.workload, args.seed, bool(args.trace))
    try:
        h.start_session()
        workload = medallion if args.workload == "medallion_cycle" else bi
        workload.run(h, args.seconds, args.smoke)
        out = h.finish(spec)
    finally:
        h.close()
    print(json.dumps({"host": out["host"], **h.info}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
