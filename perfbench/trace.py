"""Tracing for the benchmark's traced run, entirely from outside the engine.

``Tracer`` records spans (name, start, end, parent, op id) around calls
into the engine's public entry points by replacing those attributes with
timing wrappers for the life of the run; the engine's code is not edited.
Spans stay in memory and are written when the run ends. A span's self
time is its duration minus the time its child spans cover.

``spark_by_op`` reads the Spark event log the traced run writes and
charges each job to the operation whose time window holds the job's
submission. The harness also sets a job group per operation, but jobs a
streaming query launches carry the stream's own group, so the window is
what attributes them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Stage RDD scopes that evaluate Python in a worker process.
PYTHON_SCOPES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF", "PythonRDD",
)


class Tracer:
    """Span recorder. With ``enabled`` false every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str, arg_hook=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records ``name`` spans.
        ``arg_hook(args, kwargs)`` may rewrite the call's arguments."""
        original = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if arg_hook is not None:
                args, kwargs = arg_hook(args, kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def install_engine_wrappers(self) -> None:
        """Wrap the public entry points of the pipelines, streaming,
        tables and operators layers."""
        from real_time_e_commerce_analytics_lakehouse_spark.operators import vecindex
        from real_time_e_commerce_analytics_lakehouse_spark.pipelines import olist
        from real_time_e_commerce_analytics_lakehouse_spark.streaming import pipeline
        from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable

        for step in ("bronze_ingest", "silver_conform", "gold_build", "metrics_build"):
            self.wrap(olist.OlistPipeline, step, f"pipelines.{step}")

        def count_batches(args, kwargs):
            # the engine calls batch_fn only for non-empty micro-batches
            args = list(args)
            fn = args[2] if len(args) > 2 else kwargs["batch_fn"]

            def body(df, epoch):
                with self.span("streaming.batch"):
                    return fn(df, epoch)

            if len(args) > 2:
                args[2] = body
            else:
                kwargs["batch_fn"] = body
            return tuple(args), kwargs

        for mod in (pipeline, olist):  # olist binds the name at import
            self.wrap(mod, "run_available_now", "streaming.run_available_now",
                      count_batches)
        self.wrap(pipeline.IncrementalRunner, "process", "streaming.incremental_process")
        self.wrap(LakeTable, "merge_upsert", "tables.merge")
        self.wrap(LakeTable, "merge_insert_only", "tables.merge")
        self.wrap(LakeTable, "overwrite", "tables.overwrite")
        self.wrap(LakeTable, "read_changes", "tables.read_changes")
        self.wrap(vecindex, "build_ivf_index", "operators.build_ivf_index")

    # ------------------------------------------------------------ readouts

    def _outermost(self, name: str) -> list[dict]:
        """Spans called ``name`` with no ancestor of the same name."""
        out = []
        for s in self.spans:
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != name:
                p = self.spans[p]["parent"]
            if s["name"] == name and p is None:
                out.append(s)
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self._outermost(name))

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        children = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]] += s["end"] - s["start"]
        return sum(
            s["end"] - s["start"] - children[i]
            for i, s in enumerate(self.spans)
            if s["name"] == name
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith("appstatus"):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def spark_by_op(events: list[dict], ops: list[dict]) -> dict[str, dict]:
    """Aggregate Spark jobs, stages and tasks per operation. ``ops`` are
    op spans with ``op``, ``start`` and ``end`` (epoch seconds)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    python_stages: set[int] = set()
    stages_run: set[int] = set()
    tasks: dict[int, list[dict]] = defaultdict(list)
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {"submit": e["Submission Time"] / 1000.0, "end": None}
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages_run.add(info["Stage ID"])
            for rdd in info.get("RDD Info", []):
                label = f'{rdd.get("Name", "")} {rdd.get("Scope", "")}'
                if any(p in label for p in PYTHON_SCOPES):
                    python_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            tasks[e["Stage ID"]].append(e)

    def op_of(t: float) -> str | None:
        for o in ops:
            if o["start"] <= t <= o["end"]:
                return o["op"]
        return None

    out: dict[str, dict] = {
        o["op"]: {
            "kind": o.get("kind"), "wall_s": o["end"] - o["start"],
            "jobs": 0, "stages": 0, "tasks": 0, "task_time_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
            "gc_s": 0.0, "python_task_s": 0.0, "task_skew": 1.0,
            "_intervals": [], "_durations": [],
        }
        for o in ops
    }
    for jid, j in jobs.items():
        op = op_of(j["submit"])
        if op is None:
            continue
        out[op]["jobs"] += 1
        out[op]["_intervals"].append((j["submit"], j["end"] or j["submit"]))
    for sid in stages_run:
        jid = stage_job.get(sid)
        op = op_of(jobs[jid]["submit"]) if jid in jobs else None
        if op is None:
            continue
        a = out[op]
        a["stages"] += 1
        for t in tasks.get(sid, []):
            m = t.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            a["tasks"] += 1
            a["task_time_s"] += run_s
            a["_durations"].append(run_s)
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            if sid in python_stages:
                a["python_task_s"] += run_s
    for a in out.values():
        a["driver_only_s"] = max(0.0, a["wall_s"] - _covered(a.pop("_intervals")))
        d = a.pop("_durations")
        med = statistics.median(d) if d else 0.0
        a["task_skew"] = max(d) / med if med > 0 else 1.0
    return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


SPARK_METRICS = (
    "jobs", "stages", "tasks", "driver_only_s", "task_time_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s",
    "task_skew", "python_task_s",
)


def spark_metrics(per_op: dict[str, dict]) -> dict[str, float]:
    """Mean per operation of every Spark runtime figure."""
    n = max(1, len(per_op))
    return {
        f"spark.{k}": sum(a[k] for a in per_op.values()) / n
        for k in SPARK_METRICS
    }
