"""SparkSession factory.

The reference relies on a Databricks-managed session with default configs
(SURVEY.md §4: no tuned configs anywhere). The engine pins the configs that
matter for correctness (UTC session timezone) and for scale (AQE, skew-join
handling, sensible shuffle partitioning).

ANSI mode is deliberately NOT set (r5 review corrected a stale claim here
that it was pinned off): the engine runs under Spark 4's ANSI-on default —
overflow and malformed casts fail loudly — and every never-fail coercion
path spells it explicitly (try_cast / try_to_timestamp, incl. the CleanSpec
"strict" cast rule, operators/cleaning.py), so the semantics hold on ANY
session the caller hands in, ANSI or not.

Scale notes (100 TB / 1000-executor design intent):
- ``spark.sql.adaptive.enabled``: AQE re-plans joins (broadcast promotion),
  coalesces small shuffle partitions, and splits skewed ones at runtime —
  the single most important knob for plans written declaratively.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces. Locally we match core count (``default_cpus``); on a
  cluster this would be set to ~2-3x total cores and AQE right-sizes per
  stage.
- Arrow enabled so any pandas_udf path is vectorized.
- ``spark.sql.codegen.cache.maxEntries``: Spark keeps each compiled
  whole-stage-codegen class in a cache keyed by its source, 100 entries
  by default. One session of this engine uses more distinct classes than
  that (measured on 4 cores: about 390 over a ``medallion_cycle``
  backfill, two deliveries and their checks, 248 over ``bi_queries``),
  so the default cache evicts them before they are reused: a delivery
  recompiled about 187 classes, the same number as the delivery before
  it, and its cost followed the number of plans it ran rather than the
  data that changed. At 1000 entries a repeated delivery compiles only
  the classes it has not seen: about 28, and 4 when its clock equals the
  delivery before it, because the processing-time literal is inlined
  into the generated code. A static conf: it applies only to sessions
  ``get_spark`` builds, not to one a caller hands in.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local cores for the session: ``$SPARK_GRAFT_CPUS`` when set (the
    deployment override), else the CPUs this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


# the driver heap's share of the memory this process may use; the rest
# is left to the JVM's off-heap use (code cache, metaspace, buffers), the
# Python workers and the OS
_DRIVER_MEM_SHARE = 3


def _default_driver_memory() -> str:
    """Driver heap for the session: ``$SPARK_GRAFT_DRIVER_MEM`` when set
    (the deployment override), else a third of the memory this process
    may use — the cgroup limit when one is set, else the host's
    ``MemTotal``. In local mode the driver JVM is the only executor."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    with open("/proc/meminfo") as f:
        limit = next(int(s.split()[1]) * 1024 for s in f if s.startswith("MemTotal:"))
    for cg in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(cg) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():  # v2 writes "max" when no limit is set
            limit = min(limit, int(raw))
        break
    return f"{limit // _DRIVER_MEM_SHARE >> 20}m"


DEFAULT_SHUFFLE_PARTITIONS = default_cpus()


def get_spark(
    app_name: str = "real_time_e_commerce_analytics_lakehouse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Safe to call repeatedly — Spark returns the active session. When a
    session already exists (e.g. the driver created one and handed it to
    ``__spark_entry__.entry``), its configs win; the engine works with
    whatever it is given. That includes the static confs pinned here,
    such as the generated-class cache size: a session built elsewhere
    keeps its own.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{default_cpus()}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (sources/pyds.py laketable
        # format); SQL conf, also self-pinned at register time
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _default_driver_memory())
        # one generated class per distinct plan stage; a session of this
        # engine uses ~390 (medallion_cycle) or 248 (bi_queries), and the
        # default 100-entry cache evicts them before reuse, so every
        # delivery recompiled ~187. 1000 holds both with headroom.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # local mode: driver JVM IS the executor. The default JIT code
        # cache (240 MB) fills after ~a dozen codegen-heavy queries in one
        # session, silently dropping hot loops to the interpreter
        # (measured 5-8x slowdowns on array-lambda queries late in a
        # bench run). 1 GB keeps every generated class compiled.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
