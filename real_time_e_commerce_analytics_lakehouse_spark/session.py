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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local cores for the session: ``$SPARK_GRAFT_CPUS`` when set (the
    deployment override), else the CPUs this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


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
    whatever it is given.
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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
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
