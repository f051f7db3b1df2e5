"""The session factory's host-fit defaults."""

from __future__ import annotations

import os

from real_time_e_commerce_analytics_lakehouse_spark.session import default_cpus


def test_default_cpus_follows_the_env_override_else_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
