"""The session factory's host-fit defaults."""

from __future__ import annotations

import builtins
import io
import os

from real_time_e_commerce_analytics_lakehouse_spark import session
from real_time_e_commerce_analytics_lakehouse_spark.session import (
    _default_driver_memory,
    default_cpus,
)


def test_default_cpus_follows_the_env_override_else_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_default_driver_memory_follows_the_env_override_else_the_host(
    monkeypatch,
):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _default_driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    with open("/proc/meminfo") as f:
        total = next(int(s.split()[1]) * 1024 for s in f if s.startswith("MemTotal:"))
    mb = int(_default_driver_memory().removesuffix("m"))
    assert 0 < mb <= (total // 3 >> 20)

    # a cgroup limit below MemTotal wins (v1 and v2 files alike)
    def cgroup_of(limit):
        def fake_open(path, *a, **kw):
            if str(path).startswith("/sys/fs/cgroup/"):
                return io.StringIO(limit)
            return builtins.open(path, *a, **kw)

        return fake_open

    monkeypatch.setattr(session, "open", cgroup_of("3221225472\n"), raising=False)
    assert _default_driver_memory() == "1024m"
    # no limit set: the host's MemTotal
    monkeypatch.setattr(session, "open", cgroup_of("max\n"), raising=False)
    assert _default_driver_memory() == f"{total // 3 >> 20}m"
