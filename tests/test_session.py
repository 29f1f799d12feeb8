"""get_spark's local defaults: derived from the host, overridable by env
(checked without starting a second JVM)."""

from __future__ import annotations

import os

from id3c_spark.session import session_defaults


def test_session_defaults_derived_from_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    cpus, mem = session_defaults()
    assert cpus == len(os.sched_getaffinity(0))
    assert mem == f"{min(16 * 1024, total_mb // 4)}m"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session_defaults() == (3, "2g")
