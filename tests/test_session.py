"""Driver heap sizing: the default heap fits the machine's memory, is
capped at 48g, and yields to ``$TSENGINE_DRIVER_MEM``."""

from __future__ import annotations

import builtins
import io

import pytest

from tsengine import session

GIB = 1024**3


def _mb(spec: str) -> int:
    n, unit = int(spec[:-1]), spec[-1]
    return n * {"m": 1, "g": 1024}[unit]


@pytest.mark.parametrize("gib", [0.75, 1, 2, 4, 15.7, 16, 31.5, 64, 79])
def test_default_heap_within_fraction(gib):
    mem = int(gib * GIB)
    got = _mb(session.default_driver_memory(mem))
    assert 0 < got * 1024 * 1024 <= session.DRIVER_MEM_FRACTION * mem
    assert got <= session.DRIVER_MEM_CAP_MB


def test_default_heap_capped_at_48g_on_large_hosts():
    assert session.default_driver_memory(81 * GIB) == "48g"
    assert session.default_driver_memory(1024 * GIB) == "48g"


def test_env_override_wins(monkeypatch):
    monkeypatch.setattr(session, "usable_memory_bytes", lambda: 4 * GIB)
    monkeypatch.setenv("TSENGINE_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"
    monkeypatch.setenv("TSENGINE_DRIVER_MEM", "100g")
    assert session.driver_memory() == "100g"
    monkeypatch.delenv("TSENGINE_DRIVER_MEM")
    assert session.driver_memory() == session.default_driver_memory(4 * GIB)


def test_unreadable_memory_falls_back_to_48g(monkeypatch):
    def no_sysconf(name):
        raise ValueError(name)

    monkeypatch.delenv("TSENGINE_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.os, "sysconf", no_sysconf)
    assert session.usable_memory_bytes() is None
    assert session.default_driver_memory(None) == "48g"
    assert session.driver_memory() == "48g"


def test_cgroup_limit_lowers_usable_memory(monkeypatch):
    real_open = builtins.open

    def fake_open(path, *a, **k):
        if path == "/sys/fs/cgroup/memory.max":
            return io.StringIO(f"{2 * GIB}\n")
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", fake_open)
    assert session.usable_memory_bytes() <= 2 * GIB


def test_session_jvm_launched_with_resolved_heap(spark):
    """The suite's JVM carries exactly the heap driver_memory() resolves
    (run with $TSENGINE_DRIVER_MEM set to check the override end to end)."""
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    xmx = [a for a in args if a.startswith("-Xmx")]
    assert xmx == [f"-Xmx{session.driver_memory()}"], args
