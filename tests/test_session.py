"""Driver heap sizing: the default heap fits the machine's memory, is
capped at 48g, and yields to ``$TSENGINE_DRIVER_MEM``. Zip importers that
re-read an archive only when it changed, in the driver and in the workers."""

from __future__ import annotations

import builtins
import importlib
import io
import sys
import zipfile
import zipimport

import pytest

from tsengine import env_tuning, session

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


zip_rereads_eager = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="Python 3.12+ defers the zip re-read to the next lookup",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@zip_rereads_eager
def test_stable_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"tsz_first": "X = 1\n"})
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
    )
    # control: the stock importer re-reads an unchanged archive
    stock = zipimport.zipimporter(archive)
    reads.clear()
    stock.invalidate_caches()
    assert reads == [archive]

    assert env_tuning.stabilize_zip_imports()  # idempotent: import installed it
    monkeypatch.syspath_prepend(archive)
    try:
        import tsz_first

        assert tsz_first.X == 1
        assert type(sys.path_importer_cache[archive]) is env_tuning._StableZipImporter
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"tsz_first": "X = 1\n", "tsz_second": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        import tsz_second

        assert tsz_second.Y == 2
        importlib.invalidate_caches()
        assert reads == [archive]
    finally:
        for name in ("tsz_first", "tsz_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


@zip_rereads_eager
def test_spark_workers_reread_no_unchanged_archive(spark):
    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        # importing the package is what unpickling an engine UDF does
        from tsengine import env_tuning

        zips = [
            v for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        ]
        reads = []
        real_read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real_read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        for _ in batches:
            pass
        yield pd.DataFrame({
            "n_zip": [len(zips)],
            "n_stable": [sum(type(v) is env_tuning._StableZipImporter for v in zips)],
            "n_reads": [len(reads)],
        })

    got = spark.range(0, 4, 1, 4).mapInPandas(
        probe, "n_zip long, n_stable long, n_reads long"
    ).toPandas()
    assert len(got) == 4
    # pyspark.zip and the py4j zip are on every worker's path
    assert (got.n_zip > 0).all(), got
    assert (got.n_stable == got.n_zip).all(), got
    assert (got.n_reads == 0).all(), got
