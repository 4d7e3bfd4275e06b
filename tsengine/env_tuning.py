"""Interpreter workarounds the engine installs for itself.

1. numpy SIMD dispatch vs virtualized CPUs.

Some sandboxed/virtualized hosts (observed on a Firecracker guest)
advertise AVX/AVX2/AVX-512 in CPUID but trap-and-emulate the instructions,
making numpy's vectorized kernels 100-700× SLOWER than its SSE paths
(measured: np.cumsum over 2.5M int64 = 2.1 s with AVX dispatch, 9 ms with
SSE). Pure-Python code is unaffected, so the pathology only shows up in
exactly the code that should be fastest — Arrow/pandas UDFs and codecs.

``NPY_DISABLE_CPU_FEATURES`` must be set BEFORE numpy is first imported in
a process. Two surfaces:

- driver / test / bench processes: entry points call ``setdefault_simd()``
  at the very top, before importing anything numpy-flavored;
- Spark python workers: ``session.get_spark`` passes the variable that
  ``setdefault_simd()`` set on to the workers as
  ``spark.executorEnv.NPY_DISABLE_CPU_FEATURES``, so every pandas-UDF
  worker gets fast numpy.

On healthy hardware the microbenchmark passes and nothing is disabled —
real clusters keep their AVX.

2. Zip archives re-read at every Spark Python task (Python < 3.12).

pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every task. Before 3.12,
that makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its archive's whole central directory at once: ``pyspark.zip``
and one importer per package imported from it, the py4j zip and the
Spark jar on the worker path — about 27 K entries and 0.2-0.35 s per
task, even for a no-op task in a reused worker. ``stabilize_zip_imports()``
makes those re-reads conditional on the archive having changed. Importing
``tsengine`` calls it, so every worker that unpickles an engine UDF
installs it, whatever launched the worker (``spark-submit --py-files``
included); the first task of a fresh worker still pays the stock re-read.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipimport

# AVX tiers only — SSE4.2 and below run at full speed under the trap.
PATHOLOGICAL_FEATURES = (
    "AVX512F AVX512CD AVX512_SKX AVX512_CLX AVX512_CNL AVX512_ICL "
    "AVX2 FMA3 F16C AVX"
)

_ENV = "NPY_DISABLE_CPU_FEATURES"
_PROBE = (
    "import time,numpy as np;a=np.arange(2_000_000,dtype=np.int64);"
    "t=time.time();[np.cumsum(a) for _ in range(3)];"
    "print('SLOW' if time.time()-t>0.3 else 'OK')"
)


def simd_is_pathological() -> bool:
    """Probe in a clean subprocess (the current process may already have
    numpy imported, whose dispatch can't be changed)."""
    try:
        out = subprocess.run(
            [sys.executable, "-c", _PROBE],
            capture_output=True, text=True, timeout=60,
            env={k: v for k, v in os.environ.items() if k != _ENV},
        )
        return "SLOW" in out.stdout
    except Exception:
        return False


def setdefault_simd(force: bool | None = None) -> bool:
    """Set the disable list in os.environ (for this process — effective
    only if numpy is not yet imported — and all children). Returns True if
    the workaround is active."""
    if _ENV in os.environ:
        return bool(os.environ[_ENV])
    active = force if force is not None else simd_is_pathological()
    if active:
        os.environ[_ENV] = PATHOLOGICAL_FEATURES
    return active


def _archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


# archive path → (stamp, directory read at that stamp), shared by every
# importer of one archive (pyspark.zip has one per imported package)
_DIRECTORIES: dict[str, tuple] = {}


def _adopt(imp) -> None:
    """Record the stamp of a directory this process has not stamped yet.
    The stock importer re-reads at every invalidation, so an adopted
    directory is as fresh as the last ``invalidate_caches()``."""
    known = _DIRECTORIES.get(imp.archive)
    if known is None or known[1] is not imp._files:
        _DIRECTORIES[imp.archive] = (_archive_stamp(imp.archive), imp._files)


class _StableZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` re-reads the archive only
    when its ``(st_mtime_ns, st_size)`` changed."""

    def __init__(self, path):
        super().__init__(path)
        _adopt(self)

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)
        known = _DIRECTORIES.get(self.archive)
        if stamp is not None and known is not None and known[0] == stamp:
            self._files = known[1]
            return
        super().invalidate_caches()
        _DIRECTORIES[self.archive] = (stamp, self._files)


def stabilize_zip_imports() -> bool:
    """Swap the stock zipimporter for ``_StableZipImporter`` in
    ``sys.path_hooks`` and in every ``sys.path_importer_cache`` entry.
    Idempotent; installs nothing on Python ≥ 3.12, whose importers defer
    the re-read to the next lookup. Returns True if installed."""
    if sys.version_info >= (3, 12):
        return False
    sys.path_hooks[:] = [
        _StableZipImporter if h is zipimport.zipimporter else h
        for h in sys.path_hooks
    ]
    for imp in list(sys.path_importer_cache.values()):
        if type(imp) is zipimport.zipimporter:
            # in place, so modules' __loader__ and __spec__.loader follow
            imp.__class__ = _StableZipImporter
            _adopt(imp)
    return True
