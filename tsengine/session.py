"""SparkSession construction.

Local mode is a single JVM with N executor threads; on a real cluster the
same config block applies minus ``driver.memory`` sizing. That sizing
defaults to min(48g, 60% of the memory the process may use — physical RAM,
or the cgroup memory limit where one is set and lower), and
``$TSENGINE_DRIVER_MEM`` overrides it (see :func:`driver_memory`).
Everything here is plain public Spark configuration. UTC everywhere so
pandas / Spark / DuckDB agree on timestamps.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from tsengine.env_tuning import setdefault_simd

# upper bound of the default heap: at ~35M turns the wide-rollup hash agg +
# chunked windows cross 24g's execution-memory threshold and spill, and 8
# concurrent spilling tasks on virtio disk ran 3x slower (measured 489s ->
# 161s for the same job at 48g)
DRIVER_MEM_CAP_MB = 48 * 1024
# share of usable memory the default heap may take; the rest is headroom
# for what lives outside the heap (see driver_memory)
DRIVER_MEM_FRACTION = 0.6


def usable_memory_bytes() -> int | None:
    """Memory this process may use: physical RAM, lowered to the cgroup
    memory limit (v2 ``memory.max`` or v1 ``memory.limit_in_bytes``, at the
    cgroup mount root or under this process's own cgroup path) where one is
    set. None where physical RAM cannot be read."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return None
    if total <= 0:
        return None
    paths = ["/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"]
    try:
        with open("/proc/self/cgroup") as f:
            for line in f.read().splitlines():
                _, controllers, path = line.split(":", 2)
                if not controllers:
                    paths.append(f"/sys/fs/cgroup{path}/memory.max")
                elif "memory" in controllers.split(","):
                    paths.append(f"/sys/fs/cgroup/memory{path}/memory.limit_in_bytes")
    except (OSError, ValueError):
        pass
    for p in paths:
        try:
            with open(p) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():  # v2 writes "max" when no limit is set
            total = min(total, int(raw))
    return total


def default_driver_memory(mem_bytes: int | None) -> str:
    """Default ``spark.driver.memory`` for a process that may use
    ``mem_bytes``: min(48g, ``DRIVER_MEM_FRACTION`` of it), in whole
    megabytes. ``None`` (memory size unreadable) gives 48g."""
    cap = f"{DRIVER_MEM_CAP_MB // 1024}g"
    if mem_bytes is None:
        return cap
    mb = int(mem_bytes * DRIVER_MEM_FRACTION) // (1024 * 1024)
    return cap if mb >= DRIVER_MEM_CAP_MB else f"{mb}m"


def driver_memory() -> str:
    """Driver heap (``-Xmx``) for a new session: ``$TSENGINE_DRIVER_MEM``
    when set and non-empty, else :func:`default_driver_memory` of
    :func:`usable_memory_bytes`.

    The heap is lazily allocated, so it is sized for the worst stage, not
    the average — up to the 48g that the 35M-turn rollup needed to stay out
    of spill. But G1 grows the heap toward its ceiling rather than
    collecting, so a ceiling the machine cannot back ends in a kernel OOM
    kill of the JVM (a 48g heap on a 16 GB host was killed at ~15 GB RSS).
    The 40% left outside the heap covers the JVM's own off-heap memory
    (metaspace, thread stacks, direct buffers — which default to a cap of
    -Xmx too), the N Python workers, and the driver's Python process.
    """
    return os.environ.get("TSENGINE_DRIVER_MEM") or default_driver_memory(
        usable_memory_bytes()
    )


def get_spark(
    app_name: str = "tsengine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or
    ``local[*]``. ``shuffle_partitions`` defaults to the local parallelism
    so small-scale shuffles don't fan out into 200 empty tasks; on a real
    cluster, set it to ~2-3× total executor cores (AQE coalesces the rest).
    """
    # must run before the JVM launches: python workers inherit the env, and
    # numpy's SIMD dispatch is fixed at first import (see env_tuning.py)
    simd_workaround = setdefault_simd()

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = 32 if n == "*" else max(int(n), 4)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("TSENGINE_PARQUET_CODEC", "zstd"),
        )
        # zstd level 1 for writes: the publish stage is write-throughput
        # bound (55 M-row long-tier publish measured 14.5 s at level 3 vs
        # 11.2 s at level 1 for +1.7% size on numeric tier data); bump via
        # env where storage cost dominates over write latency
        .config(
            "spark.hadoop.parquet.compression.codec.zstd.level",
            os.environ.get("TSENGINE_ZSTD_LEVEL", "1"),
        )
        # parquet dictionary encoding off for writes: the engine's bulk
        # writes are dominated by high-cardinality columns (conv_id keys,
        # per-bucket stats doubles, codec blobs) where the writer builds a
        # dictionary page per column chunk only to overflow it and fall
        # back — measured 2.56 s -> 1.68 s for the 55 M-row long-tier
        # publish with ~5% size change either way (zstd absorbs the
        # low-card columns' dict loss). Readers are unaffected (encoding
        # choice only; row-group stats pushdown unchanged). Re-enable via
        # env for dict-friendly archival tables.
        .config(
            "spark.hadoop.parquet.enable.dictionary",
            os.environ.get("TSENGINE_PARQUET_DICT", "false"),
        )
        # heap: min(48g, 60% of usable memory), or $TSENGINE_DRIVER_MEM —
        # see driver_memory() for why both bounds exist
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # committer v2: task outputs move to the final location at task
        # commit — avoids the driver-side sequential rename storm of v1
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # scan split sizing: Spark targets totalSize/defaultParallelism per
        # split but FLOORS the split size at openCostInBytes (default 4 MB),
        # so a few-MB zstd parquet input collapses to 1-2 scan partitions
        # and every narrow stage (md5 hashing, per-row feature exprs) runs
        # on 1-2 of N cores — measured 9.2 s -> 1.2 s for a 64-bit simhash
        # over a 5.7 MB input at local[32]. 64 KB keeps split sizing
        # following totalSize/parallelism for small inputs; at cluster
        # scale files are >> maxPartitionBytes and openCost is irrelevant
        # to split size (it only pads the packing cost model — raise via
        # env when scanning millions of tiny files on object storage).
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("TSENGINE_OPEN_COST_BYTES", "65536"),
        )
    )
    if simd_workaround:
        b = b.config(
            "spark.executorEnv.NPY_DISABLE_CPU_FEATURES",
            os.environ["NPY_DISABLE_CPU_FEATURES"],
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (used by the bench harness to switch
    parallelism levels between runs)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # SparkContext in local mode lives in the same JVM; a fresh
    # getOrCreate() after stop() honors a new master.


def sorted_batch_apply(
    df, keys: list[str], order: list[str], batch_fn, schema, carry: bool = False
):
    """The engine's one per-series execution primitive: ``repartition(N,
    keys)`` → ``sortWithinPartitions(keys + order)`` → ``mapInPandas``.
    Each partition streams through as full Arrow batches, rows of one
    series contiguous and sorted by ``order``; numpy change points give
    ``batch_fn`` the series bounds, so per-series cost is an index slice
    (a per-group ``applyInPandas`` paid ~5 ms per group for its own
    Arrow batch, frame, call and concat).

    The explicit repartition is exempt from AQE's byte-based coalescing:
    a Python stage's cost scales with series count, not bytes, and a
    small or blob-sized input would otherwise fold into one post-shuffle
    partition and run every series in one task. N is
    ``spark.sql.shuffle.partitions``, the knob every other exchange uses.

    ``batch_fn`` gets ``(pdf, starts, ends)``: series g is rows
    ``starts[g]:ends[g]`` of ``pdf``. The operator picks one of two
    contracts:

    - whole series (``carry=False``): ``batch_fn(pdf, starts, ends) ->
      pdf_out`` sees only complete series, each exactly once. A series
      left open at the end of a batch is kept as a list of pieces and
      concatenated once, when it closes. Worker memory: one batch plus
      the longest series.
    - carry (``carry=True``): ``batch_fn(pdf, starts, ends, state) ->
      (pdf_out, state_out)`` sees each Arrow batch as it arrives. When
      the first series continues the one the previous batch left open,
      ``state`` is the ``state_out`` returned for that batch, else None;
      ``state_out`` is the state of the batch's last series. Worker
      memory: one batch, whatever the series length.
    """
    import numpy as np
    import pandas as pd

    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    d = df.repartition(n_part, *keys).sortWithinPartitions(*keys, *order)

    def group_bounds(pdf):
        n = len(pdf)
        change = np.zeros(n, dtype=bool)
        change[0] = True
        for k in keys:
            a = pdf[k].to_numpy()
            change[1:] |= a[1:] != a[:-1]
        starts = np.flatnonzero(change)
        return starts, np.append(starts[1:], n)

    def key_at(pdf, i):
        return [pdf[k].iat[i] for k in keys]

    def same(a, b):  # the `!=` group_bounds applies within a batch
        return not any(x != y for x, y in zip(a, b))

    def run_carry(batches):
        last, state = None, None
        for pdf in batches:
            if not len(pdf):
                continue
            if last is None or not same(last, key_at(pdf, 0)):
                state = None
            out, state = batch_fn(pdf, *group_bounds(pdf), state)
            last = key_at(pdf, -1)
            yield out

    def whole(pieces):
        one = pd.concat(pieces, ignore_index=True)
        return batch_fn(one, np.array([0]), np.array([len(one)]))

    def run_whole(batches):
        tail = []  # pieces of the series the previous batches left open
        for pdf in batches:
            if not len(pdf):
                continue
            starts, ends = group_bounds(pdf)
            if tail and same(key_at(tail[-1], -1), key_at(pdf, 0)):
                tail.append(pdf.iloc[:ends[0]])
                if len(starts) == 1:  # the open series fills the batch
                    continue
                starts, ends = starts[1:], ends[1:]
            if tail:
                yield whole(tail)
            tail = [pdf.iloc[starts[-1]:]]
            if len(starts) > 1:
                lo = starts[0]
                done = pdf.iloc[lo:starts[-1]].reset_index(drop=True)
                yield batch_fn(done, starts[:-1] - lo, ends[:-1] - lo)
        if tail:
            yield whole(tail)

    return d.mapInPandas(run_carry if carry else run_whole, schema)


def per_series(fn):
    """Whole-series ``batch_fn`` for :func:`sorted_batch_apply` that runs
    a one-series pandas function ``fn(pdf) -> pdf_out`` on each series
    (a fresh zero-based frame) and concatenates the results."""
    import pandas as pd

    def batch_fn(pdf, starts, ends):
        return pd.concat(
            [fn(pdf.iloc[s:e].reset_index(drop=True)) for s, e in zip(starts, ends)],
            ignore_index=True,
        )

    return batch_fn
