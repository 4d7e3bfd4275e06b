"""Run one benchmark workload in a fresh process and print its result.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

Works from any working directory. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics parsed from Spark's event log with ``--trace 1``. Spark's own log
and the Python workers' output go to ``.perfbench_work/logs/`` in the repo
root, which also holds each run's inputs and outputs while it runs.
README.md describes the workloads, inputs, checks and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
WORKLOADS = ("pipeline", "operators")
SETUP_REPEATS = 3


class Ops:
    """Operations attempted and failed; a failed check fails the
    operations it covers, each counted once."""

    def __init__(self):
        self.attempted: list[str] = []
        self.failed: set[str] = set()
        self.problems: list[str] = []

    def attempt(self, op: str) -> str:
        self.attempted.append(op)
        return op

    def fail(self, ops, why: str) -> None:
        self.failed.update(ops)
        self.problems.append(why)


class Bench:
    """What a workload needs: the session, its scratch directory, the run
    length, the timer for eager calls and the operation ledger."""

    def __init__(self, spark, data: Path, inputs: list[str], seconds: float, tracer):
        self.spark = spark
        self.data = data
        self.input_paths = [data / f"{n}.parquet" for n in inputs]
        self.seconds = seconds
        self.tracer = tracer
        self.ops = Ops()
        self.times: dict[str, list[float]] = {}
        self.extra: dict[str, float] = {}  # per-layer figures the workload measures

    def call(self, name: str, fn):
        """Time one eager call; in a traced run, tag its Spark jobs."""
        if self.tracer is not None:
            self.tracer.begin(name)
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            dt = time.perf_counter() - t0
            if self.tracer is not None:
                self.tracer.end(name)
        self.times.setdefault(name, []).append(dt)
        return out


def _redirect_stderr(log: Path):
    """Send fd 2 (inherited by the JVM and its Python workers) to ``log``;
    Python's own ``sys.stderr`` keeps the original stream."""
    sys.stderr.flush()
    saved = os.dup(2)
    fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    sys.stderr = os.fdopen(saved, "w", buffering=1)


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants: Spark's
    Python daemon puts itself in a process group of its own and outlives the
    JVM that started it unless it is collected here."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _descendants() -> list[int]:
    """Live (non-zombie) processes below this one, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            stat = Path(entry.path, "stat").read_text()
        except OSError:
            continue
        # the command name may hold spaces: the fields start after its ')'
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        if state != "Z":
            children.setdefault(int(ppid), []).append(int(entry.name))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _end_processes(grace_s: float = 20.0) -> None:
    """End the JVM and every process below it, and wait until all are gone.

    ``spark.stop()`` leaves the JVM running; it exits by itself once its
    stdin closes, but only after this process would have returned. Whatever
    is still alive after ``grace_s`` is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()  # the JVM's gateway server exits on EOF
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        alive = _descendants()
        if not alive:
            return
        if proc is not None and proc.poll() is None and time.monotonic() < deadline:
            time.sleep(0.05)  # let the JVM shut down on its own first
            continue
        if time.monotonic() >= deadline:
            sig = signal.SIGKILL
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through main's cleanup


def _session(work: Path, eventlog_dir: Path | None):
    from tsengine.session import get_spark

    conf = {
        # keep every byte Spark writes inside the checkout
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
    }
    if eventlog_dir is not None:
        shutil.rmtree(eventlog_dir, ignore_errors=True)
        eventlog_dir.mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            # no zstd module is installed for the reader side: keep it plain
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": str(eventlog_dir),
        }
    ncpu = len(os.sched_getaffinity(0))
    return get_spark(app_name="perfbench", master=f"local[{ncpu}]", extra_conf=conf)


def main(argv=None, check=None) -> int:
    """Run one workload; ``check(bench, module)`` replaces the workload's
    own checks (mutate.py passes one that also checks corrupted copies)."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Spark's Python workers import tsengine by name: the repo root must be
    # on their PYTHONPATH, not only on this process's sys.path
    sys.path.insert(1, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p
    )
    from tsengine.env_tuning import setdefault_simd

    setdefault_simd()  # must precede the first numpy import in this process

    import inputs
    import operators
    import pipeline

    module = {"pipeline": pipeline, "operators": operators}[args.workload]
    work = WORK / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "data"):
        (work / d).mkdir(parents=True)
    (WORK / "logs").mkdir(exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    logs = WORK / "logs" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    _redirect_stderr(logs.with_suffix(".log"))
    eventlog_dir = logs.with_suffix(".eventlog") if args.trace else None

    _adopt_orphans()
    signal.signal(signal.SIGTERM, _on_sigterm)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, eventlog_dir)
        session_s = time.perf_counter() - t0

        # input generation is the repeatable part of set-up: its median over
        # several repeats, plus the one session start, is setup_s
        gen_s = []
        for name in module.INPUTS:
            path = work / "data" / f"{name}.parquet"
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                inputs.write(inputs.GENERATORS[name](args.seed), str(path),
                             module.ROW_GROUPS.get(name, inputs.ROW_GROUP))
                gen_s.append(time.perf_counter() - t0)
        tracer = None
        if args.trace:
            import eventlog

            tracer = eventlog.Tracer(spark)
            tracer.install()
        bench = Bench(spark, work / "data", module.INPUTS, args.seconds, tracer)
        end_to_end = module.run(bench)
        (check or (lambda b, m: m.check(b)))(bench, module)
        setup_s = session_s + statistics.median(gen_s) * len(module.INPUTS)
        if args.trace:
            tracer.uninstall()
            rss = tracer.peak_rss_mb(spark)
            spark.stop()
            spark = None
            (eventlog_dir / "spans.json").write_text(json.dumps({
                "spans": tracer.spans, "times": bench.times, "extra": bench.extra,
                "inputs": [str(p) for p in bench.input_paths]}))
            metrics = eventlog.per_layer(tracer, eventlog_dir, session_s, bench, rss)
        else:
            metrics = {"setup_s": (setup_s, "s")} | end_to_end
    finally:
        if spark is not None:
            spark.stop()
        _end_processes()
        shutil.rmtree(work, ignore_errors=True)
    for name, ts in bench.times.items():
        print(f"{name}: {len(ts)} calls, median {statistics.median(ts):.3f} s",
              file=sys.stderr)
    for why in bench.ops.problems:
        print(f"check failed: {why}", file=sys.stderr)
    failed = len(bench.ops.failed)
    result = {
        "correct": failed == 0,
        "attempted": len(bench.ops.attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
