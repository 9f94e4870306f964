"""Shared plumbing for the workloads: the checkout-local work directory,
the pinned Spark session, percentiles, memory, and the tracer.

Nothing here changes engine behaviour. The session comes from the
engine's own factory (``wing_binlog_go_spark.session.get_spark``) with
the master and shuffle-partition count pinned to this machine's core
count and the driver heap pinned, so every workload runs the same confs.
"""

from __future__ import annotations

import math
import os
import shutil
import subprocess
import time
from contextlib import contextmanager
from typing import Callable

NPROC = len(os.sched_getaffinity(0))
# Driver heap pinned so peak RSS compares across machines with different
# memory sizes (the factory's default is half of physical memory).
DRIVER_MEM = "2g"


def prepare_env(work: str) -> None:
    """Point every scratch location Spark, the JVM and Python use at
    ``work``, so a run reads and writes only inside the checkout. Must
    run before pyspark starts the JVM."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_CPUS=str(NPROC),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir;
        # -Xms = -Xmx: the heap does not resize mid-run, so runs do not
        # split by when the JVM decided to grow it
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-XX:-UsePerfData -Xms{DRIVER_MEM} '
            f'-Djava.io.tmpdir={tmp}" '
            f"--conf spark.hadoop.hadoop.tmp.dir={tmp} pyspark-shell"
        ),
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp


def start_session(app: str, cores: int = NPROC):
    from wing_binlog_go_spark.session import get_spark

    return get_spark(app, master=f"local[{cores}]", shuffle_partitions=cores)


def stop_session() -> None:
    """Stop the active Spark context and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def versions(spark) -> dict:
    import pyspark

    return {
        "nproc": NPROC,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "driver_mem": DRIVER_MEM,
    }


def _hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_hwm_kb("self") + _hwm_kb(jvm_pid)) / 1024.0


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1]); 0.0 for no values."""
    vs = sorted(values)
    if not vs:
        return 0.0
    pos = q * (len(vs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(vs) - 1)
    return vs[lo] + (vs[hi] - vs[lo]) * (pos - lo)


def median(values) -> float:
    return pct(values, 0.5)


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)


class Tracer:
    """Spans and measured values recorded from the benchmark's side of
    each layer boundary, kept in memory until the run ends. Disabled,
    ``wrap`` returns the callable unchanged and ``span`` and ``record``
    do nothing, so the untraced run pays nothing. Readers take an
    optional ``within``, a list of (start, end) ``perf_counter`` windows:
    only spans starting, and values recorded, inside one of them count."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []
        self.values: list[tuple[str, float, float]] = []  # (name, at, value)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))

    def wrap(self, name: str, fn: Callable) -> Callable:
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def record(self, name: str, value: float) -> None:
        """A measured quantity (rows, bytes, ...) at a layer boundary."""
        if self.enabled:
            self.values.append((name, time.perf_counter(), value))

    @staticmethod
    def _inside(t: float, within) -> bool:
        return within is None or any(a <= t <= b for a, b in within)

    def p50_ms(self, name: str, within=None) -> float:
        return median((b - a) * 1000.0 for n, a, b in self.spans
                      if n == name and self._inside(a, within))

    def values_of(self, name: str, within=None) -> list[float]:
        return [v for n, t, v in self.values if n == name and self._inside(t, within)]


class JobCounter:
    """Jobs, tasks and shuffle bytes Spark ran for a job group, read from
    its status tracker and status store. A streaming query's jobs run in
    the group named by its ``runId``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def job_ids(self, group: str) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def tasks_and_shuffle(self, job_ids) -> tuple[int, int]:
        tasks = 0
        stage_ids: list[int] = []
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is not None:
                    tasks += st.numTasks
                    stage_ids.append(s)
        return tasks, self._shuffle_write_bytes(stage_ids)

    def _shuffle_write_bytes(self, stage_ids) -> int:
        store = self.sc._jsc.sc().statusStore()
        total = 0
        for s in stage_ids:
            try:
                attempts = store.stageData(s, False, None, False, None)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            for i in range(attempts.size()):
                total += attempts.apply(i).shuffleWriteBytes()
        return total
