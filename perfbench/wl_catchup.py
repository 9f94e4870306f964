"""Catch-up phase of the cdc workload: a replica catching up after
downtime, again and again.

A base backlog (8 tables, Zipf-skewed keys, mostly updates with some
deletes and PK-moving updates) is drained once with ``availableNow`` into
a parquet archive plus one ``upsert_parquet`` replica per table, wired as
in ``examples/cdc_pipeline.py``. Each catch-up after that is a delta of
``DELTA_EVENTS`` events written while the query is down, then a fresh
``availableNow`` query over the same checkpoint that drains it: one
micro-batch that reads, merges and rewrites every replica table. The
replicas keep their rows between catch-ups and grow a little with every
PK move. At the end, outside the timed region, every replica table is
compared with the generator's expected final state and the archive with
every event written.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from perfbench import common
from perfbench.cdcwire import progress_rows
from perfbench.datagen import DATABASE, N_TABLES, ChangeStream, write_backlog

BASE_FILES, BASE_PER_FILE = 8, 1000  # 8k events: one batch builds the replicas
DELTA_FILES, DELTA_PER_FILE = 8, 500  # 4k events per catch-up: one batch
DELTA_EVENTS = DELTA_FILES * DELTA_PER_FILE
KEYS_PER_TABLE = 1500  # ≈12k PKs over the 8 tables
GEN_REPEATS = 3  # the base backlog is built this many times; its median build time counts


def parquet_dir_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of the parquet files directly under ``path``."""
    rows = size = 0
    for name in os.listdir(path):
        if name.endswith(".parquet") and not name.startswith((".", "_")):
            f = os.path.join(path, name)
            rows += pq.read_metadata(f).num_rows
            size += os.path.getsize(f)
    return rows, size


def _routes(out: str, tracer):
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.streaming.pipeline import Route, upsert_parquet
    from wing_binlog_go_spark.streaming.sinks import parquet_route_writer

    routes = [Route("archive", tracer.wrap(
        "route.archive", parquet_route_writer(os.path.join(out, "archive"))))]
    for t in range(N_TABLES):
        target = os.path.join(out, "replica", f"t{t}")
        name = f"{DATABASE}.t{t}"

        def replica(env, batch_id, target=target, name=name):
            with tracer.span("route.replica"):
                upsert_parquet(env.filter(F.col("full_table") == name), target, pk="id")
            if tracer.enabled and os.path.isdir(target):
                rows, size = parquet_dir_stats(target)
                tracer.record("replica.rows", rows)
                tracer.record("replica.bytes", size)

        routes.append(Route(f"replica.t{t}", replica))
    return routes


class Catchup:
    """The replica, its changelog and checkpoint, and the generator that
    feeds them. Construction builds the base backlog (set-up)."""

    def __init__(self, work: str, seed: int):
        self.changelog = os.path.join(work, "catchup", "changelog")
        self.out = os.path.join(work, "catchup", "out")
        gen_s = []
        for i in range(GEN_REPEATS):  # the last build is the one drained
            common.reset_dir(self.changelog)
            t0 = time.perf_counter()
            self.stream = ChangeStream(seed, KEYS_PER_TABLE)
            self.events = write_backlog(self.changelog, self.stream, BASE_FILES, BASE_PER_FILE)
            gen_s.append(time.perf_counter() - t0)
        self.gen_s = common.median(gen_s)
        self.files = BASE_FILES
        common.reset_dir(self.out)
        self.rates: list[float] = []
        self.batches: list[dict] = []
        self.job_n = self.task_n = 0

    def add_delta(self) -> int:
        """Write the next delta while no query runs (not timed)."""
        n = write_backlog(self.changelog, self.stream, DELTA_FILES, DELTA_PER_FILE,
                          first=self.files)
        self.files += DELTA_FILES
        self.events += n
        return n

    def drain(self, spark, tracer):
        """One availableNow query over the shared checkpoint; returns
        (seconds from start to termination, query)."""
        from wing_binlog_go_spark.streaming.pipeline import run_pipeline

        routes = _routes(self.out, tracer)
        t0 = time.perf_counter()
        q = run_pipeline(spark, self.changelog, routes, os.path.join(self.out, "ckpt"),
                         available_now=True)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"drain failed: {q.exception()}")
        return wall, q

    def warm_up(self, spark) -> float:
        """The base drain, which builds the replicas; returns seconds. The
        first timed catch-up is the first read-merge-rewrite, and the
        slowest: the median over catch-ups absorbs it."""
        t0 = time.perf_counter()
        self.drain(spark, common.Tracer(False))
        return time.perf_counter() - t0

    def catch_up(self, spark, tracer) -> None:
        """One timed catch-up: a new delta, then a drain of it."""
        n = self.add_delta()
        wall, q = self.drain(spark, tracer)
        self.rates.append(n / wall)
        self.batches.extend(progress_rows(q))
        if tracer.enabled:
            jobs = common.JobCounter(spark)
            ids = jobs.job_ids(str(q.runId))
            self.job_n += len(ids)
            self.task_n += jobs.tasks_and_shuffle(ids)[0]

    def local1_rate(self) -> float:
        """Single-core baseline: one more catch-up on a ``local[1]``
        context in the same, already warm JVM. Stops the active session."""
        from pyspark.sql import SparkSession

        SparkSession.getActiveSession().stop()
        spark = common.start_session("perfbench-catchup-1", cores=1)
        n = self.add_delta()
        wall, _ = self.drain(spark, common.Tracer(False))
        return n / wall

    def layers(self, tracer) -> dict:
        """Per-layer figures of the timed catch-ups (traced runs)."""
        drained = DELTA_EVENTS * len(self.rates)
        return {
            "route.replica.ms_p50": tracer.p50_ms("route.replica"),
            "replica.rows_rewritten_per_event":
                sum(tracer.values_of("replica.rows")) / drained,
            "replica.bytes_written_per_event":
                sum(tracer.values_of("replica.bytes")) / drained,
            "catchup.batch_ms_p50": common.median(b["batch_ms"] for b in self.batches),
            "catchup.jobs_per_batch": self.job_n / max(1, len(self.batches)),
        }

    def check(self) -> tuple[int, list[str]]:
        """Replica tables against the generator's expected final state, and
        the archive against every event written. Returns (rows or events
        that are off, descriptions)."""
        from wing_binlog_go_spark.streaming.pipeline import pk_str

        bad, problems = 0, []
        archived = pq.read_table(os.path.join(self.out, "archive"), columns=["event_index"])
        off = abs(archived.num_rows - self.events) + abs(
            len(set(archived.column(0).to_pylist())) - self.events)
        if off:
            bad += off
            problems.append(f"archive holds {archived.num_rows} rows for {self.events} events")
        for t in range(N_TABLES):
            want = {pk_str(k): v for k, v in self.stream.state[t].items()}
            path = os.path.join(self.out, "replica", f"t{t}")
            got = {}
            if os.path.isdir(path):
                tab = pq.read_table(path, columns=["_pk", "row"])
                for pk, row in zip(tab.column("_pk").to_pylist(),
                                   tab.column("row").to_pylist()):
                    got[pk] = dict(row)
            missing = len(want.keys() - got.keys())
            extra = len(got.keys() - want.keys())
            wrong = sum(1 for k in want.keys() & got.keys() if want[k] != got[k])
            if missing or extra or wrong:
                bad += missing + extra + wrong
                problems.append(f"replica t{t}: {missing} missing, {extra} extra, "
                                f"{wrong} wrong of {len(want)} rows")
        return bad, problems
