"""Route dispatch inside one micro-batch: the routes of a batch run
concurrently, a route marked ``after_earlier_routes`` sees what the
routes before it committed, a failing route fails the batch only after
its siblings have returned, and every route's Spark jobs stay in the
query's job group."""

from __future__ import annotations

import json
import threading
import time

import pytest
from pyspark.sql import functions as F

from wing_binlog_go_spark.sources.changelog import (
    fixture_records,
    write_fixture_changelog,
)
from wing_binlog_go_spark.streaming.pipeline import (
    Route,
    _run_concurrently,
    after_earlier_routes,
    run_pipeline,
    upsert_parquet,
)
from tests.streamwait import await_done


def _indexes(env) -> list[int]:
    return sorted(r.event_index for r in env.select("event_index").collect())


def test_routes_of_a_batch_run_concurrently(spark, tmp_path):
    """Two routes meet at a barrier: run one after the other, the first
    would wait out the barrier's timeout and fail the batch."""
    log_dir = tmp_path / "log"
    write_fixture_changelog(str(log_dir), split_files=False)
    barrier = threading.Barrier(2, timeout=30)
    met: list[str] = []

    def meet(name):
        def write(env, batch_id):
            barrier.wait()
            met.append(name)

        return write

    q = run_pipeline(
        spark, str(log_dir), [Route("a", meet("a")), Route("b", meet("b"))],
        str(tmp_path / "ckpt"),
    )
    await_done(q)
    assert sorted(met) == ["a", "b"]


def test_failing_route_fails_batch_after_siblings_and_replays(spark, tmp_path):
    """The batch fails only once the slow sibling has returned, and the
    replay of the batch carries the same event_index values."""
    log_dir = tmp_path / "log"
    ckpt = str(tmp_path / "ckpt")
    write_fixture_changelog(str(log_dir), split_files=False)
    attempt: dict[str, list] = {"sibling": [], "replay": []}

    def failing(env, batch_id):
        raise ValueError("route failed on purpose")

    def sibling(env, batch_id):
        time.sleep(2.0)
        attempt["sibling"].append(_indexes(env))

    q = run_pipeline(
        spark, str(log_dir), [Route("bad", failing), Route("slow", sibling)], ckpt
    )
    with pytest.raises(Exception, match="route failed on purpose"):
        q.awaitTermination(600)
    # the sibling had returned when the failure reached the query
    assert len(attempt["sibling"]) == 1

    def recover(env, batch_id):
        attempt["replay"].append(_indexes(env))

    q = run_pipeline(spark, str(log_dir), [Route("ok", recover)], ckpt)
    await_done(q)
    assert attempt["replay"] == attempt["sibling"]
    assert attempt["replay"][0]


def test_first_failure_in_route_order_is_raised(spark):
    """Of two failing calls the first in list order is raised, even when
    the later one fails first; a marked call after a failure never
    starts."""
    started: list[str] = []

    def slow_fail():
        time.sleep(0.5)
        raise ValueError("first")

    def fast_fail():
        raise KeyError("second")

    with pytest.raises(ValueError, match="first"):
        _run_concurrently([
            (slow_fail, False),
            (fast_fail, False),
            (lambda: started.append("marked"), True),
        ])
    assert started == []


def test_marked_route_sees_earlier_routes_commit(spark, tmp_path):
    """A marked route starts after a slow earlier route has committed
    its rewrite; an unmarked route runs beside the slow one."""
    log_dir = tmp_path / "log"
    write_fixture_changelog(str(log_dir), split_files=False)
    target = str(tmp_path / "replica")
    seen: dict[str, list] = {"marked": [], "unmarked": []}

    def slow_upsert(env, batch_id):
        time.sleep(1.5)
        upsert_parquet(
            env.filter(F.col("full_table") == "fixtures.cdc_typed_all"), target
        )

    def reads_replica(key):
        def write(env, batch_id):
            try:
                seen[key].append(spark.read.parquet(target).count())
            except Exception:  # noqa: BLE001 - not committed yet
                seen[key].append(None)

        return write

    q = run_pipeline(
        spark,
        str(log_dir),
        [
            Route("replica", slow_upsert),
            Route("beside", reads_replica("unmarked")),
            Route("after", after_earlier_routes(reads_replica("marked"))),
        ],
        str(tmp_path / "ckpt"),
    )
    await_done(q)
    assert seen["marked"] == [spark.read.parquet(target).count()]
    assert seen["unmarked"] == [None]


def test_route_jobs_run_in_the_query_job_group(spark, tmp_path):
    log_dir = tmp_path / "log"
    write_fixture_changelog(str(log_dir), split_files=False)
    groups: list = []

    def record(env, batch_id):
        env.count()
        groups.append(env.sparkSession.sparkContext.getLocalProperty(
            "spark.jobGroup.id"))

    q = run_pipeline(
        spark, str(log_dir), [Route("a", record), Route("b", record)],
        str(tmp_path / "ckpt"),
    )
    await_done(q)
    assert groups == [str(q.runId)] * 2


def _threads_but_callback_connections() -> int:
    """Live Python threads, less py4j's callback connections: each JVM
    thread that calls into Python (every query's stream thread) keeps
    one, with or without route threads."""
    from py4j.clientserver import ClientServerConnection

    return sum(
        not isinstance(
            getattr(getattr(t, "_target", None), "__self__", None),
            ClientServerConnection,
        )
        for t in threading.enumerate()
    )


def test_route_threads_do_not_leak(spark, tmp_path):
    """Five batches of three routes each leave no thread behind."""
    recs = fixture_records()
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    for i in range(5):
        with open(log_dir / f"part{i}.jsonl", "w") as f:
            for r in recs[i * 3:(i + 1) * 3]:
                f.write(json.dumps(r) + "\n")
    batches: list[int] = []
    routes = [
        Route("a", lambda env, b: batches.append(b)),
        Route("b", lambda env, b: env.count()),
        Route("c", after_earlier_routes(lambda env, b: env.count())),
    ]
    before = _threads_but_callback_connections()
    q = run_pipeline(
        spark, str(log_dir), routes, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    await_done(q)
    assert len(batches) == 5
    # threads other tests left behind may end meanwhile, never start
    assert _threads_but_callback_connections() <= before
