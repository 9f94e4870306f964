"""Stream instrumentation shared by the two phases of the cdc workload.

``progress_rows`` reads a query's own progress log (untraced runs use it
too: it is the stream's record, not a probe). For traced runs,
``BacklogListener`` is a ``StreamingQueryListener`` sampling the file
backlog, and ``traced_pipeline`` wraps the public callables the pipeline
calls per batch — ``to_envelopes_counted`` (as the pipeline module
imported it) and ``IndexState.base_for`` — restoring them on exit so
nothing leaks into the next run.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from perfbench import common


def progress_rows(query) -> list[dict]:
    """Non-empty micro-batches of a stream from its own progress log:
    start/end wall time (epoch s), rows, and the offset-listing time."""
    out = []
    for p in query.recentProgress:
        if not p.numInputRows:
            continue
        start = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=dt.timezone.utc).timestamp()
        out.append({
            "batch_id": p.batchId,
            "start": start,
            "end": start + p.batchDuration / 1000.0,
            "rows": p.numInputRows,
            "batch_ms": float(p.batchDuration),
            "offset_ms": float(p.durationMs.get("latestOffset", 0)),
        })
    out.sort(key=lambda r: r["batch_id"])
    return out


class BacklogListener(StreamingQueryListener):
    """Per-batch backlog of a file source: files visible in the changelog
    directory minus files the stream has consumed, sampled at each
    progress event (files hold a fixed number of records)."""

    def __init__(self, changelog_dir: str, records_per_file: int):
        self.dir = changelog_dir
        self.per_file = records_per_file
        self.rows = 0
        self.backlog: list[tuple[float, int]] = []  # (epoch s, files waiting)

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.rows += event.progress.numInputRows or 0
        visible = sum(1 for n in os.listdir(self.dir) if not n.startswith("."))
        self.backlog.append((time.time(), max(0, visible - self.rows // self.per_file)))

    def max_since(self, t: float) -> int:
        return max((n for at, n in self.backlog if at >= t), default=0)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@contextmanager
def traced_pipeline(tracer):
    """Wrap the pipeline's envelope shaping and index-state calls with
    spans (and count shaped rows) for the duration of the block."""
    if not tracer.enabled:
        yield
        return
    from wing_binlog_go_spark.streaming import pipeline

    shape = pipeline.to_envelopes_counted
    base_for = pipeline.IndexState.base_for

    def shaped(*args, **kwargs):
        with tracer.span("envelope.shape"):
            env, n = shape(*args, **kwargs)
        tracer.record("envelope.rows", n)
        return env, n

    pipeline.to_envelopes_counted = shaped
    pipeline.IndexState.base_for = tracer.wrap("pipeline.index_state", base_for)
    try:
        yield
    finally:
        pipeline.to_envelopes_counted = shape
        pipeline.IndexState.base_for = base_for


def stream_layers(tracer, batches: list[dict], jobs: float, tasks: float,
                  within=None) -> dict:
    """Per-layer metrics of a stream's batches; spans and values count
    only ``within`` the given windows."""
    n = max(1, len(batches))
    return {
        "sources.offset_ms_p50": common.median(b["offset_ms"] for b in batches),
        "envelope.shape_ms_p50": tracer.p50_ms("envelope.shape", within),
        "envelope.rows_per_batch_p50": common.median(
            tracer.values_of("envelope.rows", within)),
        "pipeline.index_state_ms_p50": tracer.p50_ms("pipeline.index_state", within),
        "pipeline.batches": len(batches),
        "pipeline.batch_ms_p50": common.median(b["batch_ms"] for b in batches),
        "pipeline.batch_ms_p90": common.pct([b["batch_ms"] for b in batches], 0.9),
        "pipeline.jobs_per_batch": jobs / n,
        "pipeline.tasks_per_batch": tasks / n,
    }
