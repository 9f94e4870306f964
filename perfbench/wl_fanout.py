"""Fan-out phase of the cdc workload. A separate generator process
(perfbench/loadgen.py) renames change-record files into the changelog
directory while the stream runs under its default trigger with two
routes: a parquet archive of all 8 tables and a subscribe gateway
filtered to 4 of them. The generator's own ``SubscribeClient``
timestamps each receipt; latency runs from the moment the generator
starts writing the event's file to that receipt.

The load is a closed loop with one file in flight, in windows of
PER_WINDOW files: the next file is written once the subscriber has every
event of the previous one. Each file therefore finds the stream idle and
its latency is one micro-batch of listing, shaping, archiving and
pushing. There is no fixed schedule: when a busy host stretches batches
past a schedule's period, the queue that builds up multiplies the host's
slowdown in the latency figure. Set-up is
WARM_FILES batches through the same stream; the generator builds its
files while the session starts.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from perfbench import common
from perfbench.cdcwire import BacklogListener, progress_rows, stream_layers
from perfbench.datagen import ChangeStream, iso_utc

PER_FILE = 1_000  # events per file, 8 tables; the gateway carries about half
PER_WINDOW = 6  # files per load window
KEYS_PER_TABLE = 5_000
TOPIC = r"^bench\.t[0-3]$"  # the gateway carries 4 of the 8 tables
WARM_FILES = 3  # one warm-up batch per file, like a loaded one


def _routes(out: str, server, tracer):
    from wing_binlog_go_spark.streaming.pipeline import Route
    from wing_binlog_go_spark.streaming.sinks import parquet_route_writer
    from wing_binlog_go_spark.streaming.subscribe import subscribe_route_writer

    return [
        Route("archive", tracer.wrap(
            "route.archive", parquet_route_writer(os.path.join(out, "archive")))),
        Route("gateway", tracer.wrap(
            "route.gateway", subscribe_route_writer(server)), filters=[TOPIC]),
    ]


class Fanout:
    """The gateway, the generator process and the stream between them.
    Construction starts the generator, which builds its files while the
    session starts; ``close`` stops whatever is still running."""

    def __init__(self, work: str, seed: int, windows: int):
        from wing_binlog_go_spark.streaming.subscribe import SubscribeServer

        self.seed = seed
        self.server = SubscribeServer()
        self.changelog = os.path.join(work, "fanout", "changelog")
        self.out = os.path.join(work, "fanout", "out")
        common.reset_dir(self.changelog)
        common.reset_dir(self.out)
        self.cfg = {
            "seed": seed, "per_file": PER_FILE,
            "windows": windows, "per_window": PER_WINDOW,
            "keys_per_table": KEYS_PER_TABLE, "topic": TOPIC,
            "host": self.server.address[0], "port": self.server.address[1],
            "changelog": self.changelog, "drain_timeout": 60.0,
            "result": os.path.join(work, "fanout", "loadgen.json"),
        }
        cfg_path = os.path.join(work, "fanout", "loadgen_cfg.json")
        with open(cfg_path, "w") as f:
            json.dump(self.cfg, f)
        self.gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"), cfg_path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.query = None
        self.listener = None
        self.windows: list[tuple[float, float]] = []  # perf_counter spans of the load

    def warm_up(self, spark, tracer) -> float:
        """Start the stream and run WARM_FILES one-file batches through it;
        returns seconds. The stream runs until ``finish``."""
        from wing_binlog_go_spark.streaming.pipeline import run_pipeline

        t0 = time.perf_counter()
        if tracer.enabled:
            # warm-up files hold PER_FILE records too, so the backlog
            # arithmetic (visible files − consumed rows / PER_FILE) holds
            self.listener = BacklogListener(self.changelog, PER_FILE)
            spark.streams.addListener(self.listener)
        self.query = run_pipeline(spark, self.changelog, _routes(self.out, self.server, tracer),
                                  os.path.join(self.out, "ckpt"), available_now=False)
        warm = ChangeStream(self.seed + 1, KEYS_PER_TABLE)
        for k in range(WARM_FILES):
            tmp = os.path.join(self.changelog, f".warm-{k:03d}.tmp")
            with open(tmp, "w") as f:
                f.write(warm.file_lines(k, PER_FILE, iso_utc(time.time())))
            os.rename(tmp, os.path.join(self.changelog, f"warm-{k:03d}.jsonl"))
            self.query.processAllAvailable()
        if self.gen.stdout.readline().strip() != "BUILT":
            raise RuntimeError("load generator failed to build its input")
        return time.perf_counter() - t0

    def window(self) -> None:
        """One load window: PER_WINDOW files, one in flight at a time."""
        if not self.windows:
            self.t_load = time.time()
        t0 = time.perf_counter()
        self.gen.stdin.write("GO\n")
        self.gen.stdin.flush()
        if self.gen.stdout.readline().strip() != "DONE":
            raise RuntimeError("load generator stopped mid-window")
        self.windows.append((t0, time.perf_counter()))

    def finish(self, spark, tracer) -> None:
        """Wait for the generator's result and stop the stream."""
        self.gen.wait(timeout=30)
        if self.gen.returncode != 0:
            raise RuntimeError(f"load generator exited {self.gen.returncode}")
        q = self.query
        q.processAllAvailable()
        q.stop()
        if self.listener is not None:
            spark.streams.removeListener(self.listener)
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        with open(self.cfg["result"]) as f:
            self.res = json.load(f)
        all_batches = progress_rows(q)
        self.batches = [b for b in all_batches if b["start"] >= self.t_load]
        self.latencies = [r[2] for r in self.res["receipts"]]
        self.layer_values = {}
        if tracer.enabled:  # jobs of the whole query, per timed batch of it
            jobs = common.JobCounter(spark)
            ids = jobs.job_ids(str(q.runId))
            share = len(self.batches) / max(1, len(all_batches))
            w = self.windows
            self.layer_values = stream_layers(
                tracer, self.batches, len(ids) * share,
                jobs.tasks_and_shuffle(ids)[0] * share, w)
            self.layer_values.update({
                "sources.backlog_files_max": self.listener.max_since(self.t_load),
                "route.archive.ms_p50": tracer.p50_ms("route.archive", w),
                "route.gateway.ms_p50": tracer.p50_ms("route.gateway", w),
                "gateway.frames_sent": sum(tracer.values_of("gateway.sent", w)),
                "gateway.frames_received": len(self.res["receipts"]),
                "gateway.evicted_clients": int(self.res["evicted"]),
                "loadgen.late_p99_ms": common.pct(self.res["late_ms"], 0.99),
                "loadgen.events_sent": self.res["sent"],
            })

    def count_sends(self, tracer) -> None:
        """Count the gateway's accepted sends (traced runs)."""
        send_all = self.server.send_all

        def counted_send_all(table, data):
            sent = send_all(table, data)
            tracer.record("gateway.sent", int(sent))
            return sent

        self.server.send_all = counted_send_all

    def check(self) -> tuple[int, list[str]]:
        """Every matched event delivered exactly once, in event_index order;
        the archive holds every sent event once. Returns (events failing a
        check, descriptions)."""
        import pyarrow.parquet as pq

        res = self.res
        archived = pq.read_table(os.path.join(self.out, "archive"), columns=["event_index"])
        n_warm = WARM_FILES * PER_FILE
        archive_rows = archived.num_rows - n_warm
        archive_distinct = len(set(archived.column(0).to_pylist())) - n_warm
        checks = []
        got = [r[0] for r in res["receipts"]]
        idx = [r[1] for r in res["receipts"]]
        checks.append((len(got) - len(set(got)), "delivered more than once"))
        checks.append((len(set(res["matched"]) - set(got)), "filtered events not delivered"))
        checks.append((len(set(got) - set(res["matched"])),
                       "delivered outside the subscription"))
        checks.append((sum(b <= a for a, b in zip(idx, idx[1:]))
                       + sum(b <= a for a, b in zip(got, got[1:])),
                       "delivered out of event_index order"))
        checks.append((abs(res["sent"] - archive_rows) + abs(res["sent"] - archive_distinct),
                       f"archive rows/distinct event_index off from {res['sent']} sent"))
        if res["evicted"]:
            checks.append((1, "subscriber evicted by the gateway"))
        return (sum(n for n, _ in checks),
                [f"{n} {what}" for n, what in checks if n])

    def close(self) -> None:
        """Stop the generator and the gateway (stopping the session stops
        the stream)."""
        if self.gen.poll() is None:
            self.gen.kill()
        self.gen.wait()
        self.gen.stdin.close()
        self.gen.stdout.close()
        self.server.close()
