"""cdc workload: the two things a user of the CDC pipeline feels, in one
session — how fast a replica catches up after downtime (perfbench/
wl_catchup.py) and how soon a committed change reaches a subscriber
(perfbench/wl_fanout.py).

After session start, input build and both warm-ups (together
``setup_s``), the run alternates a timed catch-up with a fan-out load
window, so both figures sample the whole measuring time rather than one
part of it each. The checks of both phases run at the end.
"""

from __future__ import annotations

import time

from perfbench import common
from perfbench.cdcwire import traced_pipeline
from perfbench.wl_catchup import Catchup
from perfbench.wl_fanout import Fanout

CYCLE_S = 12.0  # about what one catch-up plus one load window take on a 4-core VM
MIN_CYCLES = 3


def run(ctx) -> dict:
    # a cycle count fixed by --seconds: every run does the same work
    cycles = max(MIN_CYCLES, round(ctx.seconds / CYCLE_S))
    fan = Fanout(ctx.work, ctx.seed, cycles)
    try:
        t0 = time.perf_counter()
        spark = common.start_session("perfbench-cdc")
        start_s = time.perf_counter() - t0
        try:
            return _run(ctx, spark, start_s, fan, cycles)
        finally:
            common.stop_session()
    finally:
        fan.close()


def _run(ctx, spark, start_s: float, fan: Fanout, cycles: int) -> dict:
    tracer = ctx.tracer
    cat = Catchup(ctx.work, ctx.seed)
    with traced_pipeline(tracer):
        cat_warm_s = cat.warm_up(spark)
        fan_warm_s = fan.warm_up(spark, tracer)
        if tracer.enabled:
            fan.count_sends(tracer)
        for _ in range(cycles):
            cat.catch_up(spark, tracer)
            fan.window()
        fan.finish(spark, tracer)
    layers = cat.layers(tracer) if tracer.enabled else {}
    layers.update(fan.layer_values)
    rss = common.peak_rss_mb(spark)
    env = common.versions(spark)
    if tracer.enabled:
        layers["scaling.catchup_local1_events_per_s"] = cat.local1_rate()

    failed_f, notes_f = fan.check()
    failed_c, notes_c = cat.check()
    setup_s = start_s + cat.gen_s + cat_warm_s + fan_warm_s
    rate = common.median(cat.rates)
    lat = fan.latencies
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": common.pct(lat, 0.5),
        "throughput_per_s": rate,
    }
    named = {
        "peak_rss_mb": (rss, "MB"),
        "event_latency_p50_ms": (e2e["latency_p50_ms"], "ms"),
        "event_latency_p90_ms": (common.pct(lat, 0.9), "ms"),
        "events_timed": (len(lat), "count"),
        "batches_timed": (len(fan.batches), "count"),
        "loadgen_late_p99_ms": (common.pct(fan.res["late_ms"], 0.99), "ms"),
        "catchup_events_per_s": (rate, "1/s"),
        "catchups_timed": (len(cat.rates), "count"),
    }
    layers.update({
        "session.start_s": start_s,
        "setup.datagen_s": cat.gen_s,
        "setup.warmup_s": cat_warm_s + fan_warm_s,
        "memory.peak_rss_mb": rss,
    })
    attempted = fan.res["sent"] + cat.events  # every event written, timed or not
    return {"attempted": attempted, "failed": min(failed_f + failed_c, attempted),
            "notes": notes_f + notes_c, "e2e": e2e, "named": named,
            "layers": layers, "env": env}
