"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 20 --trace 0

Runs one workload against the engine in this checkout and prints, as the
last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics; with ``--trace 1`` the run is
instrumented and the metrics are the per-layer metrics. The lines before
it name every metric with its unit, plus the machine (nproc, pyspark and
java versions). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cdc", "analytics_sf0.01")


def declared_units() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric units as BENCHMARK.json declares
    them. Every run reports every metric of its kind; a layer the
    workload bypasses reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class Context:
    def __init__(self, args, work: str):
        from perfbench.common import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.tracer = Tracer(bool(args.trace))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import common

    e2e_units, layer_units = declared_units()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    common.reset_dir(work)
    # before the engine is imported: its session module reads the env
    common.prepare_env(work)
    try:
        # fails fast, before any set-up, when the engine is not here
        import wing_binlog_go_spark.registry  # noqa: F401

        if args.workload == "cdc":
            from perfbench import wl_cdc as wl
        else:
            from perfbench import wl_analytics as wl
        res = wl.run(Context(args, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    attempted, failed = res["attempted"], res["failed"]
    print(f"workload: {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    print("env: " + json.dumps(res["env"], sort_keys=True))
    for note in res["notes"]:
        print(f"check failed: {note}")
    print(f"error_rate: {failed / attempted:.6f} ratio ({failed}/{attempted})")
    for name, (value, unit) in res["named"].items():
        print(f"{name}: {value:.6g} {unit}")
    if args.trace:
        e2e = res["e2e"]
        layers = dict.fromkeys(layer_units, 0.0)
        layers.update(res["layers"])
        layers["traced.latency_p50_ms"] = e2e["latency_p50_ms"]
        layers["traced.throughput_per_s"] = e2e["throughput_per_s"]
        metrics = {k: {"value": float(layers[k]), "unit": u}
                   for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u}
                   for k, u in e2e_units.items()}
    for k, m in metrics.items():
        print(f"{k}: {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:  # noqa: BLE001 - report and exit non-zero, no result
        traceback.print_exc()
        sys.exit(1)
