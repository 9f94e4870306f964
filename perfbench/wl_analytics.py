"""analytics workload: a closed loop with one client running the
headline registry queries round-robin over a generated corpus.

Each query's latency is ``QuerySpec.spark`` (plan build) plus
``.collect()`` (execute). Results are hashed after the clock stops and
checked against DuckDB afterwards, outside the timed region.
"""

from __future__ import annotations

import os
import time

from perfbench import common
from perfbench.datagen import write_corpus
from perfbench.oracle import MINHASH_RECALL_MIN, DuckOracle, result_hash

SF = 0.01  # the test corpus's correctness scale (TESTDATA.md): 60k lineitem rows
WARM_PASSES = 1  # cold: class loading, codegen; the JIT keeps improving after it
PASS_S = 6.5  # about what one warm pass takes on a 4-core VM
MIN_PASSES = 3

# the 22 headline keys of the legacy bench.py, by operator family
FAMILIES = {
    "relational": [
        "q01_parquet_scan", "q03_filter", "q06_inner_join", "q07_broadcast_join",
        "q12_range_join", "q14_tpch_q3", "q16_tpch_q1", "q17_count_distinct",
        "q19_rollup", "q22_window_ranking", "q24_window_frame",
        "q25_multi_key_sort", "q27_union", "q52_tpch_q5", "q68_sessionization",
    ],
    "asof": ["q15_asof_join", "q15b_asof_merge"],
    "dedup": ["q36_exact_dedup", "q37_minhash_dedup"],
    "similarity": ["q38_ann_brute_force"],
    "text": ["q39_word_count", "q39d_quality_score"],
}
HEADLINE = sorted(q for qs in FAMILIES.values() for q in qs)
RECALL_KEY = "q37_minhash_dedup"


def _run_query(spark, spec, corpus, tracer, group: str | None):
    """One execution, in Spark job group ``group`` when traced; returns
    (latency_s, column names, rows)."""
    if group is not None:
        spark.sparkContext.setJobGroup(group, group)
    t0 = time.perf_counter()
    df = spec.spark(spark, corpus)
    t1 = time.perf_counter()
    rows = df.collect()
    t2 = time.perf_counter()
    if tracer.enabled:
        tracer.spans.append(("plans.build", t0, t1))
        tracer.spans.append(("plans.execute", t1, t2))
    return t2 - t0, df.columns, rows


def run(ctx) -> dict:
    t0 = time.perf_counter()
    spark = common.start_session("perfbench-analytics")
    start_s = time.perf_counter() - t0
    try:
        return _run(ctx, spark, start_s)
    finally:
        common.stop_session()


def _run(ctx, spark, start_s: float) -> dict:
    from wing_binlog_go_spark.registry import all_queries

    tracer = ctx.tracer
    gen_s = []
    for i in range(3):
        corpus = os.path.join(ctx.work, f"corpus{i}")
        t0 = time.perf_counter()
        write_corpus(corpus, SF, ctx.seed)
        gen_s.append(time.perf_counter() - t0)
    registry = all_queries()
    specs = {k: registry[k] for k in HEADLINE}
    t0 = time.perf_counter()
    for _ in range(WARM_PASSES):  # codegen, JIT, footer caches
        for name in HEADLINE:
            specs[name].spark(spark, corpus).collect()
    warm_s = time.perf_counter() - t0
    setup_s = start_s + common.median(gen_s) + warm_s

    jobs = common.JobCounter(spark) if tracer.enabled else None
    samples: dict[str, list[float]] = {k: [] for k in HEADLINE}
    results: list[tuple[str, list[str], list]] = []
    job_total = task_total = shuffle_total = 0
    # about --seconds of whole round-robin passes: a count fixed by the
    # seconds, so every run does the same work and every query has the
    # same number of samples
    passes = max(MIN_PASSES, round(ctx.seconds / PASS_S))
    for _ in range(passes):
        for name in HEADLINE:
            group = f"pb-{len(results)}" if jobs is not None else None
            lat, cols, rows = _run_query(spark, specs[name], corpus, tracer, group)
            samples[name].append(lat)
            results.append((name, cols, rows))
            if jobs is not None:
                ids = jobs.job_ids(group)
                tasks, shuffle = jobs.tasks_and_shuffle(ids)
                job_total += len(ids)
                task_total += tasks
                shuffle_total += shuffle
    t_check = time.perf_counter()

    # ---- correctness, outside the timed region ----
    oracle = DuckOracle(corpus)
    expected = {}
    failed = 0
    notes = []
    try:
        exact_pairs = None
        for name, cols, rows in results:
            if name == RECALL_KEY:
                if exact_pairs is None:
                    exact_pairs = oracle.exact_jaccard_pairs()
                found = {(r["doc_a"], r["doc_b"]) for r in rows}
                recall = len(exact_pairs & found) / max(1, len(exact_pairs))
                if not exact_pairs or recall < MINHASH_RECALL_MIN:
                    failed += 1
                    notes.append(f"{name}: recall {recall:.3f} of {len(exact_pairs)} pairs")
                continue
            if name not in expected:
                expected[name] = oracle.expected_hash(specs[name].oracle)
            got = result_hash(cols, rows)
            if got != expected[name]:
                failed += 1
                notes.append(f"{name}: got {got} want {expected[name]}")
    finally:
        oracle.close()
    check_s = time.perf_counter() - t_check
    rss = common.peak_rss_mb(spark)
    env = common.versions(spark)

    # percentiles over the 22 per-query medians: every query counts once,
    # and a median of several samples damps one slow execution
    medians = {k: common.median(v) for k, v in samples.items()}
    total_s = sum(medians.values())
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": common.pct(medians.values(), 0.5) * 1000,
        "latency_p90_ms": common.pct(medians.values(), 0.9) * 1000,
        "throughput_per_s": len(medians) / total_s,
    }
    named = {
        "peak_rss_mb": (rss, "MB"),
        "query_latency_p50_ms": (e2e["latency_p50_ms"], "ms"),
        "query_latency_p90_ms": (e2e["latency_p90_ms"], "ms"),
        "query_total_s": (total_s, "s"),
        "passes": (passes, "count"),
        "check_s": (check_s, "s"),
    }
    layers = {
        "session.start_s": start_s,
        "setup.datagen_s": common.median(gen_s),
        "setup.warmup_s": warm_s,
        "memory.peak_rss_mb": rss,
    }
    if tracer.enabled:
        layers.update({
            "plans.build_ms_p50": tracer.p50_ms("plans.build"),
            "plans.execute_ms_p50": tracer.p50_ms("plans.execute"),
            "plans.jobs_total": job_total,
            "plans.tasks_total": task_total,
            "plans.shuffle_bytes_total": shuffle_total,
        })
        for fam, keys in FAMILIES.items():
            layers[f"family.{fam}_s"] = sum(medians[k] for k in keys)
    return {
        "attempted": len(results),
        "failed": failed,
        "notes": notes,
        "e2e": e2e,
        "named": named,
        "layers": layers,
        "env": env,
    }
