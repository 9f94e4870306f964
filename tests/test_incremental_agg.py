"""CDC incremental aggregate materialization: per-group SUM/COUNT kept
current from insert/update/delete envelopes; group-moving updates
converge; replay is a no-op; commit is crash-atomic with its mark."""

from __future__ import annotations

import os

from wing_binlog_go_spark.functions.envelope import EVENT_SCHEMA
from wing_binlog_go_spark.streaming.aggregate import (
    applied_index,
    incremental_agg_apply,
)
from tests.streamwait import await_done


def _env(spark, rows):
    """rows: (event_type, event_index, data, old_data, new_data)"""
    return spark.createDataFrame(
        [
            ("db", "t", et, 0, idx, {"data": d, "old_data": o, "new_data": n})
            for et, idx, d, o, n in rows
        ],
        EVENT_SCHEMA,
    )


def _state(spark, state_dir):
    return {
        r.grp: (round(r.agg_sum, 6), r.agg_count)
        for r in spark.read.parquet(state_dir).collect()
    }


def test_incremental_agg_deltas_and_group_move(spark, tmp_path):
    state = str(tmp_path / "agg")
    b1 = _env(
        spark,
        [
            ("insert", 1, {"g": "a", "v": "10"}, None, None),
            ("insert", 2, {"g": "a", "v": "5"}, None, None),
            ("insert", 3, {"g": "b", "v": "7"}, None, None),
        ],
    )
    incremental_agg_apply(spark, b1, state, "g", "v")
    assert _state(spark, state) == {"a": (15.0, 2), "b": (7.0, 1)}

    b2 = _env(
        spark,
        [
            # in-group value update
            ("update", 4, None, {"g": "a", "v": "10"}, {"g": "a", "v": "12"}),
            # group-moving update: leaves b, joins a
            ("update", 5, None, {"g": "b", "v": "7"}, {"g": "a", "v": "7"}),
            ("delete", 6, {"g": "a", "v": "5"}, None, None),
        ],
    )
    incremental_agg_apply(spark, b2, state, "g", "v")
    # a: 15 -10 +12 -5 +7 = 19, count 2+1-1 = 2; b fully deleted -> gone
    assert _state(spark, state) == {"a": (19.0, 2)}
    assert applied_index(state) == 6


def test_incremental_agg_replay_is_noop(spark, tmp_path):
    state = str(tmp_path / "agg")
    b = _env(
        spark,
        [
            ("insert", 1, {"g": "x", "v": "3"}, None, None),
            ("update", 2, None, {"g": "x", "v": "3"}, {"g": "x", "v": "4"}),
        ],
    )
    incremental_agg_apply(spark, b, state, "g", "v")
    first = _state(spark, state)
    # at-least-once redelivery: the exact same batch applies again
    incremental_agg_apply(spark, b, state, "g", "v")
    assert _state(spark, state) == first == {"x": (4.0, 1)}
    # partial overlap: one replayed row + one new row
    b2 = _env(
        spark,
        [
            ("update", 2, None, {"g": "x", "v": "3"}, {"g": "x", "v": "4"}),
            ("insert", 3, {"g": "x", "v": "10"}, None, None),
        ],
    )
    incremental_agg_apply(spark, b2, state, "g", "v")
    assert _state(spark, state) == {"x": (14.0, 2)}


def test_incremental_agg_matches_batch_recompute(spark, tmp_path):
    """Stream of 60 mixed events applied in 3 batches equals a batch
    GROUP BY over the surviving rows."""
    import random

    rng = random.Random(42)
    live: dict[int, tuple[str, int]] = {}
    events = []
    idx = 0
    for pk in range(30):
        idx += 1
        g, v = rng.choice("pqr"), rng.randint(1, 100)
        live[pk] = (g, v)
        events.append(("insert", idx, {"g": g, "v": str(v)}, None, None))
    for pk in range(0, 30, 3):
        idx += 1
        og, ov = live[pk]
        if pk % 2:
            del live[pk]
            events.append(("delete", idx, {"g": og, "v": str(ov)}, None, None))
        else:
            ng, nv = rng.choice("pqr"), rng.randint(1, 100)
            live[pk] = (ng, nv)
            events.append(
                ("update", idx, None, {"g": og, "v": str(ov)}, {"g": ng, "v": str(nv)})
            )
    state = str(tmp_path / "agg")
    for lo in range(0, len(events), 20):
        incremental_agg_apply(
            spark, _env(spark, events[lo : lo + 20]), state, "g", "v"
        )
    expect: dict[str, list] = {}
    for g, v in live.values():
        cur = expect.setdefault(g, [0.0, 0])
        cur[0] += v
        cur[1] += 1
    assert _state(spark, state) == {g: (s, c) for g, (s, c) in expect.items()}


def test_incremental_agg_crash_before_swap_recovers(spark, tmp_path):
    """A staged-but-unswapped batch leaves the old state + mark intact;
    re-applying converges (the mark moved with the swap, not before)."""
    state = str(tmp_path / "agg")
    b1 = _env(spark, [("insert", 1, {"g": "a", "v": "1"}, None, None)])
    incremental_agg_apply(spark, b1, state, "g", "v")
    # simulate a crash that left a stale staging dir behind
    from wing_binlog_go_spark.streaming.maintenance import staging_path

    os.makedirs(staging_path(state), exist_ok=True)
    b2 = _env(spark, [("insert", 2, {"g": "a", "v": "2"}, None, None)])
    incremental_agg_apply(spark, b2, state, "g", "v")
    assert _state(spark, state) == {"a": (3.0, 2)}
    assert applied_index(state) == 2


def test_incremental_agg_route_through_pipeline(spark, tmp_path):
    """The writer as a pipeline route: envelope stream → maintained
    aggregate keyed on a column that UPDATEs move between groups
    (c_vchar changes rewrite the group), via the real changelog →
    envelope → foreachBatch path."""
    from wing_binlog_go_spark.sources.changelog import write_fixture_changelog
    from wing_binlog_go_spark.streaming.aggregate import incremental_agg_writer
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline

    log_dir = tmp_path / "log"
    write_fixture_changelog(str(log_dir), split_files=False)
    state = str(tmp_path / "agg")
    q = run_pipeline(
        spark,
        str(log_dir),
        [Route("agg", incremental_agg_writer(state, "c_vchar", "c_int"))],
        str(tmp_path / "ckpt"),
        include=[r"fixtures\.cdc_typed_all"],
    )
    await_done(q)
    got = {
        r.grp: (r.agg_sum, r.agg_count)
        for r in spark.read.parquet(state).collect()
    }
    # updates moved row1->row1v2 and row2->row2v2 (old groups cancel to
    # zero and vanish); the unmatched delete's group never goes live
    assert got == {
        "row1v2": (11.0, 1),
        "row2v2": (21.0, 1),
        "row3": (30.0, 1),
        "committed": (0.0, 1),
        "post-ddl": (7.0, 1),
        "split-a": (1.0, 1),
        "split-b": (2.0, 1),
    }


def _minmax_state(spark, state_dir):
    return {
        r.grp: (r.agg_min, r.agg_max, r.agg_count)
        for r in spark.read.parquet(state_dir).collect()
    }


def _replica_from(rows):
    """Recompute source over an explicit live-row list [(grp, val)]."""

    def read(spark):
        if not rows:
            return spark.createDataFrame([], "grp string, val double")
        return spark.createDataFrame(
            [(g, float(v)) for g, v in rows], "grp string, val double"
        )

    return read


def test_minmax_inserts_fold_in_without_recompute(spark, tmp_path):
    from wing_binlog_go_spark.streaming.aggregate import incremental_minmax_apply

    state = str(tmp_path / "mm")
    b1 = _env(
        spark,
        [
            ("insert", 1, {"g": "a", "v": "10"}, None, None),
            ("insert", 2, {"g": "a", "v": "5"}, None, None),
            ("insert", 3, {"g": "b", "v": "7"}, None, None),
        ],
    )
    # replica deliberately WRONG: a pure-insert batch must never touch it
    incremental_minmax_apply(
        spark, b1, state, "g", "v", _replica_from([("a", 999)])
    )
    assert _minmax_state(spark, state) == {"a": (5.0, 10.0, 2), "b": (7.0, 7.0, 1)}


def test_minmax_delete_of_extreme_recomputes_from_replica(spark, tmp_path):
    from wing_binlog_go_spark.streaming.aggregate import incremental_minmax_apply

    state = str(tmp_path / "mm")
    b1 = _env(
        spark,
        [
            ("insert", 1, {"g": "a", "v": "10"}, None, None),
            ("insert", 2, {"g": "a", "v": "5"}, None, None),
            ("insert", 3, {"g": "a", "v": "8"}, None, None),
        ],
    )
    incremental_minmax_apply(spark, b1, state, "g", "v", _replica_from([]))
    # delete the min → group invalidated → rebuilt from the replica,
    # which post-batch holds {10, 8}
    b2 = _env(spark, [("delete", 4, {"g": "a", "v": "5"}, None, None)])
    incremental_minmax_apply(
        spark, b2, state, "g", "v", _replica_from([("a", 10), ("a", 8)])
    )
    assert _minmax_state(spark, state) == {"a": (8.0, 10.0, 2)}
    # interior delete folds in WITHOUT consulting the (wrong) replica
    b3 = _env(spark, [("delete", 5, {"g": "a", "v": "9"}, None, None)])
    incremental_minmax_apply(
        spark, b3, state, "g", "v", _replica_from([("a", 777)])
    )
    assert _minmax_state(spark, state) == {"a": (8.0, 10.0, 1)}


def test_minmax_group_move_and_full_delete(spark, tmp_path):
    from wing_binlog_go_spark.streaming.aggregate import incremental_minmax_apply

    state = str(tmp_path / "mm")
    b1 = _env(
        spark,
        [
            ("insert", 1, {"g": "a", "v": "3"}, None, None),
            ("insert", 2, {"g": "b", "v": "6"}, None, None),
        ],
    )
    incremental_minmax_apply(spark, b1, state, "g", "v", _replica_from([]))
    # the move removes b's only (extreme) value → b recomputes to empty
    # and vanishes; a gains 6 via the algebraic path
    b2 = _env(
        spark,
        [("update", 3, None, {"g": "b", "v": "6"}, {"g": "a", "v": "6"})],
    )
    incremental_minmax_apply(
        spark, b2, state, "g", "v", _replica_from([("a", 3), ("a", 6)])
    )
    assert _minmax_state(spark, state) == {"a": (3.0, 6.0, 2)}


def test_minmax_replay_is_noop(spark, tmp_path):
    from wing_binlog_go_spark.streaming.aggregate import incremental_minmax_apply

    state = str(tmp_path / "mm")
    b = _env(
        spark,
        [
            ("insert", 1, {"g": "x", "v": "3"}, None, None),
            ("delete", 2, {"g": "x", "v": "3"}, None, None),
            ("insert", 3, {"g": "x", "v": "4"}, None, None),
        ],
    )
    rep = _replica_from([("x", 4)])
    incremental_minmax_apply(spark, b, state, "g", "v", rep)
    first = _minmax_state(spark, state)
    incremental_minmax_apply(spark, b, state, "g", "v", rep)
    assert _minmax_state(spark, state) == first == {"x": (4.0, 4.0, 1)}


def test_minmax_matches_batch_recompute_randomized(spark, tmp_path):
    """Random insert/update/delete stream applied in batches, with the
    replica kept live alongside — final state equals a full GROUP BY
    min/max/count over surviving rows."""
    import random

    from wing_binlog_go_spark.streaming.aggregate import incremental_minmax_apply

    rng = random.Random(7)
    live: dict[int, tuple[str, int]] = {}
    events = []
    idx = 0
    for pk in range(40):
        idx += 1
        g, v = rng.choice("pqr"), rng.randint(1, 100)
        live[pk] = (g, v)
        events.append(("insert", idx, {"g": g, "v": str(v)}, None, None))
    for pk in range(0, 40, 2):
        idx += 1
        og, ov = live[pk]
        if pk % 3:
            del live[pk]
            events.append(("delete", idx, {"g": og, "v": str(ov)}, None, None))
        else:
            ng, nv = rng.choice("pqr"), rng.randint(1, 100)
            live[pk] = (ng, nv)
            events.append(
                ("update", idx, None, {"g": og, "v": str(ov)}, {"g": ng, "v": str(nv)})
            )
    state = str(tmp_path / "mm")
    # apply in 4 batches; replica snapshot = live rows AFTER each batch
    snapshot: dict[int, tuple[str, int]] = {}
    batches = [events[lo : lo + 20] for lo in range(0, len(events), 20)]
    for chunk in batches:
        for et, _i, d, o, n in chunk:
            if et == "insert":
                key = max(snapshot, default=-1) + 1
                snapshot[key] = (d["g"], int(d["v"]))
            elif et == "delete":
                k = next(k for k, gv in snapshot.items() if gv == (d["g"], int(d["v"])))
                del snapshot[k]
            else:
                k = next(k for k, gv in snapshot.items() if gv == (o["g"], int(o["v"])))
                snapshot[k] = (n["g"], int(n["v"]))
        incremental_minmax_apply(
            spark,
            _env(spark, chunk),
            state,
            "g",
            "v",
            _replica_from(list(snapshot.values())),
        )
    expect: dict[str, tuple] = {}
    for g, v in live.values():
        lo, hi, c = expect.get(g, (float("inf"), float("-inf"), 0))
        expect[g] = (min(lo, v), max(hi, v), c + 1)
    assert _minmax_state(spark, state) == {
        g: (float(lo), float(hi), c) for g, (lo, hi, c) in expect.items()
    }


def test_minmax_route_composed_with_upsert_replica(spark, tmp_path):
    """End-to-end composition through the real pipeline: the upsert
    route materializes the replica FIRST, the minmax route recomputes
    from it (routes run concurrently inside one foreachBatch, and the
    minmax route is marked to run after every route before it)."""
    from wing_binlog_go_spark.sources.changelog import write_fixture_changelog
    from wing_binlog_go_spark.streaming.aggregate import (
        incremental_minmax_writer,
        replica_minmax_source,
    )
    from wing_binlog_go_spark.streaming.pipeline import (
        Route,
        run_pipeline,
        upsert_parquet,
    )

    log_dir = tmp_path / "log"
    write_fixture_changelog(str(log_dir), split_files=False)
    replica_dir = str(tmp_path / "replica")
    state = str(tmp_path / "mm")

    def upsert_writer(env, batch_id):
        upsert_parquet(env, replica_dir, pk="id")

    q = run_pipeline(
        spark,
        str(log_dir),
        [
            Route("replica", upsert_writer),
            Route(
                "minmax",
                incremental_minmax_writer(
                    state, "c_vchar", "c_int",
                    replica_minmax_source(replica_dir, "c_vchar", "c_int"),
                ),
            ),
        ],
        str(tmp_path / "ckpt"),
        include=[r"fixtures\.cdc_typed_all"],
    )
    await_done(q)
    got = _minmax_state(spark, state)
    # same surviving rows as the SUM/COUNT pipeline test; every group is
    # a single row so min == max == its value
    assert got == {
        "row1v2": (11.0, 11.0, 1),
        "row2v2": (21.0, 21.0, 1),
        "row3": (30.0, 30.0, 1),
        "committed": (0.0, 0.0, 1),
        "post-ddl": (7.0, 7.0, 1),
        "split-a": (1.0, 1.0, 1),
        "split-b": (2.0, 2.0, 1),
    }


def test_incremental_avg_var_match_batch_recompute(spark, tmp_path):
    """The maintained (sum, sumsq, count) moments yield AVG/VAR equal
    to a batch recompute over surviving rows, through deletes and
    group-moving updates."""
    import statistics

    from wing_binlog_go_spark.streaming.aggregate import (
        agg_view,
        incremental_agg_apply,
    )

    state = str(tmp_path / "agg")
    events = [
        ("insert", 1, {"g": "a", "v": "10"}, None, None),
        ("insert", 2, {"g": "a", "v": "14"}, None, None),
        ("insert", 3, {"g": "a", "v": "3"}, None, None),
        ("insert", 4, {"g": "b", "v": "7"}, None, None),
        ("insert", 5, {"g": "b", "v": "9"}, None, None),
        # remove a's 14, move b's 7 into a as 6
        ("delete", 6, {"g": "a", "v": "14"}, None, None),
        ("update", 7, None, {"g": "b", "v": "7"}, {"g": "a", "v": "6"}),
    ]
    for lo in range(0, len(events), 3):
        incremental_agg_apply(
            spark, _env(spark, events[lo : lo + 3]), state, "g", "v"
        )
    live = {"a": [10.0, 3.0, 6.0], "b": [9.0]}
    got = {r.grp: r for r in agg_view(spark.read.parquet(state)).collect()}
    for g, vals in live.items():
        assert got[g].agg_count == len(vals)
        assert abs(got[g].agg_avg - statistics.mean(vals)) < 1e-9, g
        assert abs(got[g].agg_var - statistics.pvariance(vals)) < 1e-9, g


def test_incremental_agg_rejects_legacy_state_without_sumsq(spark, tmp_path):
    """State written without the sumsq column must fail loudly, not
    silently produce wrong variances."""
    import pytest as _pytest

    state = str(tmp_path / "agg")
    spark.createDataFrame(
        [("a", 1.0, 1)], "grp string, agg_sum double, agg_count bigint"
    ).write.parquet(state)
    b = _env(spark, [("insert", 1, {"g": "a", "v": "1"}, None, None)])
    with _pytest.raises(ValueError, match="agg_sumsq"):
        incremental_agg_apply(spark, b, state, "g", "v")


def test_incremental_distinct_hll_maintenance(spark, tmp_path):
    """Approximate COUNT(DISTINCT) maintenance: per-group HLL sketches
    union across batches (exact at these cardinalities), replays are
    no-ops, repeated values don't inflate the estimate, and any
    non-insert envelope raises loudly (sketches cannot retract)."""
    import pytest as _pytest

    from wing_binlog_go_spark.streaming.aggregate import (
        distinct_view,
        incremental_distinct_apply,
    )

    state = str(tmp_path / "ndv")
    b1 = _env(
        spark,
        [
            ("insert", 1, {"g": "a", "v": "u1"}, None, None),
            ("insert", 2, {"g": "a", "v": "u2"}, None, None),
            ("insert", 3, {"g": "a", "v": "u1"}, None, None),  # repeat
            ("insert", 4, {"g": "b", "v": "u1"}, None, None),
        ],
    )
    incremental_distinct_apply(spark, b1, state, "g", "v")
    ndv = {
        r.grp: r.approx_ndv
        for r in distinct_view(spark.read.parquet(state)).collect()
    }
    assert ndv == {"a": 2, "b": 1}

    # batch 2: new value for a, repeat-across-batch for b
    b2 = _env(
        spark,
        [
            ("insert", 5, {"g": "a", "v": "u3"}, None, None),
            ("insert", 6, {"g": "b", "v": "u1"}, None, None),
        ],
    )
    incremental_distinct_apply(spark, b2, state, "g", "v")
    ndv = {
        r.grp: r.approx_ndv
        for r in distinct_view(spark.read.parquet(state)).collect()
    }
    assert ndv == {"a": 3, "b": 1}

    # replay of batch 2 (event_index <= high-water mark): no-op
    incremental_distinct_apply(spark, b2, state, "g", "v")
    ndv2 = {
        r.grp: r.approx_ndv
        for r in distinct_view(spark.read.parquet(state)).collect()
    }
    assert ndv2 == ndv

    # deletes/updates cannot be retracted from a sketch → loud failure
    b3 = _env(
        spark,
        [("delete", 7, {"g": "a", "v": "u3"}, None, None)],
    )
    with _pytest.raises(ValueError, match="insert-only"):
        incremental_distinct_apply(spark, b3, state, "g", "v")


def test_incremental_quantile_kll_maintenance(spark, tmp_path):
    """Approximate per-group quantile maintenance: KLL sketches merge
    across batches (exact at these sizes — k=200 stores small streams
    losslessly), replays are no-ops, estimates track the true
    percentile as data accumulates, and non-insert envelopes raise
    loudly (a sketch cannot retract)."""
    import pytest as _pytest

    from wing_binlog_go_spark.streaming.aggregate import (
        incremental_quantile_apply,
        quantile_view,
    )

    state = str(tmp_path / "q")
    b1 = _env(
        spark,
        [
            ("insert", i, {"g": "a", "v": str(float(i))}, None, None)
            for i in range(1, 11)
        ]
        + [("insert", 11, {"g": "b", "v": "100.0"}, None, None)],
    )
    incremental_quantile_apply(spark, b1, state, "g", "v")
    got = {
        r.grp: (r.n, r.q50, r.q95)
        for r in quantile_view(spark.read.parquet(state)).collect()
    }
    assert got["b"] == (1, 100.0, 100.0)
    assert got["a"][0] == 10
    assert 5.0 <= got["a"][1] <= 6.0  # median of 1..10

    # batch 2 shifts the distribution up; merged sketch must see it
    b2 = _env(
        spark,
        [
            ("insert", 11 + i, {"g": "a", "v": str(float(100 + i))}, None, None)
            for i in range(1, 11)
        ],
    )
    incremental_quantile_apply(spark, b2, state, "g", "v")
    got = {
        r.grp: (r.n, r.q50, r.q95, r.q99)
        for r in quantile_view(spark.read.parquet(state)).collect()
    }
    assert got["a"][0] == 20
    assert got["a"][1] <= 101.0 <= got["a"][2]  # median at the seam
    assert got["a"][3] >= 109.0

    # replay of batch 2: no-op (high-water mark)
    incremental_quantile_apply(spark, b2, state, "g", "v")
    again = {
        r.grp: (r.n, r.q50, r.q95, r.q99)
        for r in quantile_view(spark.read.parquet(state)).collect()
    }
    assert again == got

    # deletes cannot be retracted → loud failure
    b3 = _env(spark, [("delete", 99, {"g": "a", "v": "1.0"}, None, None)])
    with _pytest.raises(ValueError, match="insert-only"):
        incremental_quantile_apply(spark, b3, state, "g", "v")


def test_incremental_topk_misra_gries_maintenance(spark, tmp_path):
    """Mergeable heavy-hitter maintenance: exact batch counts fold into
    a bounded k-row-per-group Misra-Gries summary; any item above the
    N/(k+1) frequency guarantee survives pruning across batches, count
    bounds [cnt, cnt+err] contain the truth, replays are no-ops, and
    non-insert envelopes raise loudly."""
    import pytest as _pytest

    from wing_binlog_go_spark.streaming.aggregate import (
        incremental_topk_apply,
        topk_view,
    )

    state = str(tmp_path / "hh")
    # batch 1: group a — 'big' 12×, 'mid' 5×, ten singletons (k=4)
    idx = 0
    rows = []
    for _ in range(12):
        idx += 1
        rows.append(("insert", idx, {"g": "a", "v": "big"}, None, None))
    for _ in range(5):
        idx += 1
        rows.append(("insert", idx, {"g": "a", "v": "mid"}, None, None))
    for j in range(10):
        idx += 1
        rows.append(("insert", idx, {"g": "a", "v": f"one{j}"}, None, None))
    incremental_topk_apply(spark, _env(spark, rows), state, "g", "v", k=4)
    st = spark.read.parquet(state)
    assert st.count() <= 4  # bounded summary
    view1 = {r.item: (r.cnt_low, r.cnt_high) for r in topk_view(st).collect()}
    assert "big" in view1 and "mid" in view1
    lo, hi = view1["big"]
    assert lo <= 12 <= hi
    true_n = 27
    # every dropped singleton had true count 1 <= N/(k+1) = 5.4: allowed

    # batch 2: 'mid' surges; a new heavy item appears
    idx2 = idx
    rows2 = []
    for _ in range(20):
        idx2 += 1
        rows2.append(("insert", idx2, {"g": "a", "v": "mid"}, None, None))
    for _ in range(8):
        idx2 += 1
        rows2.append(("insert", idx2, {"g": "a", "v": "new"}, None, None))
    incremental_topk_apply(spark, _env(spark, rows2), state, "g", "v", k=4)
    st = spark.read.parquet(state)
    view2 = {r.item: (r.cnt_low, r.cnt_high, r.rank) for r in topk_view(st).collect()}
    # true counts now: mid 25, big 12, new 8, N = 55, N/(k+1) = 11
    assert view2["mid"][2] == 1  # heaviest
    for item, true in (("mid", 25), ("big", 12), ("new", 8)):
        if item in view2:
            lo, hi, _ = view2[item]
            assert lo <= true <= hi, (item, view2[item])
    assert "mid" in view2 and "big" in view2  # > N/(k+1) must survive

    # replay: no-op
    incremental_topk_apply(spark, _env(spark, rows2), state, "g", "v", k=4)
    again = {
        r.item: (r.cnt_low, r.cnt_high, r.rank)
        for r in topk_view(spark.read.parquet(state)).collect()
    }
    assert again == view2

    # non-insert → loud failure
    bad = _env(spark, [("update", 9999, None, {"g": "a", "v": "big"},
                        {"g": "a", "v": "x"})])
    with _pytest.raises(ValueError, match="insert-only"):
        incremental_topk_apply(spark, bad, state, "g", "v", k=4)


def test_sketch_maintainers_as_pipeline_routes(spark, tmp_path):
    """KLL quantile + Misra-Gries top-k writers as real pipeline routes
    over an insert-only changelog (their contract): state accumulates
    across micro-batches through the changelog → envelope →
    foreachBatch path."""
    import json as _json

    from wing_binlog_go_spark.streaming.aggregate import (
        incremental_quantile_writer,
        incremental_topk_writer,
        quantile_view,
        topk_view,
    )
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    uuid = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    with open(log_dir / "part-0000.jsonl", "w") as f:
        for i in range(1, 41):
            rec = {
                "binlog_file": "mysql-bin.000001",
                "binlog_pos": 4 + i * 50,
                "xid_commit": i % 10 == 0,
                "database": "m",
                "table": "lat",
                "action": "insert",
                "row_no": 0,
                "before": None,
                "after": {
                    "id": str(i),
                    "svc": "api" if i % 2 else "db",
                    "ms": str(float(i)),
                    "host": f"h{i % 3}",
                },
                "ddl_query": None,
                "ts_header": "2018-04-19T05:21:27.000Z",
                "gtid": f"{uuid}:{1 + i // 10}",
            }
            f.write(_json.dumps(rec) + "\n")
    qstate, tstate = str(tmp_path / "q"), str(tmp_path / "t")
    q = run_pipeline(
        spark,
        str(log_dir),
        [
            Route("q", incremental_quantile_writer(qstate, "svc", "ms")),
            Route("t", incremental_topk_writer(tstate, "svc", "host", k=2)),
        ],
        str(tmp_path / "ckpt"),
    )
    await_done(q)
    qs = {
        r.grp: (r.n, r.q50)
        for r in quantile_view(spark.read.parquet(qstate)).collect()
    }
    assert qs["api"][0] == 20 and qs["db"][0] == 20
    assert 19.0 <= qs["api"][1] <= 21.0  # median of odd 1..39
    hh = {
        (r.grp, r.item): r.cnt_low
        for r in topk_view(spark.read.parquet(tstate)).collect()
    }
    assert len([k for k in hh if k[0] == "api"]) <= 2  # bounded k=2
    assert sum(v for k, v in hh.items()) > 0


def test_incremental_theta_set_algebra_maintenance(spark, tmp_path):
    """Theta sketch maintenance: per-group distinct sets accumulate
    across batches and answer UNION / INTERSECTION / DIFFERENCE NDV
    from state (exact at these cardinalities) — the overlap queries
    HLL cannot express; replays are no-ops; retraction fails loudly."""
    import pytest as _pytest

    from wing_binlog_go_spark.streaming.aggregate import (
        incremental_theta_apply,
        theta_set_view,
    )

    state = str(tmp_path / "theta")
    # group a sees users u1..u6; group b sees u4..u9 (overlap = 3)
    rows, idx = [], 0
    for u in range(1, 7):
        idx += 1
        rows.append(("insert", idx, {"g": "a", "v": f"u{u}"}, None, None))
    incremental_theta_apply(spark, _env(spark, rows), state, "g", "v")
    rows2 = []
    for u in range(4, 10):
        idx += 1
        rows2.append(("insert", idx, {"g": "b", "v": f"u{u}"}, None, None))
    incremental_theta_apply(spark, _env(spark, rows2), state, "g", "v")

    row = theta_set_view(spark.read.parquet(state), "a", "b").collect()[0]
    assert (row.ndv_a, row.ndv_b) == (6.0, 6.0)
    assert row.ndv_union == 9.0
    assert row.ndv_intersection == 3.0
    assert row.ndv_a_only == 3.0

    # replay no-op
    incremental_theta_apply(spark, _env(spark, rows2), state, "g", "v")
    again = theta_set_view(spark.read.parquet(state), "a", "b").collect()[0]
    assert again == row

    bad = _env(spark, [("delete", 9999, {"g": "a", "v": "u1"}, None, None)])
    with _pytest.raises(ValueError, match="insert-only"):
        incremental_theta_apply(spark, bad, state, "g", "v")


def test_incremental_topk_keeps_error_bound_when_group_prunes_to_empty(
    spark, tmp_path
):
    """MG regression: a batch of k+1 singletons prunes EVERY item (all
    counts equal the (k+1)-th), leaving the group with no summary rows
    — the accrued error bound must survive as a placeholder so the
    next batch's [cnt, cnt+err] still contains the truth."""
    from wing_binlog_go_spark.streaming.aggregate import (
        incremental_topk_apply,
        topk_view,
    )

    state = str(tmp_path / "hh2")
    rows = [
        ("insert", i + 1, {"g": "g1", "v": v}, None, None)
        for i, v in enumerate(["a", "b", "c"])
    ]
    incremental_topk_apply(spark, _env(spark, rows), state, "g", "v", k=2)
    st = spark.read.parquet(state)
    assert topk_view(st).count() == 0  # all items pruned...
    errs = {r.grp: r.err for r in st.select("grp", "err").distinct().collect()}
    assert errs == {"g1": 1}  # ...but the bound persists

    rows2 = [
        ("insert", 10 + i, {"g": "g1", "v": "d"}, None, None) for i in range(2)
    ]
    incremental_topk_apply(spark, _env(spark, rows2), state, "g", "v", k=2)
    view = {
        r.item: (r.cnt_low, r.cnt_high)
        for r in topk_view(spark.read.parquet(state)).collect()
    }
    # d's true count is 2; a's could be up to 1+... the bound must be
    # [2, 2+1], not [2, 2] (err reset) — and 'a' (true 1) stays within
    # the any-absent-item bound err=1
    assert view == {"d": (2, 3)}


def test_sketch_maintainer_skips_alter_envelopes(spark, tmp_path):
    """Ordinary DDL on the maintained table must not wedge an
    insert-only route: the alter envelope advances the high-water mark
    and is skipped (no row image to fold); updates still raise."""
    import pytest as _pytest

    from wing_binlog_go_spark.streaming.aggregate import (
        distinct_view,
        incremental_distinct_apply,
    )

    state = str(tmp_path / "ndv")
    rows = [
        ("insert", 1, {"g": "a", "v": "x"}, None, None),
        ("alter", 2, None, None, None),
        ("insert", 3, {"g": "a", "v": "y"}, None, None),
    ]
    incremental_distinct_apply(spark, _env(spark, rows), state, "g", "v")
    got = {
        r.grp: round(r.approx_ndv)
        for r in distinct_view(spark.read.parquet(state)).collect()
    }
    assert got == {"a": 2}
    # replay including the alter: no-op, no raise
    incremental_distinct_apply(spark, _env(spark, rows), state, "g", "v")
    assert distinct_view(spark.read.parquet(state)).count() == 1
    # genuine retraction attempts still fail loudly
    bad = _env(spark, [("update", 9, None, {"g": "a", "v": "x"},
                        {"g": "a", "v": "z"})])
    with _pytest.raises(ValueError, match="insert-only"):
        incremental_distinct_apply(spark, bad, state, "g", "v")


def test_anomaly_route_flags_outlier_against_prebatch_state(spark, tmp_path):
    """A planted spike is judged against the moments accumulated BEFORE
    its batch; replay rewrites the same flag partition (no duplicates);
    warm-up batches flag nothing (min_n / first-batch rules)."""
    from wing_binlog_go_spark.streaming.aggregate import (
        anomaly_writer,
        read_anomalies,
    )

    state = str(tmp_path / "agg")
    flags = str(tmp_path / "flags")
    w = anomaly_writer(state, flags, "g", "v", z=3.0, min_n=10)

    # batch 1: 12 calm values around 10 — builds the baseline, and as
    # the FIRST batch can flag nothing (no pre-batch state exists)
    b1 = _env(
        spark,
        [("insert", i, {"g": "a", "v": str(10 + (i % 3))}, None, None)
         for i in range(1, 13)],
    )
    w(b1, 0)
    assert read_anomalies(spark, flags).count() == 0

    # batch 2: one calm value + one spike
    b2 = _env(
        spark,
        [
            ("insert", 20, {"g": "a", "v": "11"}, None, None),
            ("insert", 21, {"g": "a", "v": "100"}, None, None),
        ],
    )
    w(b2, 1)
    got = read_anomalies(spark, flags)
    flagged = [(r.grp, r.v, r.ingest) for r in got.collect()]
    assert flagged == [("a", 100.0, 21)]
    z1 = got.collect()[0].zscore
    assert z1 > 3

    # at-least-once replay of batch 2: same partition overwritten,
    # state unchanged (high-water mark), flag count stays 1
    w(b2, 1)
    again = read_anomalies(spark, flags).collect()
    assert [(r.grp, r.v, r.ingest) for r in again] == [("a", 100.0, 21)]
    assert abs(again[0].zscore - z1) < 1e-12
    # the spike is now IN the state: a repeat of the same value later
    # scores a smaller z (history absorbed it)
    b3 = _env(spark, [("insert", 30, {"g": "a", "v": "100"}, None, None)])
    w(b3, 2)
    z2 = max(
        r.zscore for r in read_anomalies(spark, flags).collect()
        if r.ingest == 30
    )
    assert z2 < z1
