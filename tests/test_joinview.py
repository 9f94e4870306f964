"""Incremental join-view maintenance: the materialized inner join of two
CDC-fed tables stays equal to a batch recompute under inserts, join-key
moves, PK moves, deletes, replay, and mid-commit crashes."""

from __future__ import annotations

import json
import os
import pytest
import random

from pyspark.sql import functions as F

from wing_binlog_go_spark.functions.envelope import EVENT_SCHEMA
from wing_binlog_go_spark.streaming.joinview import (
    incremental_joinview_apply,
    joinview_high_water,
    joinview_writer,
    read_joinview,
)
from tests.streamwait import await_done


def _env(spark, rows):
    """rows: (table, event_type, event_index, data, old_data, new_data)"""
    return spark.createDataFrame(
        [
            ("shop", tb, et, 0, idx, {"data": d, "old_data": o, "new_data": n})
            for tb, et, idx, d, o, n in rows
        ],
        EVENT_SCHEMA,
    )


def _pairs(spark, state):
    """The view as a set of (left id, right id) pairs."""
    return {
        (r.row_l["id"], r.row_r["id"])
        for r in read_joinview(spark, state).collect()
    }


def _apply(spark, state, batch):
    incremental_joinview_apply(
        spark, batch, state, "orders", "customers", "cust", "id"
    )


def test_joinview_build_and_mutations(spark, tmp_path):
    state = str(tmp_path / "jv")
    b1 = _env(
        spark,
        [
            ("customers", "insert", 1, {"id": "1", "seg": "A"}, None, None),
            ("customers", "insert", 2, {"id": "2", "seg": "B"}, None, None),
            ("orders", "insert", 3, {"id": "10", "cust": "1"}, None, None),
            ("orders", "insert", 4, {"id": "11", "cust": "1"}, None, None),
            ("orders", "insert", 5, {"id": "12", "cust": "2"}, None, None),
            # NULL join key: live row, joins nothing (inner semantics)
            ("orders", "insert", 6, {"id": "13"}, None, None),
        ],
    )
    _apply(spark, state, b1)
    assert _pairs(spark, state) == {("10", "1"), ("11", "1"), ("12", "2")}
    assert joinview_high_water(state) == 6

    # join-key move + right-side delete in one batch
    b2 = _env(
        spark,
        [
            ("orders", "update", 7, None,
             {"id": "11", "cust": "1"}, {"id": "11", "cust": "2"}),
            ("customers", "delete", 8, {"id": "2", "seg": "B"}, None, None),
        ],
    )
    _apply(spark, state, b2)
    assert _pairs(spark, state) == {("10", "1")}

    # PK move on the right side: customer 1 re-keys to 3; the old key's
    # pairs must vanish and orders pointing at 3 must appear
    b3 = _env(
        spark,
        [
            ("customers", "update", 9, None,
             {"id": "1", "seg": "A"}, {"id": "3", "seg": "A"}),
            ("orders", "insert", 10, {"id": "14", "cust": "3"}, None, None),
        ],
    )
    _apply(spark, state, b3)
    assert _pairs(spark, state) == {("14", "3")}


def test_joinview_replay_is_noop(spark, tmp_path):
    state = str(tmp_path / "jv")
    b = _env(
        spark,
        [
            ("customers", "insert", 1, {"id": "1", "seg": "A"}, None, None),
            ("orders", "insert", 2, {"id": "10", "cust": "1"}, None, None),
        ],
    )
    _apply(spark, state, b)
    first = _pairs(spark, state)
    _apply(spark, state, b)  # exact redelivery
    assert _pairs(spark, state) == first == {("10", "1")}
    # partial overlap: one replayed row + one new
    b2 = _env(
        spark,
        [
            ("orders", "insert", 2, {"id": "10", "cust": "1"}, None, None),
            ("orders", "insert", 3, {"id": "11", "cust": "1"}, None, None),
        ],
    )
    _apply(spark, state, b2)
    assert _pairs(spark, state) == {("10", "1"), ("11", "1")}
    assert joinview_high_water(state) == 3


def test_joinview_crash_between_child_swaps_reconverges(spark, tmp_path):
    """Crash AFTER the left-side swap but BEFORE the view swap: the
    high-water mark (which rides the view swap) still names the old
    batch, the redelivered batch re-merges the side idempotently, and
    the view rebuild converges."""
    from wing_binlog_go_spark.streaming.joinview import (
        _merge_side,
        _read_or_empty,
        _side_changes,
        _swap_child,
        _SIDE_SCHEMA,
    )

    state = str(tmp_path / "jv")
    _apply(
        spark,
        state,
        _env(
            spark,
            [
                ("customers", "insert", 1, {"id": "1", "seg": "A"}, None, None),
                ("orders", "insert", 2, {"id": "10", "cust": "1"}, None, None),
            ],
        ),
    )
    b2 = _env(
        spark,
        [
            ("orders", "insert", 3, {"id": "11", "cust": "1"}, None, None),
            ("customers", "insert", 4, {"id": "2", "seg": "B"}, None, None),
        ],
    )
    # replicate apply() up to the crash point: left swapped, nothing else
    left_dir = os.path.join(state, "left")
    ch_l = _side_changes(b2, "orders", "id")
    _swap_child(
        _merge_side(_read_or_empty(spark, left_dir, _SIDE_SCHEMA), ch_l),
        left_dir,
    )
    assert joinview_high_water(state) == 2  # mark did NOT advance
    # plus a stale staging dir from the crash
    from wing_binlog_go_spark.streaming.maintenance import staging_path

    os.makedirs(staging_path(os.path.join(state, "view")), exist_ok=True)

    _apply(spark, state, b2)  # at-least-once redelivery
    assert _pairs(spark, state) == {("10", "1"), ("11", "1")}
    assert joinview_high_water(state) == 4


def test_joinview_matches_batch_recompute_randomized(spark, tmp_path):
    """~90 random events over both tables in 3 batches equal a from-
    scratch dict-model recompute after every batch."""
    rng = random.Random(20260815)
    state = str(tmp_path / "jv")
    model = {"orders": {}, "customers": {}}
    idx = 0

    def fresh_row(tb):
        # customers: pk IS the join key (small domain so orders hit it);
        # orders: own pk domain + a (possibly dangling) cust reference
        if tb == "customers":
            return {"id": str(rng.randrange(10)), "seg": str(rng.randrange(3))}
        return {"id": str(rng.randrange(100)), "cust": str(rng.randrange(10))}

    def gen_batch(n):
        nonlocal idx
        rows = []
        for _ in range(n):
            tb = rng.choice(("orders", "customers"))
            side = model[tb]
            op = rng.choice(("insert", "insert", "update", "delete"))
            if op == "insert" or not side:
                idx += 1
                row = fresh_row(tb)
                pk = row["id"]
                if pk in side:  # model as an update of the live row
                    rows.append((tb, "update", idx, None, dict(side[pk]), row))
                else:
                    rows.append((tb, "insert", idx, row, None, None))
                side[pk] = row
            elif op == "update":
                idx += 1
                pk = rng.choice(sorted(side))
                old = dict(side[pk])
                new = fresh_row(tb)
                if new["id"] != pk and new["id"] in side:
                    continue  # a real feed can't collide two live PKs
                rows.append((tb, "update", idx, None, old, new))
                del side[pk]
                side[new["id"]] = new
            else:
                idx += 1
                pk = rng.choice(sorted(side))
                rows.append((tb, "delete", idx, dict(side[pk]), None, None))
                del side[pk]
        return rows

    for _ in range(3):
        _apply(spark, state, _env(spark, gen_batch(30)))
        want = {
            (o["id"], c["id"])
            for o in model["orders"].values()
            for c in model["customers"].values()
            if o.get("cust") is not None and o["cust"] == c["id"]
        }
        assert _pairs(spark, state) == want


def test_joinview_route_through_pipeline(spark, tmp_path):
    """The writer as a pipeline route: a two-table changelog → envelope
    stream → foreachBatch → maintained join view."""
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline

    log_dir = tmp_path / "log"
    os.makedirs(log_dir)
    recs = [
        ("customers", "insert", None, {"id": "1", "seg": "A"}),
        ("customers", "insert", None, {"id": "2", "seg": "B"}),
        ("orders", "insert", None, {"id": "10", "cust": "1"}),
        ("orders", "insert", None, {"id": "11", "cust": "2"}),
        ("orders", "update", {"id": "11", "cust": "2"}, {"id": "11", "cust": "1"}),
        ("customers", "delete", {"id": "2", "seg": "B"}, None),
    ]
    with open(log_dir / "changelog.jsonl", "w") as f:
        for pos, (tb, action, before, after) in enumerate(recs):
            f.write(
                json.dumps(
                    {
                        "binlog_file": "mysql-bin.000001",
                        "binlog_pos": 1000 + pos,
                        "xid_commit": True,
                        "database": "shop",
                        "table": tb,
                        "action": action,
                        "row_no": 0,
                        "before": before,
                        "after": after,
                        "ddl_query": None,
                        "ts_header": "2018-04-19T05:21:27.000Z",
                        "gtid": None,
                    }
                )
                + "\n"
            )
    state = str(tmp_path / "jv")
    q = run_pipeline(
        spark,
        str(log_dir),
        [
            Route(
                "jv",
                joinview_writer(state, "orders", "customers", "cust", "id"),
            )
        ],
        str(tmp_path / "ckpt"),
        include=[r"shop\.(orders|customers)"],
    )
    await_done(q)
    assert _pairs(spark, state) == {("10", "1"), ("11", "1")}


def test_joinview_tolerates_corrupt_meta(spark, tmp_path):
    """An unreadable high-water meta reads as -1 (full idempotent
    re-apply), never a crash that wedges the route."""
    state = str(tmp_path / "jv")
    b = _env(
        spark,
        [
            ("customers", "insert", 1, {"id": "1", "seg": "A"}, None, None),
            ("orders", "insert", 2, {"id": "10", "cust": "1"}, None, None),
        ],
    )
    _apply(spark, state, b)
    with open(os.path.join(state, "view", "_join_meta.json"), "w") as f:
        f.write("")  # power-loss-truncated mark
    assert joinview_high_water(state) == -1
    _apply(spark, state, b)  # full re-apply converges
    assert _pairs(spark, state) == {("10", "1")}
    assert joinview_high_water(state) == 2


def test_joinview_idle_batch_advances_mark_without_rewrite(spark, tmp_path):
    """A batch carrying only other tables' events must advance the
    high-water mark WITHOUT rewriting the view parquet (the idle-table
    IO guard)."""
    state = str(tmp_path / "jv")
    _apply(
        spark,
        state,
        _env(
            spark,
            [
                ("customers", "insert", 1, {"id": "1", "seg": "A"}, None, None),
                ("orders", "insert", 2, {"id": "10", "cust": "1"}, None, None),
            ],
        ),
    )
    view_dir = os.path.join(state, "view")
    files_before = {
        f: os.path.getmtime(os.path.join(view_dir, f))
        for f in os.listdir(view_dir)
        if f.endswith(".parquet")
    }
    idle = _env(
        spark, [("noise", "insert", 3, {"k": "v"}, None, None)]
    )
    _apply(spark, state, idle)
    assert joinview_high_water(state) == 3
    files_after = {
        f: os.path.getmtime(os.path.join(view_dir, f))
        for f in os.listdir(view_dir)
        if f.endswith(".parquet")
    }
    assert files_after == files_before  # untouched data files
    assert _pairs(spark, state) == {("10", "1")}


def _apply_b(spark, state, batch, n=8):
    from wing_binlog_go_spark.streaming.joinview import (
        incremental_joinview_apply_bucketed,
    )

    incremental_joinview_apply_bucketed(
        spark, batch, state, "orders", "customers", "cust", "id", num_buckets=n
    )


def _pairs_b(spark, state):
    from wing_binlog_go_spark.streaming.joinview import read_joinview_bucketed

    return {
        (r.row_l["id"], r.row_r["id"])
        for r in read_joinview_bucketed(spark, state).collect()
    }


def test_bucketed_joinview_equals_flat_randomized(spark, tmp_path):
    """The bucketed layout and the flat layout produce identical views
    after every one of 3 randomized batches (same generator as the
    dict-model test), and replaying the last batch is a no-op."""
    rng = random.Random(99)
    flat = str(tmp_path / "flat")
    buck = str(tmp_path / "buck")
    model = {"orders": {}, "customers": {}}
    idx = 0

    def fresh_row(tb):
        if tb == "customers":
            return {"id": str(rng.randrange(10)), "seg": str(rng.randrange(3))}
        return {"id": str(rng.randrange(100)), "cust": str(rng.randrange(10))}

    def gen_batch(n):
        nonlocal idx
        rows = []
        for _ in range(n):
            tb = rng.choice(("orders", "customers"))
            side = model[tb]
            op = rng.choice(("insert", "insert", "update", "delete"))
            if op == "insert" or not side:
                idx += 1
                row = fresh_row(tb)
                if row["id"] in side:
                    rows.append((tb, "update", idx, None, dict(side[row["id"]]), row))
                else:
                    rows.append((tb, "insert", idx, row, None, None))
                side[row["id"]] = row
            elif op == "update":
                idx += 1
                pk = rng.choice(sorted(side))
                old = dict(side[pk])
                new = fresh_row(tb)
                if new["id"] != pk and new["id"] in side:
                    continue
                rows.append((tb, "update", idx, None, old, new))
                del side[pk]
                side[new["id"]] = new
            else:
                idx += 1
                pk = rng.choice(sorted(side))
                rows.append((tb, "delete", idx, dict(side[pk]), None, None))
                del side[pk]
        return rows

    last = None
    for _ in range(3):
        last = _env(spark, gen_batch(25))
        _apply(spark, flat, last)
        _apply_b(spark, buck, last)
        assert _pairs_b(spark, buck) == _pairs(spark, flat)
    before = _pairs_b(spark, buck)
    _apply_b(spark, buck, last)  # at-least-once redelivery
    assert _pairs_b(spark, buck) == before


def test_bucketed_joinview_leaves_untouched_buckets_alone(spark, tmp_path):
    """The bucket-pruning claim: a batch touching one order and one
    customer rewrites only the affected view buckets — every other
    bucket's files are byte-stable (mtimes unchanged)."""
    import glob

    state = str(tmp_path / "jv")
    rows = [("customers", "insert", i + 1, {"id": str(i), "seg": "A"}, None, None)
            for i in range(10)]
    rows += [("orders", "insert", 100 + i, {"id": str(100 + i), "cust": str(i)},
              None, None) for i in range(10)]
    _apply_b(spark, state, _env(spark, rows), n=8)
    view_glob = os.path.join(state, "view", "vb=*", "*.parquet")
    before = {p: os.path.getmtime(p) for p in glob.glob(view_glob)}

    from wing_binlog_go_spark.streaming.joinview import _bucket_of
    from wing_binlog_go_spark.streaming.pipeline import pk_str

    touched_vb = {
        r.vb
        for r in spark.createDataFrame(
            [(pk_str("105"),)], "k string"
        ).select(_bucket_of("k", 8).alias("vb")).collect()
    }
    b2 = _env(
        spark,
        [("orders", "update", 200, None,
          {"id": "105", "cust": "5"}, {"id": "105", "cust": "6"})],
    )
    _apply_b(spark, state, b2, n=8)
    after = {p: os.path.getmtime(p) for p in glob.glob(view_glob)}
    unchanged = [
        p for p in before
        if f"vb={list(touched_vb)[0]}" not in p
    ]
    assert unchanged, "fixture must populate more than the touched bucket"
    for p in unchanged:
        assert p in after and after[p] == before[p], p
    assert ("105", "6") in _pairs_b(spark, state)
    assert ("105", "5") not in _pairs_b(spark, state)


def test_bucketed_joinview_converges_after_partial_overwrite_crash(spark, tmp_path):
    """Crash between bucket overwrites: sides advanced, view partially
    new, mark old — the redelivered batch reconverges."""
    from wing_binlog_go_spark.streaming.joinview import (
        joinview_bucketed_high_water,
    )

    state = str(tmp_path / "jv")
    _apply_b(
        spark,
        state,
        _env(
            spark,
            [
                ("customers", "insert", 1, {"id": "1", "seg": "A"}, None, None),
                ("customers", "insert", 2, {"id": "2", "seg": "B"}, None, None),
                ("orders", "insert", 3, {"id": "10", "cust": "1"}, None, None),
                ("orders", "insert", 4, {"id": "11", "cust": "2"}, None, None),
            ],
        ),
    )
    b2 = _env(
        spark,
        [
            ("orders", "update", 5, None,
             {"id": "10", "cust": "1"}, {"id": "10", "cust": "2"}),
            ("customers", "delete", 6, {"id": "2", "seg": "B"}, None, None),
        ],
    )
    # simulate the crash: run the full apply, then REGRESS the mark to
    # pre-batch (as if the meta replace never happened) — state dirs
    # hold the post-batch content, exactly the partial-commit picture
    _apply_b(spark, state, b2)
    with open(os.path.join(state, "_join_meta.json"), "w") as f:
        json.dump({"max_event_index": 4}, f)
    assert joinview_bucketed_high_water(state) == 4
    _apply_b(spark, state, b2)  # redelivery
    # cust 2 deleted AND order 10 moved to it: no pairs survive but 11?
    # order 11 pointed at 2 -> gone too
    assert _pairs_b(spark, state) == set()
    assert joinview_bucketed_high_water(state) == 6


def test_bucketed_joinview_route_through_pipeline(spark, tmp_path):
    """The bucketed writer as a pipeline route produces the same view
    as the flat route test's scenario."""
    from wing_binlog_go_spark.streaming.joinview import (
        joinview_bucketed_writer,
        read_joinview_bucketed,
    )
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline

    log_dir = tmp_path / "log"
    os.makedirs(log_dir)
    recs = [
        ("customers", "insert", None, {"id": "1", "seg": "A"}),
        ("customers", "insert", None, {"id": "2", "seg": "B"}),
        ("orders", "insert", None, {"id": "10", "cust": "1"}),
        ("orders", "insert", None, {"id": "11", "cust": "2"}),
        ("orders", "update", {"id": "11", "cust": "2"}, {"id": "11", "cust": "1"}),
        ("customers", "delete", {"id": "2", "seg": "B"}, None),
    ]
    with open(log_dir / "changelog.jsonl", "w") as f:
        for pos, (tb, action, before, after) in enumerate(recs):
            f.write(
                json.dumps(
                    {
                        "binlog_file": "mysql-bin.000001",
                        "binlog_pos": 1000 + pos,
                        "xid_commit": True,
                        "database": "shop",
                        "table": tb,
                        "action": action,
                        "row_no": 0,
                        "before": before,
                        "after": after,
                        "ddl_query": None,
                        "ts_header": "2018-04-19T05:21:27.000Z",
                        "gtid": None,
                    }
                )
                + "\n"
            )
    state = str(tmp_path / "jvb")
    q = run_pipeline(
        spark,
        str(log_dir),
        [
            Route(
                "jvb",
                joinview_bucketed_writer(
                    state, "orders", "customers", "cust", "id", num_buckets=4
                ),
            )
        ],
        str(tmp_path / "ckpt"),
        include=[r"shop\.(orders|customers)"],
    )
    await_done(q)
    got = {
        (r.row_l["id"], r.row_r["id"])
        for r in read_joinview_bucketed(spark, state).collect()
    }
    assert got == {("10", "1"), ("11", "1")}


def test_joinview_bootstrap_then_stream(spark, tmp_path):
    """O3 for this consumer: initialize from table snapshots, then
    apply only the post-snapshot changes — the stream's replay filter
    starts after the snapshot coordinates, and later changes win LWW
    over snapshot rows."""
    from wing_binlog_go_spark.streaming.joinview import bootstrap_joinview

    state = str(tmp_path / "jv")
    customers = spark.createDataFrame(
        [("1", "A"), ("2", "B")], "id string, seg string"
    )
    orders = spark.createDataFrame(
        [("10", "1"), ("11", "2")], "id string, cust string"
    )
    bootstrap_joinview(
        spark, orders, customers, state, "cust", "id", high_water=100
    )
    assert _pairs(spark, state) == {("10", "1"), ("11", "2")}
    assert joinview_high_water(state) == 100

    # pre-snapshot events (idx <= 100) are no-ops; post-snapshot apply
    b = _env(
        spark,
        [
            ("orders", "insert", 90, {"id": "99", "cust": "1"}, None, None),
            ("customers", "delete", 101, {"id": "2", "seg": "B"}, None, None),
            ("orders", "insert", 102, {"id": "12", "cust": "1"}, None, None),
        ],
    )
    _apply(spark, state, b)
    assert _pairs(spark, state) == {("10", "1"), ("12", "1")}
    assert joinview_high_water(state) == 102


def test_read_bucketed_raises_on_corrupt_bucket(spark, tmp_path):
    """_read_bucketed tolerates ONLY the known-empty layout (no bucket
    subdirs). A corrupt parquet inside a real bucket dir must raise —
    treating it as empty state would let the next overwrite + commit
    advance silently drop every prior row (the ADVICE r6 finding)."""
    from wing_binlog_go_spark.streaming.joinview import _read_bucketed

    schema = "_pk string, _bucket int"

    # Missing dir → empty typed frame.
    missing = str(tmp_path / "nope")
    assert _read_bucketed(spark, missing, schema).count() == 0

    # Dir with only droppings (post-mass-delete layout) → empty frame.
    emptied = tmp_path / "emptied"
    emptied.mkdir()
    (emptied / "_SUCCESS").write_text("")
    assert _read_bucketed(spark, str(emptied), schema).count() == 0

    # Real bucket dir with a corrupt file → must raise, never empty.
    corrupt = tmp_path / "corrupt"
    bucket = corrupt / "_bucket=3"
    bucket.mkdir(parents=True)
    (bucket / "part-00000.snappy.parquet").write_bytes(b"not parquet at all")
    with pytest.raises(Exception):
        _read_bucketed(spark, str(corrupt), schema).collect()


def test_bucketed_joinview_delta_reads_prune_to_matching_buckets(spark, tmp_path):
    """The r12 posting-route claim observed from the READ side: a left-
    only batch must not scan (a) left data buckets it didn't touch,
    (b) left-posting jb buckets outside the batch's old∪new join keys,
    (c) right-posting jb buckets its delta join keys don't hash to,
    (d) right data buckets no routed candidate hashes to, or (e) view
    vb buckets outside the affected set. Corrupt parquet files planted
    in exactly those buckets prove the prune — an unpruned scan of any
    of them would raise (negative control asserted), the bucketed apply
    does not."""
    from wing_binlog_go_spark.streaming.joinview import (
        _bucket_of,
        read_joinview_bucketed,
    )
    from wing_binlog_go_spark.streaming.pipeline import pk_str

    n = 8
    state = str(tmp_path / "jv")

    def b_of(val):
        return (
            spark.createDataFrame([(val,)], "k string")
            .select(_bucket_of("k", n).alias("b"))
            .collect()[0]
            .b
        )

    rows = [("customers", "insert", i + 1, {"id": str(i), "seg": "A"}, None, None)
            for i in range(16)]
    rows += [("orders", "insert", 100 + i, {"id": str(100 + i), "cust": str(i)},
              None, None) for i in range(16)]
    _apply_b(spark, state, _env(spark, rows), n=n)

    sb105 = b_of(pk_str("105"))     # touched left pk / affected view vb
    sb_c6 = b_of(pk_str("6"))       # the routed right candidate's bucket
    jb5, jb6 = b_of("5"), b_of("6")  # old and new join-key buckets
    lpost_ok = {jb5, jb6}           # left posting rewrite touches both
    poison = b"not parquet at all"
    planted = []
    for child, bucket_dir in (
        ("left", f"sb={(sb105 + 1) % n}"),
        ("left_jk", f"jb={next(b for b in range(n) if b not in lpost_ok)}"),
        ("right_jk", f"jb={(jb6 + 1) % n if (jb6 + 1) % n != jb6 else (jb6 + 2) % n}"),
        ("right", f"sb={(sb_c6 + 1) % n}"),
        ("view", f"vb={(sb105 + 1) % n}"),
    ):
        d = os.path.join(state, child, bucket_dir)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, "part-99999.snappy.parquet")
        with open(p, "wb") as f:
            f.write(poison)
        planted.append(p)

    # negative control: the poison IS poisonous to a full scan
    with pytest.raises(Exception):
        read_joinview_bucketed(spark, state).collect()

    b2 = _env(
        spark,
        [("orders", "update", 200, None,
          {"id": "105", "cust": "5"}, {"id": "105", "cust": "6"})],
    )
    _apply_b(spark, state, b2, n=n)  # pruned reads: must not touch poison

    for p in planted:
        os.remove(p)
    pairs = _pairs_b(spark, state)
    assert ("105", "6") in pairs and ("105", "5") not in pairs
    assert ("104", "4") in pairs  # untouched pair survives


def _apply_m(spark, state, batch, n=8):
    from wing_binlog_go_spark.streaming.joinview import (
        incremental_joinview_apply_mor,
    )

    incremental_joinview_apply_mor(
        spark, batch, state, "orders", "customers", "cust", "id", num_buckets=n
    )


def _pairs_m(spark, state):
    from wing_binlog_go_spark.streaming.joinview import read_joinview_mor

    return {
        (r.row_l["id"], r.row_r["id"])
        for r in read_joinview_mor(spark, state).collect()
    }


def test_mor_joinview_matches_flat_randomized(spark, tmp_path):
    """The merge-on-read layout equals the flat layout after every one
    of 3 randomized batches, STILL equals it after a mid-sequence
    compaction, and after one more post-compaction batch (log entries
    composing over a compacted base)."""
    from wing_binlog_go_spark.streaming.joinview import compact_joinview_mor

    rng = random.Random(1208)
    flat = str(tmp_path / "flat")
    mor = str(tmp_path / "mor")
    model = {"orders": {}, "customers": {}}
    idx = 0

    def fresh_row(tb):
        if tb == "customers":
            return {"id": str(rng.randrange(10)), "seg": str(rng.randrange(3))}
        return {"id": str(rng.randrange(100)), "cust": str(rng.randrange(10))}

    def gen_batch(n):
        nonlocal idx
        rows = []
        for _ in range(n):
            tb = rng.choice(("orders", "customers"))
            side = model[tb]
            op = rng.choice(("insert", "insert", "update", "delete"))
            if op == "insert" or not side:
                idx += 1
                row = fresh_row(tb)
                if row["id"] in side:
                    rows.append((tb, "update", idx, None, dict(side[row["id"]]), row))
                else:
                    rows.append((tb, "insert", idx, row, None, None))
                side[row["id"]] = row
            elif op == "update":
                idx += 1
                pk = rng.choice(sorted(side))
                old = dict(side[pk])
                new = fresh_row(tb)
                if new["id"] != pk and new["id"] in side:
                    continue
                rows.append((tb, "update", idx, None, old, new))
                del side[pk]
                side[new["id"]] = new
            else:
                idx += 1
                pk = rng.choice(sorted(side))
                rows.append((tb, "delete", idx, dict(side[pk]), None, None))
                del side[pk]
        return rows

    for _ in range(3):
        b = _env(spark, gen_batch(25))
        _apply(spark, flat, b)
        _apply_m(spark, mor, b)
        assert _pairs_m(spark, mor) == _pairs(spark, flat)

    compact_joinview_mor(spark, mor, "cust", "id", num_buckets=8)
    assert _pairs_m(spark, mor) == _pairs(spark, flat)
    assert not os.listdir(os.path.join(mor, "log"))  # entries folded

    b = _env(spark, gen_batch(25))
    _apply(spark, flat, b)
    _apply_m(spark, mor, b)
    assert _pairs_m(spark, mor) == _pairs(spark, flat)


def test_mor_joinview_replay_and_crash_idempotence(spark, tmp_path):
    """A redelivered batch (entry written, mark regressed — the crash
    picture) appends a DUPLICATE entry whose touch-sets kill the first
    copy's adds: the reader sees each pair exactly once. A stale
    compacted entry (crash between base swap and entry deletion) is
    skipped by the marker and removed."""
    import json as _json
    import shutil

    from wing_binlog_go_spark.streaming.joinview import (
        compact_joinview_mor,
        joinview_mor_high_water,
        read_joinview_mor,
    )

    state = str(tmp_path / "mor")
    b1 = _env(
        spark,
        [
            ("customers", "insert", 1, {"id": "1", "seg": "A"}, None, None),
            ("customers", "insert", 2, {"id": "2", "seg": "B"}, None, None),
            ("orders", "insert", 3, {"id": "10", "cust": "1"}, None, None),
        ],
    )
    b2 = _env(
        spark,
        [
            ("orders", "update", 4, None,
             {"id": "10", "cust": "1"}, {"id": "10", "cust": "2"}),
            ("orders", "insert", 5, {"id": "11", "cust": "1"}, None, None),
        ],
    )
    _apply_m(spark, state, b1)
    _apply_m(spark, state, b2)
    want = {("10", "2"), ("11", "1")}
    assert _pairs_m(spark, state) == want

    # crash replay: regress the mark, redeliver b2 (duplicate entry)
    with open(os.path.join(state, "_join_meta.json"), "w") as f:
        _json.dump({"max_event_index": 3}, f)
    _apply_m(spark, state, b2)
    assert _pairs_m(spark, state) == want
    assert joinview_mor_high_water(state) == 5
    # the duplicate rows must not double-count
    assert read_joinview_mor(spark, state).count() == 2

    # stale entry after compaction: copy an entry aside, compact,
    # restore the copy — marker seq makes the reader skip + delete it
    log = os.path.join(state, "log")
    entry = sorted(os.listdir(log))[0]
    shutil.copytree(os.path.join(log, entry), str(tmp_path / "stale"))
    compact_joinview_mor(spark, state, "cust", "id")
    shutil.copytree(str(tmp_path / "stale"), os.path.join(log, entry))
    assert _pairs_m(spark, state) == want
    assert not os.path.exists(os.path.join(log, entry))  # lazily removed


def test_mor_apply_never_rewrites_base(spark, tmp_path):
    """The merge-on-read promise measured at the file level: after a
    compaction, further applies leave every base file byte-stable
    (mtimes unchanged) — per-batch IO is the log append alone."""
    import glob

    from wing_binlog_go_spark.streaming.joinview import compact_joinview_mor

    state = str(tmp_path / "mor")
    rows = [("customers", "insert", i + 1, {"id": str(i), "seg": "A"}, None, None)
            for i in range(10)]
    rows += [("orders", "insert", 100 + i, {"id": str(100 + i), "cust": str(i)},
              None, None) for i in range(10)]
    _apply_m(spark, state, _env(spark, rows))
    compact_joinview_mor(spark, state, "cust", "id")

    base_glob = os.path.join(state, "base", "**", "*.parquet")
    before = {p: os.path.getmtime(p) for p in glob.glob(base_glob, recursive=True)}
    assert before, "compaction must have produced base files"

    b2 = _env(
        spark,
        [("orders", "update", 200, None,
          {"id": "105", "cust": "5"}, {"id": "105", "cust": "6"})],
    )
    _apply_m(spark, state, b2)
    after = {p: os.path.getmtime(p) for p in glob.glob(base_glob, recursive=True)}
    assert after == before
    pairs = _pairs_m(spark, state)
    assert ("105", "6") in pairs and ("105", "5") not in pairs
    assert ("104", "4") in pairs


def test_mor_log_listing_sweeps_entry_staging_debris(tmp_path):
    """A crash mid log-entry publish leaves the entry's stage (at
    ``maintenance.staging_path``) behind: listing the log removes it and
    never reports it as an entry."""
    from wing_binlog_go_spark.streaming.joinview import _mor_dirs, _mor_entries
    from wing_binlog_go_spark.streaming.maintenance import staging_path

    state = str(tmp_path / "mor")
    _, log_dir = _mor_dirs(state)
    os.makedirs(os.path.join(log_dir, "e00000001"))
    debris = staging_path(os.path.join(log_dir, "e00000002"))
    os.makedirs(debris)
    assert [seq for seq, _ in _mor_entries(state)] == [1]
    assert not os.path.exists(debris)
