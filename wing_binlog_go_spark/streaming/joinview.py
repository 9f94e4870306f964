"""Incremental JOIN-view maintenance over the CDC envelope stream.

The reference feeds "Realtime analytics" consumers (`readme.md:40-43`)
from one changelog carrying many tables; the second-most-common consumer
after per-key aggregates (streaming/aggregate.py) is a MATERIALIZED JOIN
of two of those tables — e.g. orders enriched with their customer row,
kept current as either side changes. Recomputing the join per batch is
O(|A| + |B|) every few seconds; this module maintains it incrementally
with the classic delta-join rule:

    V_new = (V_old minus pairs touching a changed key)
          ∪ ΔA_live ⋈ B_new
          ∪ (A_new ∖ ΔA) ⋈ ΔB_live

Each batch costs O(|Δ| ⋈ state-on-matching-join-keys) for the delta
joins plus an anti-join of the old view against the (small, broadcast)
set of touched primary keys — never a re-join of the full sides.

State layout under ``state_dir`` (all plain parquet + POSIX rename,
same storage constraint as every maintainer in aggregate.py):

    state_dir/left   (_pk, row map, event_index)   live rows of table A
    state_dir/right  (_pk, row map, event_index)   live rows of table B
    state_dir/view   (_pk_l, _pk_r, jk, row_l, row_r)
    state_dir/view/_join_meta.json                 replay high-water mark

Commit protocol: each child commits through ``maintenance.rewrite_dir``
individually, in the fixed order left → right → view, and the
high-water mark rides with the VIEW swap as meta — the last rename is
the commit point. A crash between child swaps
leaves sides ahead of the mark, which is safe because every step is
idempotent: the side merge is last-writer-wins by the replay-stable
``event_index`` (re-unioning the same change rows picks the same
winners), and the view rebuild recomputes all pairs touching the
replayed keys from whatever the sides now hold. The at-least-once
source redelivers the batch (foreachBatch checkpoints commit after the
writer returns), the replay re-derives identical deltas, and the three
children reconverge.

Update/delete semantics come from the envelope shapes
(`src/library/binlog/handler.go:113-184`): updates re-key on the NEW
image and tombstone a moved primary key (change_rows_per_pk), so a row
whose JOIN KEY changes leaves its old pairs (its _pk is touched → old
pairs anti-joined away) and enters the new ones (delta join under the
new key); deletes remove every pair the row participated in.

Scale shape (100 TB): the delta joins shuffle O(|Δ|) rows against the
side states; the touched-pk sets are batch-sized and broadcast. The
full-table rewrite of a CHANGED side and of the view is this flat
layout's cost floor — at billions of live rows use
``incremental_joinview_apply_bucketed`` below (data hash-bucketed on
the pk, one narrow join-key-bucketed (jk, _pk) posting per side
routing every cross-side lookup, so both the rewrites AND every
per-batch read — the delta joins' probe of the other side, the view's
removals keyed on the right pk — prune to the buckets the batch's
keys hash to) or a Delta MERGE; the delta algebra is identical in all
three. For HIGH-ENTROPY update streams (each batch touching ~every
bucket, where any copy-on-write layout rewrites ~the whole state per
batch — the measured law in SCALE.md round 12) use
``incremental_joinview_apply_mor``: per-batch appends one log entry,
reads fold base ∪ log last-writer-wins, and
``compact_joinview_mor`` amortizes the rewrite.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wing_binlog_go_spark.streaming.maintenance import (
    recover_swap,
    rewrite_dir,
    write_json,
)
from wing_binlog_go_spark.streaming.pipeline import (
    _collapse_lww,
    change_rows_per_pk,
)

_META = "_join_meta.json"

_SIDE_SCHEMA = (
    "_pk string, row map<string,string>, event_index bigint"
)
_VIEW_SCHEMA = (
    "_pk_l string, _pk_r string, jk string, "
    "row_l map<string,string>, row_r map<string,string>"
)


def joinview_high_water(state_dir: str) -> int:
    """Replay high-water mark: max ``event_index`` whose batch has fully
    committed (rode the view swap). −1 before the first commit, and −1
    on an unreadable meta (same tolerance as ``applied_index``): every
    step of the apply is idempotent, so re-processing from scratch is
    wasteful but correct — crashing on corrupt JSON would wedge the
    route instead."""
    meta = os.path.join(state_dir, "view", _META)
    try:
        with open(meta) as f:
            return int(json.load(f)["max_event_index"])
    except (OSError, ValueError, KeyError):
        return -1


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    if os.path.exists(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def _side_changes(fresh: DataFrame, table: str, pk) -> DataFrame:
    """LWW-collapsed change rows of one table in the batch:
    (_pk, row, is_delete, event_index), one winner per key."""
    return _collapse_lww(
        change_rows_per_pk(fresh.filter(F.col("table") == table), pk)
    )


def _merge_side(state: DataFrame, changes: DataFrame) -> DataFrame:
    """Side state ∪ batch changes, last-writer-wins, tombstones dropped.
    Idempotent: replaying the same changes re-picks the same winners."""
    merged = _collapse_lww(
        state.withColumn("is_delete", F.lit(False))
        .select("_pk", "row", "is_delete", "event_index")
        .unionByName(changes)
    )
    return merged.filter(~F.col("is_delete")).select("_pk", "row", "event_index")


def _swap_child(df: DataFrame, path: str, meta_mx: int | None = None) -> None:
    meta = None if meta_mx is None else {_META: {"max_event_index": int(meta_mx)}}
    rewrite_dir(path, df, meta)


def incremental_joinview_apply(
    spark: SparkSession,
    env_batch: DataFrame,
    state_dir: str,
    left_table: str,
    right_table: str,
    key_left: str,
    key_right: str,
    pk_left: str | list[str] = "id",
    pk_right: str | list[str] = "id",
) -> None:
    """Apply one envelope micro-batch to the maintained inner-join view
    ``left ⋈ right ON left.key_left = right.key_right``.

    Rows with a NULL join key stay in the side state (they are live
    rows and may gain a key later) but join to nothing — inner-join
    semantics, same as the batch recompute. Replay-safe via the
    high-water mark committed with the view swap (see module doc).
    """
    left_dir = os.path.join(state_dir, "left")
    right_dir = os.path.join(state_dir, "right")
    view_dir = os.path.join(state_dir, "view")
    for d in (left_dir, right_dir, view_dir):
        recover_swap(d)

    high = joinview_high_water(state_dir)
    fresh = env_batch.filter(F.col("event_index") > high)
    mx = fresh.agg(F.max("event_index")).collect()[0][0]
    if mx is None:
        return

    ch_l = _side_changes(fresh, left_table, pk_left).localCheckpoint(eager=True)
    ch_r = _side_changes(fresh, right_table, pk_right).localCheckpoint(eager=True)

    # sides: merge + swap only when the batch actually touched them
    # (the idle-table IO guard, same as upsert_parquet's short-circuit)
    l_dirty = not ch_l.isEmpty()
    r_dirty = not ch_r.isEmpty()
    if not l_dirty and not r_dirty:
        # batch carried only other tables' events: advance the mark
        # WITHOUT rewriting the untouched view (the scd2 idle-table
        # lesson) — a durable write_json of the mark alone
        if os.path.exists(view_dir):
            write_json(
                os.path.join(view_dir, _META), {"max_event_index": int(mx)}
            )
            return
        # no view yet: fall through and materialize the (empty) state
    if l_dirty:
        _swap_child(
            _merge_side(_read_or_empty(spark, left_dir, _SIDE_SCHEMA), ch_l),
            left_dir,
        )
    if r_dirty:
        _swap_child(
            _merge_side(_read_or_empty(spark, right_dir, _SIDE_SCHEMA), ch_r),
            right_dir,
        )

    # view rebuild from the POST-swap sides (replay converges on these)
    new_l = _read_or_empty(spark, left_dir, _SIDE_SCHEMA).select(
        "_pk", F.element_at("row", key_left).alias("jk"), F.col("row")
    )
    new_r = _read_or_empty(spark, right_dir, _SIDE_SCHEMA).select(
        "_pk", F.element_at("row", key_right).alias("jk"), F.col("row")
    )
    t_l = ch_l.select("_pk").distinct()
    t_r = ch_r.select("_pk").distinct()

    old_view = _read_or_empty(spark, view_dir, _VIEW_SCHEMA)
    kept = old_view.join(
        F.broadcast(t_l.withColumnRenamed("_pk", "_pk_l")), "_pk_l", "left_anti"
    ).join(
        F.broadcast(t_r.withColumnRenamed("_pk", "_pk_r")), "_pk_r", "left_anti"
    )

    def pairs(lhs: DataFrame, rhs: DataFrame) -> DataFrame:
        l = lhs.select(
            F.col("_pk").alias("_pk_l"), "jk", F.col("row").alias("row_l")
        )
        r = rhs.select(
            F.col("_pk").alias("_pk_r"),
            F.col("jk").alias("_jk_r"),
            F.col("row").alias("row_r"),
        )
        return l.join(r, l["jk"] == r["_jk_r"]).select(
            "_pk_l", "_pk_r", "jk", "row_l", "row_r"
        )

    # ΔA ⋈ B_new covers (touched-l × anything); (A_new ∖ ΔA) ⋈ ΔB covers
    # the remaining touched-r pairs exactly once
    add_l = pairs(new_l.join(F.broadcast(t_l), "_pk", "left_semi"), new_r)
    add_r = pairs(
        new_l.join(F.broadcast(t_l), "_pk", "left_anti"),
        new_r.join(F.broadcast(t_r), "_pk", "left_semi"),
    )
    new_view = kept.select(*old_view.columns).unionByName(add_l).unionByName(add_r)
    _swap_child(new_view, view_dir, meta_mx=mx)  # commit point


def joinview_writer(
    state_dir: str,
    left_table: str,
    right_table: str,
    key_left: str,
    key_right: str,
    pk_left: str | list[str] = "id",
    pk_right: str | list[str] = "id",
):
    """foreachBatch hook: envelope stream → maintained join view."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        incremental_joinview_apply(
            batch_df.sparkSession,
            batch_df,
            state_dir,
            left_table,
            right_table,
            key_left,
            key_right,
            pk_left,
            pk_right,
        )

    return write


def read_joinview(spark: SparkSession, state_dir: str) -> DataFrame:
    """The maintained view: (_pk_l, _pk_r, jk, row_l, row_r)."""
    return _read_or_empty(spark, os.path.join(state_dir, "view"), _VIEW_SCHEMA)


# ---------------------------------------------------------------------------
# bucketed layout: per-batch IO = O(changed buckets), not O(state)
# ---------------------------------------------------------------------------


def _bucket_of(col, n: int):
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(n)).cast("int")


def _distinct_ints(df: DataFrame, col: str) -> list[int]:
    return sorted(r[0] for r in df.select(col).distinct().collect())


def _in_buckets(df: DataFrame, col: str, buckets: list[int]) -> DataFrame:
    """Partition-pruned bucket filter; an empty bucket list is the
    empty frame (``isin([])`` is not a legal Spark predicate)."""
    if not buckets:
        return df.limit(0)
    return df.filter(F.col(col).isin(buckets))


def _overwrite_buckets(
    df: DataFrame, path: str, part_col: str, affected: list[int]
) -> None:
    """Dynamic partition overwrite that ALSO handles the pitfall the
    mode itself has: a partition whose new content is EMPTY is never
    overwritten (Spark writes no partition for zero rows), so rows
    deleted down to an empty bucket would silently resurrect. Buckets
    in ``affected`` with no surviving rows are removed explicitly after
    the write; a crash between the write and the removals reconverges
    on replay (the stale bucket's rows are all touched-key rows, so the
    bucket re-enters the affected set and recomputes to empty again).

    Rows are clustered by bucket before the write: without this, every
    write task emits a file into every bucket it holds rows for
    (tasks × buckets tiny files, which makes every later listing+scan
    the dominant cost). One shuffle of just the touched-bucket content
    caps it at roughly one file per bucket."""
    import shutil

    frame = (
        df.repartition(F.col(part_col)).localCheckpoint(eager=True)
    )  # one compute: presence + write
    present = set(_distinct_ints(frame.select(part_col), part_col))
    if present:
        (
            frame.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(part_col)
            .parquet(path)
        )
    for b in set(affected) - present:
        shutil.rmtree(os.path.join(path, f"{part_col}={b}"), ignore_errors=True)


def _read_bucketed(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a bucket-partitioned child; a missing dir OR a dir whose
    every bucket was deleted (fully-emptied state — legal after mass
    deletes) reads as the empty typed frame, not a schema-inference
    error."""
    if os.path.exists(path):
        # Only the KNOWN-empty layout (no bucket=N subdirs left after a
        # mass delete — just _SUCCESS/.crc droppings) may read as the
        # empty frame. Any read failure over real bucket dirs is a
        # transient/corrupt-parquet error; swallowing it here would let
        # the subsequent bucket overwrite + commit-mark advance silently
        # drop every touched bucket's prior rows.
        has_buckets = any(
            e.is_dir() and "=" in e.name for e in os.scandir(path)
        )
        if has_buckets:
            # Explicit schema (bucket/partition columns included): no
            # footer-based schema inference per apply — partition
            # discovery is a pure listing, and no data file is opened
            # until a (partition-pruned) scan actually needs it.
            return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def joinview_bucketed_high_water(state_dir: str) -> int:
    """Bucketed layout's replay mark (root-level meta — the commit is a
    ``write_json``, not a dir swap). Same −1 tolerance."""
    try:
        with open(os.path.join(state_dir, _META)) as f:
            return int(json.load(f)["max_event_index"])
    except (OSError, ValueError, KeyError):
        return -1


_POST_SCHEMA = "jk string, _pk string, jb int"


def _env_old_jks(fresh: DataFrame, table: str, key: str) -> DataFrame:
    """The batch's own PRE-IMAGE join keys for one table: update
    ``old_data`` + delete ``data`` images. Replay-stable (derived from
    the redelivered envelope, not from mutable state), which is what
    makes the view's removal probe exact across crash replays — after
    a crash that merged a side but never rewrote the view, the side's
    "old" row already shows the new key, but the envelope still says
    what the pairs in the view were built from."""
    e = fresh.filter(F.col("table") == table)
    return (
        e.filter(F.col("event_type") == "update")
        .select(F.element_at("event.old_data", key).alias("jk"))
        .unionByName(
            e.filter(F.col("event_type") == "delete").select(
                F.element_at("event.data", key).alias("jk")
            )
        )
        .filter(F.col("jk").isNotNull())
        .distinct()
    )


def incremental_joinview_apply_bucketed(
    spark: SparkSession,
    env_batch: DataFrame,
    state_dir: str,
    left_table: str,
    right_table: str,
    key_left: str,
    key_right: str,
    pk_left: str | list[str] = "id",
    pk_right: str | list[str] = "id",
    num_buckets: int = 16,
) -> None:
    """The flat apply's scale form: side DATA hash-bucketed on ``_pk``
    and the view on ``_pk_l`` (dynamic partition overwrite of only the
    buckets a batch touches), plus one NARROW ``(jk, _pk)`` POSTING per
    side bucketed on the join key that ROUTES every cross-side lookup.
    Per-batch IO is O(|Δ| + touched buckets), never a full-state scan.

    The posting is what removes the r11 scale term (the delta⋈full-
    other-side join-key scan) without the write amplification a dual-
    partitioned data layout pays (measured: (sb, jb) data leaves turn a
    1k-uniform-pk batch into thousands of tiny leaf rewrites). Reads:
    the delta's join keys hash to a batch-sized set of jb buckets, the
    other side's posting is scanned only there (narrow: two string
    columns), and the matching rows are fetched from the data buckets
    the candidate pks hash to. Writes: data rewrites touched pk
    buckets, the posting rewrites touched jk buckets — both ≤
    num_buckets dirs per batch.

    Posting contract: after each batch it holds (jk, _pk) for every
    LIVE row of its side (entries for all current rows; maintained by
    rewriting the jb buckets of the batch's old ∪ new join keys). A
    crash replay can leave STALE extra entries (a moved row's old-key
    entry whose bucket the replay no longer touches) — harmless false
    positives: every routed candidate is re-joined on the REAL key
    from the data row, so a stale entry costs a lookup, never a wrong
    pair. Missing entries cannot survive: the posting for a side is
    rewritten before the view in every batch that touches the side,
    and an unwritten posting comes with an unwritten view + old mark,
    so the replay redoes both.

    Affected view (vb) buckets = buckets of the touched LEFT keys ∪
    buckets of pairs losing a touched RIGHT key — found by probing the
    LEFT posting with the touched right rows' PRE-BATCH join keys
    (pre-merge data image ∪ the batch's own old_data/delete images, so
    the probe stays exact across crash replays) — ∪ buckets of the
    right-delta join's new pairs. Every added pair provably lands
    inside the affected set, so untouched vb buckets are byte-stable
    (test-asserted by mtime), and the view itself is never scanned
    outside the affected buckets (test-asserted by planted corrupt
    files).

    Commit = the root meta's ``write_json`` AFTER all bucket
    overwrites, in the fixed order left data → left posting → right
    data → right posting → view → mark. A crash anywhere leaves the
    OLD mark: the redelivered batch re-merges sides last-writer-wins
    (idempotent per bucket) and re-derives each affected bucket's
    final content from scratch. Convergence, not atomicity, is the
    contract — same as the flat variant's child-swap ordering.
    """
    left_dir = os.path.join(state_dir, "left")
    right_dir = os.path.join(state_dir, "right")
    lpost_dir = os.path.join(state_dir, "left_jk")
    rpost_dir = os.path.join(state_dir, "right_jk")
    view_dir = os.path.join(state_dir, "view")
    os.makedirs(state_dir, exist_ok=True)

    high = joinview_bucketed_high_water(state_dir)
    fresh = env_batch.filter(F.col("event_index") > high)
    mx = fresh.agg(F.max("event_index")).collect()[0][0]
    if mx is None:
        return

    ch_l = _side_changes(fresh, left_table, pk_left).localCheckpoint(eager=True)
    ch_r = _side_changes(fresh, right_table, pk_right).localCheckpoint(eager=True)

    def commit_mark() -> None:
        write_json(os.path.join(state_dir, _META), {"max_event_index": int(mx)})

    if ch_l.isEmpty() and ch_r.isEmpty():
        commit_mark()  # other tables' events: mark only, zero table IO
        return

    data_schema = _SIDE_SCHEMA + ", sb int"

    def read_data(path: str, key: str) -> DataFrame:
        """One side with its join key projected: (_pk, jk, row, sb)."""
        return _read_bucketed(spark, path, data_schema).select(
            "_pk", F.element_at("row", key).alias("jk"), "row", "sb"
        )

    def read_post(path: str) -> DataFrame:
        return _read_bucketed(spark, path, _POST_SCHEMA)

    t_l = ch_l.select("_pk").distinct().localCheckpoint(eager=True)
    t_r = ch_r.select("_pk").distinct().localCheckpoint(eager=True)

    def side_apply(data_dir, post_dir, changes, t, key, env_old):
        """Merge one side's data buckets and rewrite its jk posting.
        Returns (live delta rows post-merge, pre-batch jks of the
        touched pks) — both checkpointed batch-sized frames."""
        if changes.isEmpty():
            empty_rows = read_data(data_dir, key).limit(0)
            return empty_rows, spark.createDataFrame([], "jk string")
        sbs = _distinct_ints(
            changes.select(_bucket_of("_pk", num_buckets).alias("sb")), "sb"
        )
        # pre-batch jks: pre-merge data image of the touched pks ∪ the
        # envelope's own old images (must materialize BEFORE the data
        # overwrite below invalidates the lazy read)
        old_jks = (
            _in_buckets(read_data(data_dir, key), "sb", sbs)
            .join(F.broadcast(t), "_pk", "left_semi")
            .select("jk")
            .filter(F.col("jk").isNotNull())
            .unionByName(env_old)
            .distinct()
            .localCheckpoint(eager=True)
        )
        old_all = _in_buckets(
            _read_bucketed(spark, data_dir, data_schema), "sb", sbs
        ).select("_pk", "row", "event_index")
        merged = _merge_side(old_all, changes).withColumn(
            "sb", _bucket_of("_pk", num_buckets)
        )
        _overwrite_buckets(merged, data_dir, "sb", sbs)
        del_rows = (
            _in_buckets(read_data(data_dir, key), "sb", sbs)
            .join(F.broadcast(t), "_pk", "left_semi")
            .localCheckpoint(eager=True)
        )
        new_jks = del_rows.select("jk").filter(F.col("jk").isNotNull())
        jbs = _distinct_ints(
            old_jks.unionByName(new_jks).select(
                _bucket_of("jk", num_buckets).alias("jb")
            ),
            "jb",
        )
        new_post = (
            _in_buckets(read_post(post_dir), "jb", jbs)
            .join(F.broadcast(t), "_pk", "left_anti")
            .select("jk", "_pk")
            .unionByName(
                del_rows.filter(F.col("jk").isNotNull()).select("jk", "_pk")
            )
            .withColumn("jb", _bucket_of("jk", num_buckets))
        )
        if jbs:
            _overwrite_buckets(new_post, post_dir, "jb", jbs)
        return del_rows, old_jks

    del_l, _old_jks_l = side_apply(
        left_dir, lpost_dir, ch_l, t_l, key_left,
        _env_old_jks(fresh, left_table, key_left),
    )
    del_r, old_jks_r = side_apply(
        right_dir, rpost_dir, ch_r, t_r, key_right,
        _env_old_jks(fresh, right_table, key_right),
    )

    def route_rows(post_dir, data_dir, key, jks: DataFrame) -> DataFrame:
        """Live rows of a side whose jk ∈ jks, via the narrow posting:
        jb-pruned posting scan → candidate pks → sb-pruned row fetch.
        Stale posting entries survive only until the pair join re-checks
        the real key."""
        jbs = _distinct_ints(
            jks.select(_bucket_of("jk", num_buckets).alias("jb")), "jb"
        )
        cand = (
            _in_buckets(read_post(post_dir), "jb", jbs)
            .join(F.broadcast(jks), "jk", "left_semi")
            .select("_pk")
            .distinct()
            .localCheckpoint(eager=True)
        )
        sbs = _distinct_ints(
            cand.select(_bucket_of("_pk", num_buckets).alias("sb")), "sb"
        )
        return _in_buckets(read_data(data_dir, key), "sb", sbs).join(
            cand, "_pk", "left_semi"
        )

    def pairs(lhs: DataFrame, rhs: DataFrame) -> DataFrame:
        l = lhs.select(
            F.col("_pk").alias("_pk_l"), "jk", F.col("row").alias("row_l")
        )
        r = rhs.select(
            F.col("_pk").alias("_pk_r"),
            F.col("jk").alias("_jk_r"),
            F.col("row").alias("row_r"),
        )
        return l.join(r, l["jk"] == r["_jk_r"]).select(
            "_pk_l", "_pk_r", "jk", "row_l", "row_r"
        )

    # ΔA ⋈ B covers (touched-l × anything); (A ∖ ΔA) ⋈ ΔB covers the
    # remaining touched-r pairs exactly once. Each full-side operand is
    # replaced by its posting-routed fetch.
    jks_l = del_l.select("jk").filter(F.col("jk").isNotNull()).distinct()
    jks_r = del_r.select("jk").filter(F.col("jk").isNotNull()).distinct()
    add_l = pairs(del_l, route_rows(rpost_dir, right_dir, key_right, jks_l))
    add_r = pairs(
        route_rows(lpost_dir, left_dir, key_left, jks_r).join(
            F.broadcast(t_l), "_pk", "left_anti"
        ),
        del_r,
    ).localCheckpoint(eager=True)  # feeds the bucket set AND the union

    view_schema = _VIEW_SCHEMA + ", vb int"
    old_view = _read_bucketed(spark, view_dir, view_schema)

    # affected view buckets: touched-left keys; pairs losing a touched
    # right key (probe the LEFT posting with the right rows' pre-batch
    # jks — vb = bucket(_pk_l) = bucket of the posting's _pk); and
    # right-delta adds
    jbs_probe = _distinct_ints(
        old_jks_r.select(_bucket_of("jk", num_buckets).alias("jb")), "jb"
    )
    vb_sets = [
        t_l.select(_bucket_of("_pk", num_buckets).alias("vb")),
        _in_buckets(read_post(lpost_dir), "jb", jbs_probe)
        .join(F.broadcast(old_jks_r), "jk", "left_semi")
        .select(_bucket_of("_pk", num_buckets).alias("vb")),
        add_r.select(_bucket_of("_pk_l", num_buckets).alias("vb")),
    ]
    affected = _distinct_ints(
        vb_sets[0].unionByName(vb_sets[1]).unionByName(vb_sets[2]), "vb"
    )
    if not affected:
        commit_mark()  # deletes of absent keys etc.: nothing to rewrite
        return

    kept = (
        _in_buckets(old_view, "vb", affected)
        .select("_pk_l", "_pk_r", "jk", "row_l", "row_r")
        .join(
            F.broadcast(t_l.withColumnRenamed("_pk", "_pk_l")), "_pk_l", "left_anti"
        )
        .join(
            F.broadcast(t_r.withColumnRenamed("_pk", "_pk_r")), "_pk_r", "left_anti"
        )
    )
    new_view = (
        kept.unionByName(add_l)
        .unionByName(add_r)
        .withColumn("vb", _bucket_of("_pk_l", num_buckets))
    )
    _overwrite_buckets(new_view, view_dir, "vb", affected)
    commit_mark()


def joinview_bucketed_writer(
    state_dir: str,
    left_table: str,
    right_table: str,
    key_left: str,
    key_right: str,
    pk_left: str | list[str] = "id",
    pk_right: str | list[str] = "id",
    num_buckets: int = 16,
):
    """foreachBatch hook for the bucketed layout."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        incremental_joinview_apply_bucketed(
            batch_df.sparkSession,
            batch_df,
            state_dir,
            left_table,
            right_table,
            key_left,
            key_right,
            pk_left,
            pk_right,
            num_buckets,
        )

    return write


def read_joinview_bucketed(spark: SparkSession, state_dir: str) -> DataFrame:
    """The bucketed view, bucket column dropped — same shape as the
    flat reader."""
    view_dir = os.path.join(state_dir, "view")
    return _read_bucketed(spark, view_dir, _VIEW_SCHEMA + ", vb int").select(
        "_pk_l", "_pk_r", "jk", "row_l", "row_r"
    )


def bootstrap_joinview(
    spark: SparkSession,
    left_rows: DataFrame,
    right_rows: DataFrame,
    state_dir: str,
    key_left: str,
    key_right: str,
    pk_left: str | list[str] = "id",
    pk_right: str | list[str] = "id",
    high_water: int = 0,
) -> None:
    """Initialize the flat join-view state from SNAPSHOTS of the two
    tables (string-typed columns, the decoded-row shape a
    ``jdbc_snapshot`` produces) instead of replaying the full changelog
    — the O3 bootstrap story applied to this consumer: snapshot first,
    then stream from the coordinates the snapshot was taken at, passing
    those coordinates' ``event_index`` here as ``high_water`` so the
    stream's replay filter starts exactly after the snapshot.

    Rows are entered at ``event_index = high_water`` (any later change
    wins LWW, exactly as a change after a snapshot must). The view
    builds with one join; the commit is the same view-swap-with-meta as
    the incremental path, so a crash mid-bootstrap just re-runs.
    """
    from wing_binlog_go_spark.streaming.pipeline import _pk_key

    def side(rows: DataFrame, pk) -> DataFrame:
        pk_cols = [pk] if isinstance(pk, str) else list(pk)
        as_map = F.map_from_arrays(
            F.array(*[F.lit(c) for c in rows.columns]),
            F.array(*[F.col(c).cast("string") for c in rows.columns]),
        )
        return rows.select(
            _pk_key(as_map, pk_cols).alias("_pk"),
            as_map.alias("row"),
            F.lit(int(high_water)).cast("long").alias("event_index"),
        )

    l = side(left_rows, pk_left)
    r = side(right_rows, pk_right)
    _swap_child(l, os.path.join(state_dir, "left"))
    _swap_child(r, os.path.join(state_dir, "right"))
    lj = l.select("_pk", F.element_at("row", key_left).alias("jk"), "row")
    rj = r.select("_pk", F.element_at("row", key_right).alias("jk"), "row")
    view = (
        lj.select(F.col("_pk").alias("_pk_l"), "jk", F.col("row").alias("row_l"))
        .join(
            rj.select(
                F.col("_pk").alias("_pk_r"),
                F.col("jk").alias("_jk_r"),
                F.col("row").alias("row_r"),
            ),
            F.col("jk") == F.col("_jk_r"),
        )
        .select("_pk_l", "_pk_r", "jk", "row_l", "row_r")
    )
    _swap_child(view, os.path.join(state_dir, "view"), meta_mx=high_water)


# ---------------------------------------------------------------------------
# merge-on-read layout: per-batch IO = O(|Δ|) appends, COW deferred to
# compaction — the answer to the bucketed layout's measured rewrite law
# (state × (1 − e^(−k/nb)) per batch; see SCALE.md round 12)
# ---------------------------------------------------------------------------

_CH_SCHEMA = "_pk string, row map<string,string>, is_delete boolean, event_index bigint"


def _mor_dirs(state_dir: str) -> "tuple[str, str]":
    return os.path.join(state_dir, "base"), os.path.join(state_dir, "log")


def joinview_mor_high_water(state_dir: str) -> int:
    """Root replay mark of the merge-on-read layout (same −1 tolerance
    as every other maintainer)."""
    try:
        with open(os.path.join(state_dir, _META)) as f:
            return int(json.load(f)["max_event_index"])
    except (OSError, ValueError, KeyError):
        return -1


def _mor_compact_meta(base_dir: str) -> dict:
    try:
        with open(os.path.join(base_dir, "_compact.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def _mor_compacted_through(base_dir: str) -> int:
    """Log entries with seq ≤ this are already folded into base (the
    compaction marker rides the base swap, so a crash between the swap
    and the entry deletions leaves stale-but-ignored entries)."""
    try:
        return int(_mor_compact_meta(base_dir)["through_seq"])
    except (ValueError, KeyError):
        return -1


def _mor_base_buckets(base_dir: str, default: int) -> int:
    """The bucket count the base was WRITTEN with (persisted in the
    compaction marker) — every jb/sb/vb computation must follow it, or
    a caller passing a different ``num_buckets`` than the compaction
    used would silently route reads to the wrong partitions (an empty
    candidate set, not an error)."""
    try:
        return int(_mor_compact_meta(base_dir)["num_buckets"])
    except (ValueError, KeyError):
        return int(default)


def _mor_entries(state_dir: str) -> "list[tuple[int, str]]":
    """Live log entries as (seq, path), ascending; staging orphans and
    already-compacted entries are skipped (and the latter removed)."""
    import shutil

    base_dir, log_dir = _mor_dirs(state_dir)
    through = _mor_compacted_through(base_dir)
    out = []
    if os.path.isdir(log_dir):
        for e in os.scandir(log_dir):
            if not e.is_dir():
                continue
            if e.name.endswith("._staging"):
                shutil.rmtree(e.path, ignore_errors=True)  # crash orphan
                continue
            if e.name.startswith("e") and e.name[1:].isdigit():
                seq = int(e.name[1:])
                if seq <= through:
                    shutil.rmtree(e.path, ignore_errors=True)  # folded
                else:
                    out.append((seq, e.path))
    return sorted(out)


def _mor_log_side(spark: SparkSession, state_dir: str, which: str) -> DataFrame:
    """All live log entries' change rows for one side, tagged with their
    entry seq: (_pk, row, is_delete, event_index, seq)."""
    frames = [
        spark.read.schema(_CH_SCHEMA)
        .parquet(os.path.join(path, which))
        .withColumn("seq", F.lit(seq))
        for seq, path in _mor_entries(state_dir)
    ]
    empty = spark.createDataFrame([], _CH_SCHEMA + ", seq int")
    out = empty
    for fr in frames:
        out = out.unionByName(fr)
    return out


def incremental_joinview_apply_mor(
    spark: SparkSession,
    env_batch: DataFrame,
    state_dir: str,
    left_table: str,
    right_table: str,
    key_left: str,
    key_right: str,
    pk_left: str | list[str] = "id",
    pk_right: str | list[str] = "id",
    num_buckets: int = 16,
) -> None:
    """MERGE-ON-READ join-view maintenance: each batch APPENDS one log
    entry (the two sides' LWW-collapsed change rows + the delta joins'
    added pairs) and rewrites NOTHING — per-batch IO is O(|Δ| + routed
    reads + log size), with the copy-on-write cost deferred to
    :func:`compact_joinview_mor`. This is the high-entropy-update
    answer the bucketed layout's measured rewrite law demands (a
    1k-uniform-key batch rewrites ~the whole state there; here it
    appends ~1k rows + its pairs).

    State = ``base/`` (the bucketed layout's children, written only by
    compaction) + ``log/eNNNNNNNN/`` entries (chl, chr, adds). Current
    side rows = base ∪ log, folded last-writer-wins by ``event_index``
    — exactly ``_merge_side``'s rule, so base and log rows compose
    without special cases. Delta joins route through base postings
    (jb-pruned) for the base part and scan the (small) log directly
    for the rest.

    View semantics at read (:func:`read_joinview_mor`): a base pair
    dies if ANY entry touches its ``_pk_l`` or ``_pk_r``; an entry's
    added pair dies if a LATER entry touches either key (its
    replacement, if still live, is in that later entry's adds). This
    seq-fold also makes crash replays idempotent: a redelivered batch
    (entry renamed, mark not advanced) appends a duplicate entry whose
    touch-sets kill the earlier copy's adds — the reader sees each
    pair once, whichever entry it came from.

    Commit = the entry dir's ``rewrite_dir``, then the root mark's
    ``write_json``. Convergence, not atomicity, as everywhere else.
    """
    base_dir, log_dir = _mor_dirs(state_dir)
    os.makedirs(log_dir, exist_ok=True)
    recover_swap(base_dir)  # a crashed compaction's half-swap
    num_buckets = _mor_base_buckets(base_dir, num_buckets)

    high = joinview_mor_high_water(state_dir)
    fresh = env_batch.filter(F.col("event_index") > high)
    mx = fresh.agg(F.max("event_index")).collect()[0][0]
    if mx is None:
        return

    ch_l = _side_changes(fresh, left_table, pk_left).localCheckpoint(eager=True)
    ch_r = _side_changes(fresh, right_table, pk_right).localCheckpoint(eager=True)

    def commit_mark() -> None:
        write_json(os.path.join(state_dir, _META), {"max_event_index": int(mx)})

    if ch_l.isEmpty() and ch_r.isEmpty():
        commit_mark()
        return

    data_schema = _SIDE_SCHEMA + ", sb int"

    # effective log per side = committed entries ∪ THIS batch, LWW'd
    eff_l = _collapse_lww(
        _mor_log_side(spark, state_dir, "chl").drop("seq").unionByName(ch_l)
    ).localCheckpoint(eager=True)
    eff_r = _collapse_lww(
        _mor_log_side(spark, state_dir, "chr").drop("seq").unionByName(ch_r)
    ).localCheckpoint(eager=True)

    def base_rows(which: str, key: str) -> DataFrame:
        return _read_bucketed(
            spark, os.path.join(base_dir, which), data_schema
        ).select(
            "_pk",
            F.element_at("row", key).alias("jk"),
            "row",
            F.lit(False).alias("is_delete"),
            "event_index",
            "sb",
        )

    def with_jk(df: DataFrame, key: str) -> DataFrame:
        return df.select(
            "_pk", F.element_at("row", key).alias("jk"), "row",
            "is_delete", "event_index",
        )

    def fold_live(parts: "list[DataFrame]") -> DataFrame:
        """LWW over (pk, row, is_delete, event_index) frames → live
        rows with jk recomputed by the caller's projection."""
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return (
            _collapse_lww(u.select("_pk", "row", "is_delete", "event_index"))
            .filter(~F.col("is_delete"))
            .select("_pk", "row", "event_index")
        )

    def current_rows_of(which, key, eff, t):
        """Live rows of the touched pks: base (sb-pruned) ∪ effective
        log, folded."""
        sbs = _distinct_ints(
            t.select(_bucket_of("_pk", num_buckets).alias("sb")), "sb"
        )
        b = _in_buckets(base_rows(which, key), "sb", sbs).join(
            F.broadcast(t), "_pk", "left_semi"
        )
        e = eff.join(F.broadcast(t), "_pk", "left_semi")
        return with_jk(
            fold_live([b.drop("jk", "sb"), e]).withColumn(
                "is_delete", F.lit(False)
            ),
            key,
        ).drop("is_delete")

    def fetch_matching(which, post_name, key, eff, jks: DataFrame) -> DataFrame:
        """Live rows of one side whose jk ∈ jks: base rows routed via
        the base posting ∪ effective-log rows, folded LWW so a log row
        supersedes (or deletes) its base version, then re-filtered on
        the REAL jk."""
        jbs = _distinct_ints(
            jks.select(_bucket_of("jk", num_buckets).alias("jb")), "jb"
        )
        cand = (
            _in_buckets(
                _read_bucketed(
                    spark, os.path.join(base_dir, post_name), _POST_SCHEMA
                ),
                "jb",
                jbs,
            )
            .join(F.broadcast(jks), "jk", "left_semi")
            .select("_pk")
            .distinct()
            .localCheckpoint(eager=True)
        )
        sbs = _distinct_ints(
            cand.select(_bucket_of("_pk", num_buckets).alias("sb")), "sb"
        )
        b = (
            _in_buckets(base_rows(which, key), "sb", sbs)
            .join(cand, "_pk", "left_semi")
            .drop("jk", "sb")
        )
        # log rows for: base-candidate pks (supersede/delete) + rows
        # whose own current jk matches (moved/inserted into the keys)
        e_hit = with_jk(eff, key).join(
            F.broadcast(jks), "jk", "left_semi"
        ).drop("jk")
        e_pk = eff.join(cand, "_pk", "left_semi")
        e = e_hit.unionByName(e_pk).dropDuplicates(["_pk", "event_index"])
        rows = with_jk(
            fold_live([b, e]).withColumn("is_delete", F.lit(False)), key
        ).drop("is_delete")
        return rows.join(F.broadcast(jks), "jk", "left_semi")

    t_l = ch_l.select("_pk").distinct().localCheckpoint(eager=True)
    t_r = ch_r.select("_pk").distinct().localCheckpoint(eager=True)
    del_l = current_rows_of("left", key_left, eff_l, t_l).localCheckpoint(
        eager=True
    )
    del_r = current_rows_of("right", key_right, eff_r, t_r).localCheckpoint(
        eager=True
    )
    jks_l = del_l.select("jk").filter(F.col("jk").isNotNull()).distinct()
    jks_r = del_r.select("jk").filter(F.col("jk").isNotNull()).distinct()

    def pairs(lhs: DataFrame, rhs: DataFrame) -> DataFrame:
        l = lhs.select(
            F.col("_pk").alias("_pk_l"), "jk", F.col("row").alias("row_l")
        )
        r = rhs.select(
            F.col("_pk").alias("_pk_r"),
            F.col("jk").alias("_jk_r"),
            F.col("row").alias("row_r"),
        )
        return l.join(r, l["jk"] == r["_jk_r"]).select(
            "_pk_l", "_pk_r", "jk", "row_l", "row_r"
        )

    add_l = pairs(del_l, fetch_matching("right", "right_jk", key_right, eff_r, jks_l))
    add_r = pairs(
        fetch_matching("left", "left_jk", key_left, eff_l, jks_r).join(
            F.broadcast(t_l), "_pk", "left_anti"
        ),
        del_r,
    )
    adds = add_l.unionByName(add_r)

    entries = _mor_entries(state_dir)
    seq = (entries[-1][0] + 1) if entries else _mor_compacted_through(base_dir) + 1
    entry = os.path.join(log_dir, f"e{seq:08d}")

    def publish(staging: str) -> None:
        ch_l.write.mode("overwrite").parquet(os.path.join(staging, "chl"))
        ch_r.write.mode("overwrite").parquet(os.path.join(staging, "chr"))
        adds.write.mode("overwrite").parquet(os.path.join(staging, "adds"))

    rewrite_dir(entry, publish)
    commit_mark()


def read_joinview_mor(spark: SparkSession, state_dir: str) -> DataFrame:
    """The merge-on-read view: base pairs minus pairs touching any
    logged key, plus each entry's adds minus those a LATER entry
    touches (see the apply's docstring for why this fold is exact and
    replay-idempotent)."""
    base_dir, _ = _mor_dirs(state_dir)
    base = _read_bucketed(
        spark, os.path.join(base_dir, "view"), _VIEW_SCHEMA + ", vb int"
    ).select("_pk_l", "_pk_r", "jk", "row_l", "row_r")
    entries = _mor_entries(state_dir)
    if not entries:
        return base

    def touches(which: str) -> DataFrame:
        return (
            _mor_log_side(spark, state_dir, which)
            .groupBy("_pk")
            .agg(F.max("seq").alias("mseq"))
        )

    m_l = touches("chl").localCheckpoint(eager=True)
    m_r = touches("chr").localCheckpoint(eager=True)
    kept = base.join(
        F.broadcast(m_l.withColumnRenamed("_pk", "_pk_l")), "_pk_l", "left_anti"
    ).join(
        F.broadcast(m_r.withColumnRenamed("_pk", "_pk_r")), "_pk_r", "left_anti"
    )
    adds = None
    for seq, path in entries:
        a = spark.read.schema(_VIEW_SCHEMA).parquet(
            os.path.join(path, "adds")
        ).withColumn("seq", F.lit(seq))
        adds = a if adds is None else adds.unionByName(a)
    live_adds = (
        adds.join(
            F.broadcast(
                m_l.select(F.col("_pk").alias("_pk_l"), F.col("mseq").alias("ml"))
            ),
            "_pk_l",
            "left",
        )
        .join(
            F.broadcast(
                m_r.select(F.col("_pk").alias("_pk_r"), F.col("mseq").alias("mr"))
            ),
            "_pk_r",
            "left",
        )
        .filter(
            (F.coalesce(F.col("ml"), F.lit(-1)) <= F.col("seq"))
            & (F.coalesce(F.col("mr"), F.lit(-1)) <= F.col("seq"))
        )
        .select("_pk_l", "_pk_r", "jk", "row_l", "row_r")
    )
    return kept.unionByName(live_adds)


def compact_joinview_mor(
    spark: SparkSession,
    state_dir: str,
    key_left: str,
    key_right: str,
    num_buckets: int = 16,
) -> None:
    """Fold the log into ``base/`` (the amortized COW the apply defers):
    materialize the folded sides and view, write a fresh bucketed base
    (data partitioned on pk bucket, postings on jk bucket, view on
    ``_pk_l`` bucket) through ``rewrite_dir`` — the compaction marker
    ``_compact.json`` rides the swap as meta — then delete the folded
    entries. A crash after the swap leaves stale entries the marker
    makes every reader skip (and the next apply/compaction delete);
    a crash before it leaves the old base + full log, and the next
    compaction simply redoes the fold. ``key_left``/``key_right`` must
    be the same join keys every apply used (they rebuild the postings
    the routed fetches prune on)."""
    import shutil

    base_dir, _ = _mor_dirs(state_dir)
    entries = _mor_entries(state_dir)
    if not entries:
        return
    through = entries[-1][0]
    data_schema = _SIDE_SCHEMA + ", sb int"

    view = read_joinview_mor(spark, state_dir).localCheckpoint(eager=True)

    def folded_side(which: str, log_name: str) -> DataFrame:
        b = _read_bucketed(
            spark, os.path.join(base_dir, which), data_schema
        ).select("_pk", "row", "event_index")
        log = _mor_log_side(spark, state_dir, log_name)
        return _merge_side(b, log.drop("seq")).localCheckpoint(eager=True)

    sides = {
        "left": folded_side("left", "chl"),
        "right": folded_side("right", "chr"),
    }

    def fold(staging: str) -> None:
        for which, key in (("left", key_left), ("right", key_right)):
            side = sides[which]
            side.withColumn("sb", _bucket_of("_pk", num_buckets)).repartition(
                F.col("sb")
            ).write.partitionBy("sb").parquet(os.path.join(staging, which))
            post = (
                side.select(
                    F.element_at("row", key).alias("jk"), F.col("_pk")
                )
                .filter(F.col("jk").isNotNull())
                .withColumn("jb", _bucket_of("jk", num_buckets))
            )
            post.repartition(F.col("jb")).write.partitionBy("jb").parquet(
                os.path.join(staging, f"{which}_jk")
            )
        view.withColumn("vb", _bucket_of("_pk_l", num_buckets)).repartition(
            F.col("vb")
        ).write.partitionBy("vb").parquet(os.path.join(staging, "view"))

    rewrite_dir(base_dir, fold, {
        "_compact.json": {
            "through_seq": int(through), "num_buckets": int(num_buckets)
        },
    })
    for seq, path in entries:
        shutil.rmtree(path, ignore_errors=True)
