"""Structured-Streaming CDC pipeline: change stream → envelopes → routed
multi-sink fan-out → upsert materialization.

Reference architecture being re-expressed (jilieryuyi/wing-binlog-go):

- fan-out multicast: every event to every registered service
  (handler.go:81-98) → ONE ``foreachBatch`` writing N routes, sharing the
  checkpointed source so all sinks see identical batches (O13); the
  routes of a batch run concurrently, as each reference service sends
  from its own goroutines (``route_batch``).
- per-route regex filters (service/util.go:9-22, O12) → compiled
  ``rlike`` predicates per route.
- checkpoint/restart: pos cache + O_SYNC (handler.go:216-260, O11) →
  Structured Streaming offset/commit log; the event_index base is stored
  per batch_id so a replayed batch reproduces identical indexes instead
  of re-counting (the reference can duplicate indexes on crash replay —
  readme.md:54 adjacent caveat; we cannot).
- delivery: at-least-once with idempotent sinks keyed on event_index ⇒
  effectively-once (O19); the parquet upsert materializer (O25/S8)
  applies last-writer-wins by event_index. On a production lakehouse the
  materializer is a Delta/Iceberg MERGE; plain parquet keeps this
  self-contained and dependency-free.

Scale notes: envelope shaping is a map stage; the only shuffle per batch
is the event_index row_number (one global sort of the micro-batch — the
batch, not the table) and per-PK dedupe in the materializer. Routes add
filters, not shuffles.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wing_binlog_go_spark.functions.envelope import (
    match_filters,
    to_envelopes_counted,
)
from wing_binlog_go_spark.sources.changelog import stream_changelog
from wing_binlog_go_spark.streaming.maintenance import (  # noqa: F401
    _bucket_manifest_path,  # re-exported at its historical import path
    _commit_lock,  # re-exported at its historical import path
    recover_bucket_commit,
    recover_bucket_swaps,
    recover_swap,
    rewrite_buckets,
    rewrite_dir,
    write_json,
)


@dataclass
class Route:
    """A named sink with reference filter semantics (empty ⇒ match-all)."""

    name: str
    writer: Callable[[DataFrame, int], None]
    filters: list[str] = field(default_factory=list)


class IndexState:
    """event_index continuity across micro-batches and restarts.

    Maps batch_id → base index, JSON on disk next to the checkpoint
    (the engine's analog of the reference's pos cache, util.go:11-57).
    Replayed batch ⇒ same base ⇒ identical event_index values.
    """

    def __init__(self, path: str):
        self.path = path

    def _load(self) -> dict:
        if os.path.exists(self.path):
            with open(self.path) as f:
                return json.load(f)
        return {"next": 0, "batches": {}}

    def base_for(self, batch_id: int, n_rows: int) -> int:
        state = self._load()
        key = str(batch_id)
        if key in state["batches"]:
            return state["batches"][key]
        base = state["next"]
        state["batches"][key] = base
        state["next"] = base + n_rows
        # only recent batches can replay — prune older entries so the
        # state file stays O(1) instead of growing with stream lifetime
        state["batches"] = {
            k: v for k, v in state["batches"].items() if int(k) >= batch_id - 10
        }
        write_json(self.path, state)
        return base


_AFTER_EARLIER_ROUTES = "_after_earlier_routes"


def after_earlier_routes(writer: Callable) -> Callable:
    """Mark a route writer that reads what an earlier route of the same
    batch committed (the SCD2 history, the upsert replica): it starts
    only after every route listed before it has returned. Unmarked
    routes of a batch run concurrently. The mark is an attribute, so a
    wrapper made with ``functools.wraps`` keeps it."""
    setattr(writer, _AFTER_EARLIER_ROUTES, True)
    return writer


def _run_concurrently(calls: list[tuple[Callable[[], None], bool]]) -> None:
    """Run ``(call, after_earlier)`` pairs one thread each, except the
    last call, which runs in the calling thread (so a single call starts
    no thread at all). A call flagged ``after_earlier`` starts once
    every call before it has returned, and not at all if one of them
    failed. Threads are ``InheritableThread``s, so every Spark job still
    runs under the stream thread's local properties (the query's job
    group). Returns only when every started call has returned, then
    raises the first failure in list order: no thread of a failed
    attempt is still writing when the batch is replayed."""
    errors: list[BaseException | None] = [None] * len(calls)
    threads: list[InheritableThread] = []

    def run(i: int, call: Callable[[], None]) -> None:
        try:
            call()
        except BaseException as e:  # noqa: BLE001 - re-raised by the caller
            errors[i] = e

    for i, (call, after_earlier) in enumerate(calls):
        if after_earlier:
            for t in threads:
                t.join()
            if any(errors):
                break
        if i == len(calls) - 1:
            run(i, call)
        else:
            t = InheritableThread(target=run, args=(i, call))
            t.start()
            threads.append(t)
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e


def route_batch(env: DataFrame, routes: list[Route], batch_id: int) -> None:
    """Write one batch to every route (see ``_run_concurrently``): each
    route sees the batch through its own filters, and a route marked
    ``after_earlier_routes`` sees what the routes before it committed."""
    _run_concurrently([
        (
            lambda r=r: r.writer(
                env.filter(match_filters("full_table", r.filters)), batch_id
            ),
            getattr(r.writer, _AFTER_EARLIER_ROUTES, False),
        )
        for r in routes
    ])


def run_pipeline(
    spark: SparkSession,
    changelog_dir: str,
    routes: list[Route],
    checkpoint_dir: str,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    available_now: bool = True,
    source: str = "files",
    txn_atomic: bool = False,
    max_files_per_trigger: int = 10,
    dead_letter_dir: str | None = None,
):
    """Start the CDC pipeline; returns the StreamingQuery.

    include/exclude are the reference's table allow/deny regexes (O6),
    applied before envelope shaping — the cheap-early-filter the
    reference applies before row decode (canal.go:283-288).

    ``source`` selects the ingest path over the same CHANGE_SCHEMA:
    "files" = JSON file stream (default), "binlog" = the custom Python
    DataSource with (file, pos, row) offsets (sources.binlog).

    ``max_files_per_trigger`` bounds micro-batch size for the files
    source (the reference's bounded-queue backpressure analog, O18).
    Profiling at 100k-event batches puts ~0.3 s of per-batch fixed cost
    (job scheduling, range-boundary sampling, offset commit) against
    ~1.4 s of data-proportional work — larger batches amortize the
    fixed part, at the cost of per-event latency; tune to the
    latency/throughput point the deployment needs.

    ``dead_letter_dir`` captures malformed change records instead of
    letting them corrupt envelopes: rows missing their binlog
    coordinates or carrying an unknown action (including the all-NULL
    rows Spark's PERMISSIVE JSON mode produces for unparseable lines)
    are appended there as parquet tagged with the batch id, and only
    valid rows continue into shaping. The reference logs-and-drops bad
    input (handler.go error paths); a dead-letter table is the
    no-silent-caps version — every excluded record is queryable.
    Default None preserves pass-through behavior.

    ``txn_atomic`` inserts the transaction gate (streaming/txn.py):
    every batch the routes see is transaction-closed — no consumer ever
    observes half a transaction (exceeds the reference, which pushes
    per-event). The gate sits BEFORE the include/exclude filters: the
    commit marker rides on whatever table the transaction touched last,
    and filtering first could strand a multi-table transaction whose
    committing row belongs to an excluded table.
    """
    state = IndexState(os.path.join(checkpoint_dir, "event_index.json"))
    if source == "binlog":
        from wing_binlog_go_spark.sources.binlog import BinlogDataSource

        spark.dataSource.register(BinlogDataSource)
        changes = (
            spark.readStream.format("binlog").option("path", changelog_dir).load()
        )
    elif source == "files":
        changes = stream_changelog(spark, changelog_dir, max_files=max_files_per_trigger)
    else:
        raise ValueError(f"unknown source {source!r}; expected 'files' or 'binlog'")
    if txn_atomic:
        from wing_binlog_go_spark.streaming.txn import txn_gate

        changes = txn_gate(changes)
    if include or exclude:
        pre = F.concat_ws(".", "database", "table")
        changes = changes.filter(match_filters(pre, include or []))
        if exclude:
            changes = changes.filter(~match_filters(pre, exclude))

    _valid = (
        F.col("binlog_file").isNotNull()
        & F.col("binlog_pos").isNotNull()
        & F.col("action").isin("insert", "update", "delete", "ddl")
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # Single-pass shaping: the envelope's dense-index build already
        # materializes the batch once (range shuffle + localCheckpoint)
        # and collects per-partition counts, so the batch row count —
        # needed to reserve this batch's event_index range — falls out
        # of that same job via the callable base. No separate count()
        # job, no second parse of the source.
        #
        # persist() still matters: repartitionByRange runs a sampling
        # job over the input to pick range boundaries before the
        # shuffle job; the cache fills during sampling so the JSON
        # parse happens once, not twice.
        batch_df.persist()
        shaped = batch_df
        try:
            if dead_letter_dir is not None:
                bad = batch_df.filter(~F.coalesce(_valid, F.lit(False)))
                if not bad.isEmpty():
                    # per-batch partition dir, overwritten in place: a
                    # replayed batch rewrites the same records instead
                    # of appending duplicates (idempotent like every
                    # other sink here)
                    bad.write.mode("overwrite").parquet(
                        os.path.join(dead_letter_dir, f"batch_id={batch_id}")
                    )
                shaped = batch_df.filter(F.coalesce(_valid, F.lit(False)))
            # size the index build's range shuffle to the BATCH, not the
            # table default: a ~100k-event micro-batch sorted across 32
            # tiny tasks pays more in scheduling than sorting (measured:
            # the whole two-phase build 1209 → 681 ms at the bench's
            # 10-file batch). Input partition count tracks batch bytes
            # (maxPartitionBytes), so it is the right proxy; clamp to
            # the session default so a huge replay batch still spreads.
            _np = max(2, min(
                int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
                shaped.rdd.getNumPartitions(),
            ))
            env, n = to_envelopes_counted(
                shaped,
                index_base=lambda total: state.base_for(batch_id, total),
                num_partitions=_np,
            )
            if n == 0:
                return
            # env reads from the dense-index localCheckpoint — each
            # route's pass is a cheap projection, no persist needed.
            route_batch(env, routes, batch_id)
        finally:
            batch_df.unpersist()

    writer = (
        changes.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    if txn_atomic and available_now:
        # without this the gate's ProcessingTimeTimeout keeps the
        # availableNow run constructing empty micro-batches forever
        # (see gate_drain_conf) — the drain would never terminate
        from wing_binlog_go_spark.streaming.txn import gate_drain_conf

        with gate_drain_conf(spark):
            return writer.start()
    return writer.start()


# ---------------------------------------------------------------------------
# Upsert materializer (O25 PK extraction + S8 CDC materialization)
# ---------------------------------------------------------------------------


def _pk_key(img, pk_cols: list[str]):
    """Injective string key over PK components of a map image.

    Each component is tagged ``n`` (NULL) or ``v<len>:<value>`` — the
    null tag and the length prefix make the encoding injective, so
    ('1', NULL) vs ('1', '') cannot collide and a separator byte inside
    a value cannot re-align component boundaries.
    """
    parts = []
    for c in pk_cols:
        v = F.element_at(img, c)
        parts.append(
            F.when(v.isNull(), F.lit("n")).otherwise(
                F.concat(F.lit("v"), F.length(v).cast("string"), F.lit(":"), v)
            )
        )
    return F.concat_ws("\x1f", *parts)


def pk_str(*values) -> str:
    """Python-side mirror of ``_pk_key``'s encoding (tests/debugging)."""
    return "\x1f".join(
        "n" if v is None else f"v{len(str(v))}:{v}" for v in values
    )


def _change_events(env: DataFrame) -> DataFrame:
    """The row-change envelopes of a batch (DDL events carry no row)."""
    return env.filter(F.col("event_type").isin("insert", "update", "delete"))


def _no_change_for(env: DataFrame, table_dir: str) -> bool:
    """The empty-batch guard of the flat writers: ``table_dir`` exists
    and the batch has no change rows for it. A multi-table route calls
    a writer once per registered table per micro-batch, and a table
    with no events must not pay a read-and-rewrite of its accumulated
    state. Probes the envelopes (a limit-1 scan), not the merge input,
    so the guard runs no shuffle."""
    return os.path.exists(table_dir) and _change_events(env).isEmpty()


def change_rows_per_pk(env: DataFrame, pk: str | list[str] = "id") -> DataFrame:
    """Every change event keyed by primary key: one row per
    insert/update/delete envelope → (_pk, row, is_delete, event_index).

    ``pk`` may be a single column or a composite key list (injective
    encoding via ``_pk_key``). A MySQL UPDATE may change the PK itself
    (canal delivers it as one before/after row pair, rows.go:17-27); for
    those events an extra tombstone is emitted under the OLD key at the
    same event_index, so the old logical row always sees a terminating
    event. This is the shared uncollapsed form: ``latest_image_per_pk``
    collapses it last-writer-wins for the replica;
    ``scd2_upsert_parquet`` keeps every version for the history table.
    """
    pk_cols = [pk] if isinstance(pk, str) else list(pk)
    img = (
        F.when(F.col("event_type") == "update", F.col("event.new_data"))
        .when(F.col("event_type") == "insert", F.col("event.data"))
        .otherwise(F.col("event.data"))  # delete: the removed row
    )
    key = _pk_key(img, pk_cols)
    changes = _change_events(env)
    rows = changes.select(
        key.alias("_pk"),
        img.alias("row"),
        (F.col("event_type") == "delete").alias("is_delete"),
        F.col("event_index"),
    )
    old_key = _pk_key(F.col("event.old_data"), pk_cols)
    pk_moves = (
        changes.filter(F.col("event_type") == "update")
        # a foreign feed may omit the before-image entirely; without it
        # there is no old key to tombstone (and the all-NULL key would
        # otherwise produce a phantom tombstone row)
        .filter(F.col("event.old_data").isNotNull())
        .filter(~old_key.eqNullSafe(key))
        .select(
            old_key.alias("_pk"),
            F.col("event.old_data").alias("row"),
            F.lit(True).alias("is_delete"),
            F.col("event_index"),
        )
    )
    return rows.unionByName(pk_moves)


def _collapse_lww(rows: DataFrame) -> DataFrame:
    """THE last-writer-wins rule: one (row, is_delete, event_index)
    winner per _pk by max event_index. Every LWW collapse in this
    module goes through here — the winner rule (and any future
    tie-break change) must never diverge between the batch collapse
    and the two table merges."""
    return (
        rows.groupBy("_pk")
        .agg(
            F.max_by(
                F.struct("row", "is_delete", "event_index"), "event_index"
            ).alias("w")
        )
        .select("_pk", "w.row", "w.is_delete", "w.event_index")
    )


def latest_image_per_pk(env: DataFrame, pk: str | list[str] = "id") -> DataFrame:
    """Newest row image (or tombstone) per primary key in the batch —
    ``change_rows_per_pk`` collapsed last-writer-wins by event_index."""
    return _collapse_lww(change_rows_per_pk(env, pk))


def _lww_merge(updates: DataFrame, table_dir: str) -> DataFrame:
    """The replica merge rule, shared by the flat and bucketed writers:
    the stored rows at ``table_dir`` (if any) ∪ the batch's winners,
    collapsed last-writer-wins, tombstones dropped."""
    if os.path.exists(table_dir):
        # the stored schema is the batch's: no schema-inference job
        current = updates.sparkSession.read.schema(updates.schema).parquet(table_dir)
        updates = _collapse_lww(
            current.select("_pk", "row", "is_delete", "event_index").unionByName(
                updates
            )
        )
    return updates.filter(~F.col("is_delete"))


def upsert_parquet(
    env: DataFrame, target_dir: str, pk: str | list[str] = "id"
) -> None:
    """Apply a batch of envelopes to a parquet table, last-writer-wins by
    event_index; idempotent under replay (re-applying the same envelopes
    yields the same table). Commits through ``maintenance.rewrite_dir``,
    so a crash never leaves a half-written or deleted table. Production:
    Delta ``MERGE INTO t USING u ON t.pk = u.pk WHEN MATCHED ... WHEN
    NOT MATCHED INSERT`` — same keys, same winner rule.
    """
    recover_swap(target_dir)
    if _no_change_for(env, target_dir):
        return
    rewrite_dir(target_dir, _lww_merge(latest_image_per_pk(env, pk), target_dir))


def _scd2_rows(env: DataFrame, pk: str | list[str]) -> DataFrame:
    return change_rows_per_pk(env, pk).withColumnRenamed(
        "event_index", "valid_from_index"
    )


def scd2_upsert_parquet(
    env: DataFrame, target_dir: str, pk: str | list[str] = "id"
) -> None:
    """Apply a batch of envelopes to an SCD Type-2 dimension-history
    table: instead of last-writer-wins (``upsert_parquet``), EVERY
    change event opens a version row and closes its predecessor —
    the "slowly changing dimension" consumer of the CDC stream
    (the reference leaves this to downstream consumers,
    readme.md:40-43; ours materializes it).

    Stored schema: (_pk, row, is_delete, valid_from_index,
    valid_to_index, is_current) where the version ordinate is the
    deterministic dense ``event_index`` (replay-stable by the O10
    contract, so re-applied batches re-derive byte-identical
    versions). valid_to_index / is_current are recomputed from the
    merged open-form rows on every write: a version's end is simply
    the NEXT version's start under the same key, which makes the merge
    a union + (_pk, valid_from_index) dedupe — idempotent under
    at-least-once replay by construction. Delete events store a
    tombstone version (is_delete, row = the removed image) so the
    history records WHEN the key vanished; a tombstone tail is never
    is_current.

    Scale: the per-key window is keyed on _pk (real cardinality — each
    key's history is short, never a calendar or a global sort) and the
    commit is ``maintenance.rewrite_dir``, like ``upsert_parquet``. At
    100 TB the bucketed form (``scd2_upsert_parquet_bucketed``) applies
    (only buckets with affected keys rewrite); closed versions of
    untouched keys are immutable so a production layout would
    additionally tier them into append-only closed-history partitions.
    """
    recover_swap(target_dir)
    if _no_change_for(env, target_dir):
        return
    rewrite_dir(target_dir, _scd2_merge(_scd2_rows(env, pk), target_dir))


def _scd2_merge(fresh: DataFrame, table_dir: str) -> DataFrame:
    """The history merge rule, shared by the flat and bucketed writers:
    stored open-form rows at ``table_dir`` (if any) ∪ the batch's
    change rows → closed SCD2 versions.

    Replay dedupe: a re-delivered event re-derives the identical
    (_pk, valid_from_index) version, so the tie-break is a pure
    tie-keep.  Break ties on the CONTENT (sorted map entries +
    is_delete, a total order) rather than the constant
    valid_from_index, so if a feed ever violates the O10 contract and
    delivers two DIFFERENT images at one (pk, event_index), the stored
    version is still deterministic across replays instead of an
    arbitrary partition-order pick.  Version closing keys on _pk (real
    cardinality, short per-key history — never a global sort)."""
    merged = fresh
    if os.path.exists(table_dir):
        merged = (
            fresh.sparkSession.read.schema(fresh.schema).parquet(table_dir)
            .select("_pk", "row", "is_delete", "valid_from_index")
            .unionByName(fresh)
        )
    open_form = (
        merged.withColumn(
            "_w",
            F.struct(
                F.array_sort(F.map_entries("row")).alias("entries"),
                F.col("is_delete").alias("is_delete"),
            ),
        )
        .groupBy("_pk", "valid_from_index")
        .agg(F.max("_w").alias("w"))
        .select(
            "_pk",
            "valid_from_index",
            F.map_from_entries("w.entries").alias("row"),
            F.col("w.is_delete").alias("is_delete"),
        )
    )
    w = Window.partitionBy("_pk").orderBy("valid_from_index")
    return (
        open_form.withColumn("valid_to_index", F.lead("valid_from_index").over(w))
        .withColumn(
            "is_current",
            F.col("valid_to_index").isNull() & ~F.col("is_delete"),
        )
        .withColumn("version_n", F.row_number().over(w))
    )


def _rewrite_buckets(
    target_dir: str,
    rows: DataFrame,
    num_buckets: int,
    merge: Callable[[DataFrame, str], DataFrame],
    buckets: "list[int] | None" = None,
) -> None:
    """THE bucketed-writer driver: ``rows`` (keyed by ``_pk``) are
    bucketed by pmod(xxhash64(_pk), B) — deterministic, so replays hit
    the same buckets and idempotence holds per bucket — and every
    bucket they touch (or every listed one) is rewritten to
    ``merge(bucket's rows, bucket dir)`` through the manifest commit
    (``maintenance.rewrite_buckets``). Every key's whole history lives
    in exactly one bucket, so a per-key merge rule is exact per bucket.
    An empty batch stages nothing and writes no manifest."""
    bucket = F.pmod(F.xxhash64(F.col("_pk")), F.lit(num_buckets)).cast("int")
    rows = rows.withColumn("_bucket", bucket)
    if buckets is not None:
        rows = rows.filter(F.col("_bucket").isin(list(buckets)))
    # persist: the distinct-buckets collect AND every per-bucket filter
    # read this; without it each pass recomputes the full aggregation
    rows = rows.persist()
    try:
        if buckets is None:
            buckets = [r._bucket for r in rows.select("_bucket").distinct().collect()]
        rewrite_buckets(
            target_dir,
            buckets,
            lambda b, bdir: merge(
                rows.filter(F.col("_bucket") == b).drop("_bucket"), bdir
            ),
        )
    finally:
        rows.unpersist()


def upsert_parquet_bucketed(
    env: DataFrame, target_dir: str, pk: str | list[str] = "id", num_buckets: int = 16
) -> None:
    """Bucket-pruned upsert: the MERGE cost model on plain parquet.

    The table is stored as hash(pk)-bucketed subdirectories
    (``bucket=N/``); a batch only reads and rewrites the buckets that
    contain changed keys, so per-batch IO is O(changed buckets), not
    O(table) — the same reason Delta MERGE + clustering touches few
    files. With uniform keys and B buckets, a batch touching k keys
    rewrites ≈ min(k, B)/B of the table. Same merge rule as
    ``upsert_parquet``; multi-bucket commits are atomic-on-recovery
    (``maintenance.rewrite_buckets``).
    """
    _rewrite_buckets(
        target_dir, latest_image_per_pk(env, pk), num_buckets, _lww_merge
    )


def repair_buckets(
    spark: SparkSession,
    target_dir: str,
    snapshot_env: DataFrame,
    pk: str | list[str] = "id",
    buckets: "list[int] | None" = None,
    num_buckets: int = 16,
) -> None:
    """Rewrite diverged buckets of a bucketed replica WHOLESALE from a
    fresh source snapshot — the repair step after `operators.stats.
    checksum_diff` run with ``chunk = pmod(xxhash64(_pk), B)`` (chunk
    == bucket, so the diff's worklist is exactly ``buckets``).

    Unlike ``upsert_parquet_bucketed`` (which MERGES — a stale phantom
    row the snapshot no longer contains would survive a merge), each
    listed bucket's content is REPLACED by the snapshot's rows for that
    bucket; rows carry the snapshot's event_index, so later CDC events
    still win by the last-writer rule and replayed older events cannot
    resurrect. Untouched buckets are never read or written. Commit =
    ``maintenance.rewrite_buckets``, like the upsert.
    """
    if not buckets:
        return
    _rewrite_buckets(
        target_dir,
        latest_image_per_pk(snapshot_env, pk),
        num_buckets,
        lambda fresh, _bdir: fresh.filter(~F.col("is_delete")),
        buckets=list(buckets),
    )


def scd2_vacuum(
    spark: SparkSession, target_dir: str, retain_from_index: int
) -> dict:
    """Retention for the ever-growing SCD2 history (the ADVICE-r5
    growth concern's other half): drop versions CLOSED before
    ``retain_from_index``. A version survives iff it is current, still
    open, or its ``valid_to_index`` >= the horizon — so point-in-time
    queries at or after the horizon are unaffected, and each key's
    remaining chain stays contiguous (vacuum removes only a PREFIX of
    the chain; every surviving version's successor survives with it,
    which keeps the writers' per-key valid_to/is_current recomputation
    correct on later batches — test-asserted by upserting after a
    vacuum).

    Works on both layouts: flat (``maintenance.rewrite_dir``) and
    bucketed (``maintenance.rewrite_buckets``; only buckets actually
    holding expired versions rewrite). Returns
    {"kept": n, "dropped": n}.
    """
    keep = (
        F.col("is_current")
        | F.col("valid_to_index").isNull()
        | (F.col("valid_to_index") >= retain_from_index)
    )
    counts = {"kept": 0, "dropped": 0}

    def expire(table_dir: str) -> "DataFrame | None":
        """Survivors of ``table_dir``, or None when nothing expired
        there (never rewrite a table the vacuum leaves unchanged)."""
        cur = spark.read.parquet(table_dir)
        n_all = cur.count()
        survivors = cur.filter(keep).localCheckpoint(eager=True)
        n_keep = survivors.count()
        counts["kept"] += n_keep
        counts["dropped"] += n_all - n_keep
        return None if n_keep == n_all else survivors

    if glob.glob(os.path.join(target_dir, "bucket=*")):
        rewrite_buckets(target_dir, None, lambda _b, bdir: expire(bdir))
    else:
        recover_swap(target_dir)
        survivors = expire(target_dir)
        if survivors is not None:
            rewrite_dir(target_dir, survivors)
    return counts


def scd2_upsert_parquet_bucketed(
    env: DataFrame, target_dir: str, pk: str | list[str] = "id", num_buckets: int = 16
) -> None:
    """Bucket-pruned SCD Type-2 history writer: the scale form of
    ``scd2_upsert_parquet`` (ADVICE r5) — history is stored as
    hash(pk)-bucketed subdirectories and a batch only re-reads and
    rewrites the buckets whose keys actually changed, so per-batch IO
    is O(changed buckets' history), not O(total history). Closed
    versions of untouched keys sit in untouched buckets and are never
    rewritten. Same merge rule as ``scd2_upsert_parquet`` and same
    commit as ``upsert_parquet_bucketed``; read back with
    ``read_bucketed_table``.
    """
    _rewrite_buckets(target_dir, _scd2_rows(env, pk), num_buckets, _scd2_merge)


def read_bucketed_table(spark: SparkSession, target_dir: str) -> DataFrame:
    """Read a bucketed upsert table; hive-style partition discovery turns
    bucket=N dirs into a prunable `bucket` column. A manifest left by an
    interrupted commit is rolled forward first, so readers never observe
    a lasting mix of old and new buckets; a bucket dir lost mid-swap
    (only its hidden backup on disk — invisible to partition discovery)
    is restored so its rows cannot silently vanish from the read."""
    recover_bucket_commit(target_dir)
    recover_bucket_swaps(target_dir)
    return spark.read.parquet(target_dir).drop("bucket")


def upsert_delta(
    env: DataFrame, target_path: str, pk: str | list[str] = "id"
) -> None:
    """The production form of ``upsert_parquet``: Delta ``MERGE INTO``
    on the same injective key and last-writer-wins rule — per-batch IO
    is O(touched files) via Delta's file-level pruning instead of the
    plain-parquet full rewrite, and concurrent readers get snapshot
    isolation from the commit log instead of the rename-swap protocol.

    Import-gated: delta-spark is not in this environment, so the writer
    raises loudly at call time (same pattern as the MySQL and protobuf
    hooks); ``tests/test_streaming.py`` skip-gates the e2e on the same
    probe and activates the day the dependency appears. The session
    must be built with the Delta SQL extension + catalog configs.

    Semantics parity with ``upsert_parquet`` (both reduce the batch with
    ``latest_image_per_pk`` first, so PK-moving updates tombstone the
    old key and replay is idempotent):

    - matched + newer event_index + tombstone → DELETE
    - matched + newer event_index → UPDATE row image
    - not matched + not tombstone → INSERT
    """
    try:
        from delta.tables import DeltaTable
    except ImportError as e:  # pragma: no cover - env-dependent
        raise ImportError(
            "upsert_delta requires the delta-spark package; use "
            "upsert_parquet (same semantics, staged-swap commit) instead"
        ) from e

    spark = env.sparkSession
    updates = latest_image_per_pk(env, pk)
    if not DeltaTable.isDeltaTable(spark, target_path):
        updates.filter(~F.col("is_delete")).write.format("delta").mode(
            "overwrite"
        ).save(target_path)
        return
    tgt = DeltaTable.forPath(spark, target_path)
    (
        tgt.alias("t")
        .merge(updates.alias("u"), "t._pk = u._pk")
        .whenMatchedDelete("u.is_delete AND u.event_index >= t.event_index")
        .whenMatchedUpdateAll("NOT u.is_delete AND u.event_index >= t.event_index")
        .whenNotMatchedInsertAll("NOT u.is_delete")
        .execute()
    )
