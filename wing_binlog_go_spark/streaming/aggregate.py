"""Incremental aggregate materialization over the CDC envelope stream.

The reference's stated purpose is feeding "Realtime analytics"
consumers (`readme.md:40-43`) — every such consumer ends up maintaining
per-key aggregates from the change stream. This module is that consumer
as an engine operator: (group → SUM(value), COUNT(*)) kept current from
insert/update/delete envelopes WITHOUT recomputing the base table.

Delta semantics per envelope (`src/library/binlog/handler.go:113-184`
event shapes):

- insert: +value, +1 on the row's group;
- delete: −value, −1 on the row's group;
- update: −old on the OLD group and +new on the NEW group — two deltas,
  so updates that move a row between groups converge (the aggregate
  analog of the PK-move tombstone in the upsert materializer).

Effectively-once under at-least-once replay: deltas are NOT naturally
idempotent, so the state records the max ``event_index`` applied and
each batch first drops rows at or below it. ``event_index`` is
deterministic under replay (derived from binlog coordinates — O10), so
a replayed batch re-derives exactly the indexes already applied and
contributes nothing. State commits through `maintenance.rewrite_dir`,
like compaction: readers never observe a half-applied batch, and a
crash between renames recovers.

Scale shape: each batch touches O(|batch| + |distinct groups|) rows —
the delta aggregation is a partial-agg groupBy on the group key and the
merge is a full-outer join against the state table keyed the same way.
At 100 TB of base data the state table is |groups|-sized, not
|rows|-sized; for billion-group keys swap the plain parquet state for
the bucketed upsert layout so the merge prunes to changed buckets.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wing_binlog_go_spark.streaming.maintenance import recover_swap, rewrite_dir
from wing_binlog_go_spark.streaming.pipeline import after_earlier_routes

_META = "_agg_meta.json"


def _fresh_inserts(env_batch: DataFrame, state_dir: str, op_name: str, cannot: str):
    """Front half of the commit protocol shared by every INSERT-ONLY
    sketch maintainer (HLL / KLL / Misra-Gries / Theta): roll an
    interrupted swap forward, drop rows at or below the replay
    high-water mark, and refuse non-insert envelopes loudly.  Returns
    (fresh, max_event_index) or None when the batch holds nothing new.
    A fix to the replay/insert-only rules lands HERE, once — divergent
    copies of this protocol would silently break exactly-once replay
    for whichever maintainer missed the fix."""
    recover_swap(state_dir)
    high = applied_index(state_dir)
    fresh = env_batch.filter(F.col("event_index") > high)
    # DDL envelopes carry no row image: an ALTER on the maintained
    # table must advance the high-water mark and be skipped, not raise
    # — raising would replay the same batch on every restart and wedge
    # the route forever on ordinary DDL. One aggregation answers the
    # high-water mark AND the insert-only probe (was two jobs).
    probe = fresh.agg(
        F.max("event_index").alias("mx"),
        F.max(
            F.when(
                ~F.col("event_type").isin("insert", "alter"),
                F.col("event_type"),
            )
        ).alias("bad"),
    ).collect()[0]
    if probe["mx"] is None:
        return None
    if probe["bad"] is not None:
        raise ValueError(f"{op_name} is insert-only: {cannot}")
    return fresh.filter(F.col("event_type") == "insert"), probe["mx"]


def _commit_state(merged: DataFrame, state_dir: str, mx: int) -> None:
    """Back half of the maintainer commit protocol: the new state and
    its high-water mark commit together through ``rewrite_dir`` (the
    mark rides the swap as meta)."""
    rewrite_dir(state_dir, merged, {_META: {"max_event_index": int(mx)}})


def _grp_values(fresh: DataFrame, group_key: str, value_field: str, cast: str | None = None) -> DataFrame:
    """INSERT images → (grp, v) rows (NULL group → sentinel, NULL /
    uncastable values dropped)."""
    data = F.col("event.data")
    v = F.element_at(data, value_field)
    if cast:
        v = v.cast(cast)
    return fresh.select(
        F.coalesce(F.element_at(data, group_key), F.lit("\x00null\x00")).alias(
            "grp"
        ),
        v.alias("v"),
    ).filter(F.col("v").isNotNull())


def _sketch_maintain(
    spark: SparkSession,
    env_batch: DataFrame,
    state_dir: str,
    group_key: str,
    value_field: str,
    op_name: str,
    cannot: str,
    agg_expr,
    merge_fn,
    cast: str | None = None,
) -> None:
    """The whole maintainer for the (grp, sketch) state shape: batch
    deltas fold into one sketch per group (``agg_expr`` over column
    ``v``), which merges into the state via ``merge_fn`` — the only
    parts that differ between HLL / KLL / Theta."""
    got = _fresh_inserts(env_batch, state_dir, op_name, cannot)
    if got is None:
        return
    fresh, mx = got
    deltas = (
        _grp_values(fresh, group_key, value_field, cast)
        .groupBy("grp")
        .agg(agg_expr.alias("d_sketch"))
    )
    if os.path.exists(state_dir):
        state = spark.read.parquet(state_dir)
    else:
        state = spark.createDataFrame([], "grp string, sketch binary")
    merged = state.join(deltas, "grp", "full_outer").select(
        "grp",
        F.when(
            F.col("sketch").isNotNull() & F.col("d_sketch").isNotNull(),
            merge_fn(F.col("sketch"), F.col("d_sketch")),
        )
        .otherwise(F.coalesce("d_sketch", "sketch"))
        .alias("sketch"),
    )
    _commit_state(merged, state_dir, mx)


def envelope_deltas(
    env: DataFrame, group_key: str, value_field: str
) -> DataFrame:
    """Envelope rows → (group, d_sum, d_sumsq, d_count) deltas
    (pre-aggregated per group within the batch; map-side partial then
    one shuffle on the group key). The sum-of-squares delta carries
    AVG/variance maintenance: both are algebraic in (sum, sumsq, count)
    and, unlike MIN/MAX, subtract cleanly under deletes."""
    data = F.col("event.data")
    old = F.col("event.old_data")
    new = F.col("event.new_data")

    def _delta(img, sign: int):
        # NULL/missing group keys coalesce to a sentinel: the state merge
        # is a full-outer join on grp, and SQL NULLs never join-match, so
        # un-coalesced NULL groups would append a fresh NULL row per
        # batch instead of accumulating into one.
        return [
            F.coalesce(
                F.element_at(img, group_key), F.lit("\x00null\x00")
            ).alias("grp"),
            (F.lit(sign) * F.element_at(img, value_field).cast("double")).alias(
                "d_sum"
            ),
            (
                F.lit(sign)
                * F.pow(F.element_at(img, value_field).cast("double"), 2)
            ).alias("d_sumsq"),
            F.lit(sign).cast("bigint").alias("d_count"),
            # non-null value count: d_count counts ROWS, but F.sum
            # skipped NULL/uncastable values in d_sum/d_sumsq — deriving
            # AVG/variance from the row count would be silently wrong
            # for any nullable value column ([10, NULL] → avg 5, not 10)
            F.when(
                F.element_at(img, value_field).cast("double").isNotNull(),
                F.lit(sign),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("d_nnull"),
        ]

    ins = env.filter(F.col("event_type") == "insert").select(*_delta(data, 1))
    dele = env.filter(F.col("event_type") == "delete").select(*_delta(data, -1))
    upd_minus = env.filter(F.col("event_type") == "update").select(*_delta(old, -1))
    upd_plus = env.filter(F.col("event_type") == "update").select(*_delta(new, 1))
    return (
        ins.unionByName(dele)
        .unionByName(upd_minus)
        .unionByName(upd_plus)
        .groupBy("grp")
        .agg(
            F.sum("d_sum").alias("d_sum"),
            F.sum("d_sumsq").alias("d_sumsq"),
            F.sum("d_count").alias("d_count"),
            F.sum("d_nnull").alias("d_nnull"),
        )
    )


def _meta_path(state_dir: str) -> str:
    # INSIDE the state dir (underscore-prefixed files are invisible to
    # Spark's file listing, like _SUCCESS): the high-water mark commits
    # in the SAME atomic swap as the data. Meta beside the dir would
    # open a crash window between swap and mark-write where replayed
    # batches double-apply.
    return os.path.join(state_dir.rstrip("/"), _META)


def applied_index(state_dir: str) -> int:
    try:
        with open(_meta_path(state_dir)) as f:
            return int(json.load(f)["max_event_index"])
    except (OSError, ValueError, KeyError):
        return -1


def incremental_agg_apply(
    spark: SparkSession,
    env_batch: DataFrame,
    state_dir: str,
    group_key: str,
    value_field: str,
) -> None:
    """Apply one envelope micro-batch to the aggregate state table.

    Replay-safe: rows with ``event_index`` ≤ the recorded high-water
    mark are dropped before deltas are computed, so re-delivered
    batches (at-least-once sources, crash replays) are no-ops.
    Groups whose count reaches 0 are removed (a fully-deleted group
    disappears, as it would in a batch recompute).

    Storage constraint (same one ``leader.py`` states): ``state_dir``
    must be a POSIX-local or NFS-mounted path reachable by the DRIVER —
    the high-water-mark meta is written with plain ``open()`` into the
    Spark-written staging dir, and the staged-swap commit relies on
    POSIX rename atomicity. On object-store checkpoint storage (s3://,
    abfs://) use a Delta/Iceberg table for the state instead; the HA
    story (O20/O21) assumes drivers share THIS posix path exactly as
    they share the lease file.
    """
    recover_swap(state_dir)
    high = applied_index(state_dir)
    fresh = env_batch.filter(F.col("event_index") > high)
    mx = fresh.agg(F.max("event_index")).collect()[0][0]
    if mx is None:
        return
    deltas = envelope_deltas(fresh, group_key, value_field)

    if os.path.exists(state_dir):
        state = spark.read.parquet(state_dir)
    else:
        state = spark.createDataFrame(
            [],
            "grp string, agg_sum double, agg_sumsq double, "
            "agg_count bigint, agg_nnull bigint",
        )
    for required in ("agg_sumsq", "agg_nnull"):  # older state: fail loudly
        if required not in state.columns:
            raise ValueError(
                f"state table lacks {required} (written by an older "
                "engine); rebuild the aggregate state from the replica"
            )
    merged = (
        state.join(deltas, "grp", "full_outer")
        .select(
            "grp",
            (
                F.coalesce(F.col("agg_sum"), F.lit(0.0))
                + F.coalesce(F.col("d_sum"), F.lit(0.0))
            ).alias("agg_sum"),
            (
                F.coalesce(F.col("agg_sumsq"), F.lit(0.0))
                + F.coalesce(F.col("d_sumsq"), F.lit(0.0))
            ).alias("agg_sumsq"),
            (
                F.coalesce(F.col("agg_count"), F.lit(0))
                + F.coalesce(F.col("d_count"), F.lit(0))
            ).alias("agg_count"),
            (
                F.coalesce(F.col("agg_nnull"), F.lit(0))
                + F.coalesce(F.col("d_nnull"), F.lit(0))
            ).alias("agg_nnull"),
        )
        .filter(F.col("agg_count") > 0)
    )
    _commit_state(merged, state_dir, mx)


def incremental_agg_writer(
    state_dir: str, group_key: str, value_field: str
):
    """foreachBatch hook: envelope stream → maintained aggregate table."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        incremental_agg_apply(
            batch_df.sparkSession, batch_df, state_dir, group_key, value_field
        )

    return write


def agg_view(state: DataFrame) -> DataFrame:
    """Derived AVG / population-variance / stddev view over the
    maintained (sum, sumsq, count) state — the algebraic moments form,
    which is what makes the aggregates maintainable under deletes.

    Caveat stated, not hidden: E[x²]−E[x]² cancels catastrophically
    when stddev ≪ |mean| (both terms huge, difference tiny). The
    maintained form is for bounded-magnitude metrics (counters, rates,
    prices); variance is floored at 0 so roundoff can't surface a
    negative value.

    AVG/variance divide by agg_nnull (values actually summed), not
    agg_count (rows): SQL AVG skips NULLs, and so did the maintained
    sums — dividing by the row count would understate both for any
    nullable value column. A group whose every value is NULL gets NULL
    moments, exactly as SQL AVG/VAR_POP would."""
    n = F.when(F.col("agg_nnull") > 0, F.col("agg_nnull"))
    mean = F.col("agg_sum") / n
    var = F.greatest(F.col("agg_sumsq") / n - mean * mean, F.lit(0.0))
    return state.select(
        "grp",
        "agg_sum",
        "agg_count",
        mean.alias("agg_avg"),
        var.alias("agg_var"),
        F.sqrt(var).alias("agg_stddev"),
    )


# ---------------------------------------------------------------------------
# MIN/MAX maintenance (semi-differential)
# ---------------------------------------------------------------------------

_NULL_GRP = "\x00null\x00"


def replica_minmax_source(target_dir: str, group_key: str, value_field: str):
    """Recompute source over the upsert-materialized replica
    (``pipeline.upsert_parquet`` output): callable → (grp, val) rows of
    the CURRENT live table, with the same NULL-group sentinel the delta
    path uses."""

    def read(spark: SparkSession) -> DataFrame:
        if not os.path.exists(target_dir):
            return spark.createDataFrame([], "grp string, val double")
        t = spark.read.parquet(target_dir).filter(~F.col("is_delete"))
        return t.select(
            F.coalesce(
                F.element_at(F.col("row"), group_key), F.lit(_NULL_GRP)
            ).alias("grp"),
            F.element_at(F.col("row"), value_field).cast("double").alias("val"),
        )

    return read


def incremental_minmax_apply(
    spark: SparkSession,
    env_batch: DataFrame,
    state_dir: str,
    group_key: str,
    value_field: str,
    replica,
) -> None:
    """Maintain per-group MIN/MAX/COUNT from the change stream.

    MIN/MAX are not differential under deletes: removing a non-extreme
    value folds in algebraically, but removing the CURRENT extreme
    invalidates it — the new extreme is whatever remains, which the
    deltas alone can't name. The classic view-maintenance split applies:

    - inserts / update-new images: ``new_min = least(old_min, batch_min)``
      (pure column algebra, no recompute — the common case);
    - deletes / update-old images whose value ties or beats the stored
      extreme (or hits a group with no state yet): the group joins the
      recompute set, and its row is rebuilt by a grouped MIN/MAX over
      ``replica`` — a per-group query against the upsert-materialized
      replica, semi-join-pruned to exactly the invalidated groups. Cost
      per batch is O(|batch| + |invalidated groups' rows|), never a full
      recompute of every group.

    ``replica`` is a callable ``spark -> DataFrame(grp, val)`` over the
    CURRENT live table (``replica_minmax_source`` adapts the upsert
    materializer's output). ORDERING CONTRACT: the replica must already
    include this batch — in ``run_pipeline`` terms, list the upsert Route
    BEFORE the minmax Route. Routes of a batch run concurrently, but
    ``incremental_minmax_writer`` is marked ``after_earlier_routes``, so
    it starts only after every route before it has committed.

    Same replay guard (event_index high-water mark) and staged-swap
    commit as ``incremental_agg_apply``; recompute is idempotent by
    construction, so crash-replays converge. Same POSIX-path storage
    constraint as documented there.
    """
    recover_swap(state_dir)
    high = applied_index(state_dir)
    fresh = env_batch.filter(F.col("event_index") > high)
    mx = fresh.agg(F.max("event_index")).collect()[0][0]
    if mx is None:
        return
    data, old, new = (
        F.col("event.data"),
        F.col("event.old_data"),
        F.col("event.new_data"),
    )

    def img_vals(df: DataFrame, img) -> DataFrame:
        return df.select(
            F.coalesce(F.element_at(img, group_key), F.lit(_NULL_GRP)).alias(
                "grp"
            ),
            F.element_at(img, value_field).cast("double").alias("val"),
        )

    added = img_vals(
        fresh.filter(F.col("event_type") == "insert"), data
    ).unionByName(img_vals(fresh.filter(F.col("event_type") == "update"), new))
    removed = img_vals(
        fresh.filter(F.col("event_type") == "delete"), data
    ).unionByName(img_vals(fresh.filter(F.col("event_type") == "update"), old))
    a = added.groupBy("grp").agg(
        F.min("val").alias("a_min"),
        F.max("val").alias("a_max"),
        F.count("*").alias("a_cnt"),
    )
    r = removed.groupBy("grp").agg(
        F.min("val").alias("r_min"),
        F.max("val").alias("r_max"),
        F.count("*").alias("r_cnt"),
    )
    batch = a.join(r, "grp", "full_outer")

    if os.path.exists(state_dir):
        state = spark.read.parquet(state_dir)
    else:
        state = spark.createDataFrame(
            [], "grp string, agg_min double, agg_max double, agg_count bigint"
        )
    m = state.join(batch, "grp", "full_outer")
    new_count = (
        F.coalesce(F.col("agg_count"), F.lit(0))
        + F.coalesce(F.col("a_cnt"), F.lit(0))
        - F.coalesce(F.col("r_cnt"), F.lit(0))
    )
    invalid = F.col("r_cnt").isNotNull() & (
        F.col("agg_count").isNull()
        | F.coalesce(F.col("r_min") <= F.col("agg_min"), F.lit(False))
        | F.coalesce(F.col("r_max") >= F.col("agg_max"), F.lit(False))
    )
    valid = (
        m.filter(~invalid)
        .filter(new_count > 0)
        .select(
            "grp",
            F.least("agg_min", "a_min").alias("agg_min"),
            F.greatest("agg_max", "a_max").alias("agg_max"),
            new_count.alias("agg_count"),
        )
    )
    needs = m.filter(invalid).select("grp")
    recomputed = (
        replica(spark)
        .join(needs, "grp", "left_semi")
        .groupBy("grp")
        .agg(
            F.min("val").alias("agg_min"),
            F.max("val").alias("agg_max"),
            F.count("*").alias("agg_count"),
        )
    )
    merged = valid.unionByName(recomputed)
    _commit_state(merged, state_dir, mx)


def incremental_minmax_writer(
    state_dir: str, group_key: str, value_field: str, replica
):
    """foreachBatch hook for the MIN/MAX maintained table. List it AFTER
    the upsert route feeding ``replica``: it is marked
    ``after_earlier_routes``, so it runs once every route before it has
    returned (see ordering contract)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        incremental_minmax_apply(
            batch_df.sparkSession,
            batch_df,
            state_dir,
            group_key,
            value_field,
            replica,
        )

    return after_earlier_routes(write)


# ---------------------------------------------------------------------------
# approximate COUNT(DISTINCT …) maintenance — HLL sketches, insert-only
# ---------------------------------------------------------------------------


def incremental_distinct_apply(
    spark: SparkSession,
    env_batch: DataFrame,
    state_dir: str,
    group_key: str,
    value_field: str,
    lgk: int = 12,
) -> None:
    """Maintain approximate ``COUNT(DISTINCT value)`` per group from the
    change stream via Apache DataSketches HLL (Spark's
    ``hll_sketch_agg`` / ``hll_union``): state = (grp, sketch bytes);
    each batch builds one sketch per group from its INSERT images and
    unions it into the state — a few KB per group regardless of
    cardinality, mergeable across batches, executors and stores.

    INSERT-ONLY by the math: HLL registers are monotone maxima, so a
    delete/update cannot be retracted. A batch carrying update/delete
    envelopes raises loudly rather than silently over-counting —
    delete-safe distinct maintenance needs the exact distinct SET
    (a (grp, value) table), which at that point is just a second
    upsert replica. This maintainer exists for the append-only shape
    (event/log/crawl tables), where it answers NDV questions at 100 TB
    without ever rescanning history.

    Same replay high-water mark + staged-swap commit contract as
    :func:`incremental_agg_apply` (via the shared ``_sketch_maintain``
    scaffold).
    """
    _sketch_maintain(
        spark, env_batch, state_dir, group_key, value_field,
        "incremental_distinct_apply",
        "HLL sketches cannot retract deletes/updates — rebuild from the "
        "replica or maintain an exact (group, value) distinct table instead",
        F.hll_sketch_agg("v", F.lit(lgk)),
        F.hll_union,
    )


def distinct_view(state: DataFrame) -> DataFrame:
    """(grp, approx_ndv) over the maintained sketch state."""
    return state.select(
        "grp", F.hll_sketch_estimate("sketch").alias("approx_ndv")
    )


def incremental_quantile_apply(
    spark: SparkSession,
    env_batch: DataFrame,
    state_dir: str,
    group_key: str,
    value_field: str,
    k: int = 200,
) -> None:
    """Maintain approximate per-group QUANTILES from the change stream
    via Apache DataSketches KLL (Spark's ``kll_sketch_agg_double`` /
    ``kll_sketch_merge_double``): state = (grp, sketch bytes); each
    batch folds its INSERT images into one KLL sketch per group and
    merges it into the state — a few KB per group with a proven
    rank-error bound (~1.65/k single-sided), mergeable across batches,
    executors and stores. This answers "p50/p95/p99 latency per
    service, maintained from the stream" at 100 TB without rescanning
    history — the quantile sibling of the HLL NDV maintainer above.

    INSERT-ONLY by the math, exactly like HLL: a KLL sketch is a
    compaction of observed values and cannot retract a delete/update.
    A batch carrying update/delete envelopes raises loudly rather than
    silently drifting — delete-safe quantiles need the exact value
    multiset, which is just the replica plus ``percentile``.

    Same replay high-water mark + staged-swap commit contract as
    :func:`incremental_agg_apply` (via the shared ``_sketch_maintain``
    scaffold).
    """
    _sketch_maintain(
        spark, env_batch, state_dir, group_key, value_field,
        "incremental_quantile_apply",
        "KLL sketches cannot retract deletes/updates — recompute "
        "percentiles from the replica for mutable tables instead",
        F.kll_sketch_agg_double("v", F.lit(k)),
        F.kll_sketch_merge_double,
        cast="double",
    )


def incremental_quantile_writer(state_dir: str, group_key: str, value_field: str):
    """foreachBatch hook: envelope stream → maintained quantile sketches."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        incremental_quantile_apply(
            batch_df.sparkSession, batch_df, state_dir, group_key, value_field
        )

    return write


def quantile_view(
    state: DataFrame, quantiles: tuple[float, ...] = (0.5, 0.95, 0.99)
) -> DataFrame:
    """(grp, n, q50, q95, ...) over the maintained KLL state."""
    cols = [
        F.kll_sketch_get_quantile_double("sketch", F.lit(q)).alias(
            f"q{int(q * 100)}"
        )
        for q in quantiles
    ]
    return state.select(
        "grp", F.kll_sketch_get_n_double("sketch").alias("n"), *cols
    )


def incremental_topk_apply(
    spark: SparkSession,
    env_batch: DataFrame,
    state_dir: str,
    group_key: str,
    value_field: str,
    k: int = 16,
) -> None:
    """Maintain per-group heavy hitters from the change stream via
    mergeable Misra-Gries summaries (Agarwal et al., "Mergeable
    Summaries", PODS'12): state = up to ``k`` (grp, item, cnt) rows
    plus a per-group error bound ``err``. Each batch counts its INSERT
    images exactly (bounded by batch size), adds them into the state,
    then applies the MG merge rule per group: subtract the (k+1)-th
    largest count from every item, drop non-positive rows. A true
    count is then bounded by [cnt, cnt + err] — and any item whose
    true frequency exceeds N/(k+1) is guaranteed present. This is
    "top domains per language, maintained from the stream": bounded
    state per group, no history rescans, exact batch counts so the
    error grows only with what was pruned.

    All set algebra is per-group window work over K+|batch items| rows
    — never a global sort. INSERT-ONLY like the sketch maintainers
    (a pruned summary cannot retract); non-insert envelopes raise
    loudly. Same replay high-water mark + staged-swap commit contract
    as :func:`incremental_agg_apply`.
    """
    got = _fresh_inserts(
        env_batch, state_dir, "incremental_topk_apply",
        "a Misra-Gries summary cannot retract deletes/updates — "
        "recompute heavy hitters from the replica for mutable tables "
        "instead",
    )
    if got is None:
        return
    fresh, mx = got
    deltas = (
        _grp_values(fresh, group_key, value_field)
        .withColumnRenamed("v", "item")
        .groupBy("grp", "item")
        .agg(F.count("*").alias("d_cnt"))
    )
    if os.path.exists(state_dir):
        state = spark.read.parquet(state_dir)
        errs = state.select("grp", "err").distinct()
        # item IS NULL rows are err-only placeholders: a group whose
        # summary pruned to zero items still carries its error bound
        items = state.select("grp", "item", "cnt").filter(
            F.col("item").isNotNull()
        )
    else:
        errs = spark.createDataFrame([], "grp string, err long")
        items = spark.createDataFrame([], "grp string, item string, cnt long")
    combined = (
        items.join(deltas, ["grp", "item"], "full_outer")
        .select(
            "grp",
            "item",
            (F.coalesce("cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0))).alias(
                "cnt"
            ),
        )
    )
    # MG merge rule: s = (k+1)-th largest count in the group (0 when the
    # group holds <= k items); subtract s everywhere, drop <= 0. The
    # window is over the SUMMARY (<= k + batch items per group), not data.
    w = Window.partitionBy("grp").orderBy(F.desc("cnt"), F.asc("item"))
    ranked = combined.withColumn("_rk", F.row_number().over(w))
    s_per_grp = (
        ranked.filter(F.col("_rk") == k + 1)
        .select("grp", F.col("cnt").alias("_s"))
    )
    pruned = (
        ranked.join(s_per_grp, "grp", "left")
        .withColumn("_s", F.coalesce("_s", F.lit(0)))
        .withColumn("cnt", F.col("cnt") - F.col("_s"))
        .filter(F.col("cnt") > 0)
    )
    # the subtrahend per group comes from ALL groups touched this
    # batch (not just prune survivors: a group whose every item pruned
    # to zero still accrued _s of error — deriving _s from `pruned`
    # would silently reset such a group's bound)
    grp_s = (
        combined.select("grp")
        .distinct()
        .join(s_per_grp, "grp", "left")
        .select("grp", F.coalesce("_s", F.lit(0)).alias("_s"))
    )
    new_err = (
        grp_s.join(errs, "grp", "full_outer")
        .select(
            "grp",
            (F.coalesce("_s", F.lit(0)) + F.coalesce("err", F.lit(0))).alias(
                "err"
            ),
        )
    )
    # right outer: a group with err but no surviving items keeps an
    # (item NULL, cnt NULL) placeholder row so its bound persists
    result = pruned.select("grp", "item", "cnt").join(
        new_err, "grp", "right_outer"
    )
    _commit_state(result, state_dir, mx)


def incremental_topk_writer(state_dir: str, group_key: str, value_field: str, k: int = 16):
    """foreachBatch hook: envelope stream → maintained heavy hitters."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        incremental_topk_apply(
            batch_df.sparkSession, batch_df, state_dir, group_key, value_field, k
        )

    return write


def topk_view(state: DataFrame, n: int = 10) -> DataFrame:
    """(grp, item, cnt_low, cnt_high, rank) — the top ``n`` per group
    with the [cnt, cnt+err] truth bounds made explicit."""
    w = Window.partitionBy("grp").orderBy(F.desc("cnt"), F.asc("item"))
    return (
        state.filter(F.col("item").isNotNull())  # skip err-only rows
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
        .select(
            "grp",
            "item",
            F.col("cnt").alias("cnt_low"),
            (F.col("cnt") + F.col("err")).alias("cnt_high"),
            "rank",
        )
    )


def incremental_theta_apply(
    spark: SparkSession,
    env_batch: DataFrame,
    state_dir: str,
    group_key: str,
    value_field: str,
) -> None:
    """Maintain per-group Theta sketches from the change stream
    (Spark's ``theta_sketch_agg`` / ``theta_union``): like the HLL NDV
    maintainer, but Theta sketches additionally support SET ALGEBRA —
    ``theta_set_view`` answers "distinct users seen in BOTH groups /
    only in one" (campaign overlap, cross-surface reach) straight from
    the maintained state, which HLL cannot do (no intersection).

    Same contract as its siblings: state = (grp, sketch bytes),
    mergeable across batches/executors/stores; INSERT-ONLY by the math
    with a loud failure on update/delete envelopes; replay high-water
    mark + staged-swap commit (via the shared ``_sketch_maintain``
    scaffold).
    """
    _sketch_maintain(
        spark, env_batch, state_dir, group_key, value_field,
        "incremental_theta_apply",
        "Theta sketches cannot retract deletes/updates — maintain the "
        "exact (group, value) distinct table for mutable tables instead",
        F.theta_sketch_agg("v"),
        F.theta_union,
    )


def theta_set_view(state: DataFrame, grp_a: str, grp_b: str) -> DataFrame:
    """One row of set algebra over two maintained groups:
    (ndv_a, ndv_b, ndv_union, ndv_intersection, ndv_a_only) — the
    overlap/reach queries only Theta sketches answer from state."""
    a = state.filter(F.col("grp") == grp_a).select(
        F.col("sketch").alias("sa")
    )
    b = state.filter(F.col("grp") == grp_b).select(
        F.col("sketch").alias("sb")
    )
    return a.crossJoin(b).select(
        F.theta_sketch_estimate("sa").alias("ndv_a"),
        F.theta_sketch_estimate("sb").alias("ndv_b"),
        F.theta_sketch_estimate(F.theta_union("sa", "sb")).alias("ndv_union"),
        F.theta_sketch_estimate(F.theta_intersection("sa", "sb")).alias(
            "ndv_intersection"
        ),
        F.theta_sketch_estimate(F.theta_difference("sa", "sb")).alias(
            "ndv_a_only"
        ),
    )


# ---------------------------------------------------------------------------
# streaming anomaly detection over the maintained moments
# ---------------------------------------------------------------------------


def anomaly_flags(
    batch_values: DataFrame,
    state: DataFrame,
    z: float = 3.0,
    min_n: int = 10,
) -> DataFrame:
    """(grp, v, mean, stddev, zscore) rows of ``batch_values`` deviating
    ≥ z standard deviations from their group's PRE-batch moments —
    pure column algebra over ``agg_view``'s mean/stddev. Groups with
    fewer than ``min_n`` observed values or zero variance produce no
    flags (a cold or constant group has no meaningful z)."""
    view = agg_view(state).select("grp", "agg_avg", "agg_stddev")
    nnull = state.select("grp", "agg_nnull")
    return (
        batch_values.join(view, "grp")
        .join(nnull, "grp")
        .filter(
            (F.col("agg_nnull") >= min_n) & (F.col("agg_stddev") > 0)
        )
        .select(
            "grp",
            "v",
            F.col("agg_avg").alias("mean"),
            F.col("agg_stddev").alias("stddev"),
            (
                (F.col("v") - F.col("agg_avg")) / F.col("agg_stddev")
            ).alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) >= z)
    )


def anomaly_writer(
    state_dir: str,
    flags_dir: str,
    group_key: str,
    value_field: str,
    z: float = 3.0,
    min_n: int = 10,
):
    """foreachBatch hook: flag each batch's outliers against the moments
    accumulated BEFORE the batch, then fold the batch into the state —
    the realtime metric-anomaly consumer (a value is judged by history,
    not by a window that already contains it).

    Flags write under the batch's ``ingest=<max event_index>``
    partition with dynamic overwrite, so an at-least-once replay
    rewrites the identical flag rows instead of duplicating them (the
    state side is already replay-safe via its high-water mark — a
    replayed batch produces the same flags because the state it reads
    excludes it both times: the mark filtered it out of the fold).
    """

    def write(env: DataFrame, batch_id: int) -> None:
        spark = env.sparkSession
        recover_swap(state_dir)
        high = applied_index(state_dir)
        fresh = env.filter(F.col("event_index") > high)
        mx = fresh.agg(F.max("event_index")).collect()[0][0]
        if mx is None:
            return
        inserts = fresh.filter(F.col("event_type") == "insert")
        vals = _grp_values(inserts, group_key, value_field, cast="double")
        # first batch: no pre-batch state exists, nothing can be judged
        if os.path.exists(state_dir):
            state = spark.read.parquet(state_dir)
            flags = anomaly_flags(vals, state, z=z, min_n=min_n)
            (
                flags.withColumn("ingest", F.lit(int(mx)).cast("long"))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("ingest")
                .parquet(flags_dir)
            )
        incremental_agg_apply(spark, env, state_dir, group_key, value_field)

    return write


_FLAGS_SCHEMA = (
    "grp string, v double, mean double, stddev double, "
    "zscore double, ingest bigint"
)


def read_anomalies(spark: SparkSession, flags_dir: str) -> DataFrame:
    """The flagged-outlier log; empty (typed) before any flag lands —
    an all-calm stream writes no partitions, which must read as zero
    anomalies, not an error."""
    if not os.path.exists(flags_dir):
        return spark.createDataFrame([], _FLAGS_SCHEMA)
    # Only the KNOWN-empty layout (no ingest= partitions yet) reads as
    # zero anomalies; a real read failure over existing partitions must
    # raise — an operator watching this log would otherwise mistake a
    # corrupt store for an all-calm stream (the r6 joinview lesson).
    has_parts = any(
        e.is_dir() and "=" in e.name for e in os.scandir(flags_dir)
    )
    if not has_parts:
        return spark.createDataFrame([], _FLAGS_SCHEMA)
    return spark.read.schema(_FLAGS_SCHEMA).parquet(flags_dir)
