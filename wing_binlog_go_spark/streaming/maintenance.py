"""The on-disk commit protocol, and the table maintenance jobs built on it.

Every in-place rewrite in the engine — replicas, SCD2 history, aggregate
and join-view state, dedup, ANN and search stores, every per-batch
partition a sink publishes — commits through the three primitives here;
no other module swaps directories, fsyncs or renames files over each
other:

- :func:`rewrite_dir` — single-directory staged rewrite: write the new
  table to the hidden :func:`staging_path` sibling (plus optional meta
  JSON, fsynced inside the stage), then :func:`swap_dir` it into place.
  A per-batch partition (``bkey=K``, ``batch_id=K``) is published with
  it, and so is each partition a store swaps (IVF-PQ lists, semantic
  clusters, kNN edge clusters).
- :func:`write_json` — durable JSON write: tmp file, fsync, atomic
  ``os.replace``.
- :func:`rewrite_buckets` — multi-bucket manifest commit for the
  ``bucket=N`` layouts: stage every changed bucket, commit a manifest
  naming them, swap each in; rolled forward by
  :func:`recover_bucket_commit` after a crash.

Recovery and the replay probe sit beside them: :func:`recover_swap`
restores one directory lost between :func:`swap_dir`'s renames,
:func:`recover_partition_swaps` does so for every ``X=v`` partition of
a table, and :func:`batch_committed` is the replay probe of a per-batch
partition that :func:`rewrite_dir` published.

The maintenance jobs (compaction, z-order, sketch-store compaction) are
ordinary callers of the same primitives. Streaming parquet sinks append
one file per batch per partition; at a few seconds per micro-batch that
is thousands of small files a day — the classic lakehouse small-file
problem (SURVEY §4 notes OPTIMIZE-style compaction as the maintenance
job at the 100 TB north star; Delta's OPTIMIZE is the managed
equivalent).
"""

from __future__ import annotations

import fcntl
import json
import math
import os
import shutil
from contextlib import contextmanager
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession


def backup_path(path: str) -> str:
    """Swap backup location for ``path``: a DOT-PREFIXED sibling.

    The backup must be invisible to Spark's file listing and hive
    partition discovery — a plain ``bucket=5._old`` sibling inside a
    partitioned table would be discovered as partition value ``5._old``
    and read as duplicate rows by any reader that lists mid-swap."""
    d, b = os.path.split(path.rstrip("/"))
    return os.path.join(d, "." + b + "._old")


def staging_path(path: str) -> str:
    """Where a rewrite of ``path`` stages: a DOT-PREFIXED sibling, for
    the same reason as :func:`backup_path` — a visible ``X._staging``
    next to a ``bucket=N`` dir is read as a phantom partition by any
    reader that lists the parent mid-rewrite."""
    d, b = os.path.split(path.rstrip("/"))
    return os.path.join(d, "." + b + "._staging")


def swap_dir(new_dir: str, path: str) -> None:
    """Replace directory ``path`` with ``new_dir`` as crash-safely as a
    local filesystem allows: each rename is atomic; a crash between them
    is recoverable because the previous table survives at the backup and
    ``recover_swap`` (called first) restores it. Delta/Iceberg commit
    logs are the real answer at scale; this is the best plain-FS analog.

    Isolation honesty: crash-safe is not snapshot-isolated. A reader
    that LISTED the old files before the swap can hit FileNotFound on
    the deleted parts mid-scan, and there is an instant between the two
    renames where ``path`` does not exist. Serialize maintenance swaps
    against long-running readers (the streaming readers re-list per
    batch, so they only ever race the instant, not the file set); real
    MVCC needs the Delta/Iceberg log.
    """
    backup = backup_path(path)
    shutil.rmtree(backup, ignore_errors=True)  # stale backup from a crash
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(new_dir, path)
    shutil.rmtree(backup, ignore_errors=True)


def write_json(path: str, payload) -> None:
    """Durable JSON write: tmp file, fsync, atomic ``os.replace``.

    The rename makes the write atomic against a process crash — readers
    see the old file or the new one, never a truncated one. The fsync
    BEFORE the rename makes it durable: after a power loss a
    renamed-but-unsynced file can surface stale or empty, and every
    file written here is a commit record whose loss is a correctness
    bug, not lost work (a reverted event_index ``next`` hands a later
    batch an already-used index range; a lost bucket manifest reads as
    "crash before commit" and leaves a lasting old/new bucket mix).
    This matches the durability of the reference's O_SYNC pos write
    (util.go:11-57), not just its atomicity."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def rewrite_dir(
    path: str,
    content: "DataFrame | Callable[[str], None]",
    meta: "dict[str, object] | None" = None,
) -> None:
    """Single-directory staged rewrite: the new table is written in
    full to :func:`staging_path` (which also keeps the plan from
    clobbering its own parquet input mid-scan), then :func:`swap_dir`
    puts it in place. A write that raises leaves the old table
    untouched and readable; its debris is discarded by the next
    rewrite. Callers run :func:`recover_swap` before READING ``path``.

    ``content`` is a DataFrame (written as parquet) or a callable that
    writes the new table into the directory it is given (partitioned
    layouts, several child tables). ``meta`` maps file names to JSON
    payloads written INTO the stage, so they ride the same rename as
    the data; they are fsynced before the swap because the dir rename
    can survive a power loss whose page cache still held the meta
    bytes — an empty replay mark would re-apply (delta maintainers) or
    replay (join views) the whole history."""
    staged = staging_path(path)
    shutil.rmtree(staged, ignore_errors=True)
    if isinstance(content, DataFrame):
        content.write.mode("overwrite").parquet(staged)
    else:
        content(staged)
    for name, payload in (meta or {}).items():
        write_json(os.path.join(staged, name), payload)
    swap_dir(staged, path)


def _legacy_backup_path(path: str) -> str:
    """Pre-dot-prefix backup name (``X._old``, visible to partition
    discovery) — recognized for one release so a crash that happened
    under the old layout still recovers instead of leaving a
    duplicate-row ``bucket=N._old`` partition behind."""
    return path.rstrip("/") + "._old"


def recover_swap(path: str) -> None:
    """If a crash left no table at ``path`` but a backup exists, restore
    it before doing anything else. Probes the current dot-prefixed
    backup name first, then the legacy visible name; a legacy backup
    that is NOT needed for recovery is deleted so partition discovery
    stops seeing it as a duplicate partition."""
    backup = backup_path(path)
    legacy = _legacy_backup_path(path)
    if not os.path.exists(path) and os.path.exists(backup):
        os.rename(backup, path)
    elif not os.path.exists(path) and os.path.exists(legacy):
        os.rename(legacy, path)
    elif os.path.exists(legacy):
        shutil.rmtree(legacy, ignore_errors=True)


def recover_partition_swaps(target_dir: str) -> None:
    """Restore any ``X=v`` partition dir lost mid-swap: a crash between
    swap_dir's two renames leaves only the HIDDEN backup, which hive
    partition discovery (correctly) skips — so without this probe the
    partition's rows silently vanish from every read, and nothing ever
    retries the swap of a dir that no longer appears in os.listdir.
    Serves the ``bucket=N`` tables and the partitioned source-data
    stores alike. Probes both the dot-prefixed and legacy backup
    names."""
    try:
        entries = os.listdir(target_dir)
    except FileNotFoundError:
        return
    for entry in entries:
        if "=" in entry and entry.endswith("._old"):
            name = entry.removeprefix(".").removesuffix("._old")
            recover_swap(os.path.join(target_dir, name))


def recover_source_partition_swaps(data_dir: str) -> None:
    """:func:`recover_partition_swaps` for the stores whose partitions
    are SOURCE data (IVF-PQ ``codes/``, semantic ``vectors/``): a lost
    partition is not rebuildable, so it must be restored.

    For one release this also restores a crash left by those stores'
    swap before :func:`rewrite_dir` (the ``_legacy_backup_path``
    counterpart): it retired a live partition to ``_staging/<part>.old``
    and staged the new one at ``_staging/<part>``. A retired copy whose
    live partition is absent is restored; the rest of ``_staging`` is
    debris. Sketch stores must not use this: their ``_staging/bkey=*.old``
    dirs belong to :func:`compact_sketch_store`, and restoring one would
    double-count."""
    recover_partition_swaps(data_dir)
    staging = os.path.join(data_dir, "_staging")
    if not os.path.isdir(staging):
        return
    for entry in os.listdir(staging):
        path = os.path.join(staging, entry)
        final = os.path.join(data_dir, entry.removesuffix(".old"))
        if entry.endswith(".old") and not os.path.isdir(final):
            os.rename(path, final)
        else:
            shutil.rmtree(path)


def batch_committed(part_dir: str) -> bool:
    """The replay probe of a per-batch partition published by
    :func:`rewrite_dir`: committed iff the dir holds parquet. The
    partition appears in one rename with its files, so a parquet-less
    dir can only be debris (a crash of a writer that predates the
    staged publish), which the next :func:`rewrite_dir` replaces."""
    return os.path.isdir(part_dir) and any(
        f.endswith(".parquet") for f in os.listdir(part_dir)
    )


def _bucket_manifest_path(target_dir: str) -> str:
    return os.path.join(target_dir, "_commit_manifest.json")


def _bucket_staging_path(target_dir: str, b: int) -> str:
    # dot-prefixed: invisible to hive partition discovery
    return os.path.join(target_dir, f".staging_bucket_{b}")


@contextmanager
def _commit_lock(target_dir: str):
    """Exclusive advisory lock serializing the commit-critical section
    (manifest write → swaps → manifest removal) against concurrent
    ``recover_bucket_commit`` callers.

    Without it, a reader that sees the manifest DURING a live writer's
    phase 3 would re-run the same swaps: the writer's own swap then
    renames the just-committed bucket out to the backup and crashes on
    the now-missing staging dir. flock is per-host — matching the
    single-writer deployment (the reference is a singleton binlog reader
    too); multi-host shared storage needs Delta/Iceberg commit logs,
    as documented on :func:`rewrite_buckets`.
    """
    fd = os.open(
        os.path.join(target_dir, "._commit_lock"), os.O_CREAT | os.O_RDWR, 0o644
    )
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def recover_bucket_commit(target_dir: str) -> bool:
    """Roll an interrupted multi-bucket commit FORWARD.

    :func:`rewrite_buckets` stages every changed bucket first, then
    atomically writes a manifest naming them, then swaps each bucket
    in. A manifest on disk therefore means all staging data is
    complete: recovery finishes the remaining swaps so the table
    converges to the all-new state — never a mix that stays. No
    manifest means the crash happened before the point of commit:
    stale staging dirs are discarded and the table is the all-old
    state. Returns True if a commit was rolled forward.

    Takes the commit lock, so a live writer's phase 3 and a reader's
    recovery never interleave; the manifest is re-checked under the
    lock (a blocked reader usually finds it already gone).
    """
    manifest = _bucket_manifest_path(target_dir)
    if not os.path.exists(manifest):  # cheap pre-check without the lock
        return False
    with _commit_lock(target_dir):
        if not os.path.exists(manifest):  # writer finished while we waited
            return False
        with open(manifest) as f:
            buckets = json.load(f)["buckets"]
        for b in buckets:
            bdir = os.path.join(target_dir, f"bucket={b}")
            staged = _bucket_staging_path(target_dir, b)
            if os.path.exists(staged):
                swap_dir(staged, bdir)  # not yet (or half) swapped: finish it
            else:
                recover_swap(bdir)  # crashed mid-rename inside swap_dir
                shutil.rmtree(backup_path(bdir), ignore_errors=True)
        os.remove(manifest)
    return True


def _discard_stale_staging(target_dir: str) -> None:
    """Writer-side cleanup of staging dirs orphaned by a crash BEFORE
    the point of commit (no manifest ⇒ the staged data is dead weight:
    each orphan is a complete bucket copy that would otherwise persist
    until some batch happens to touch that exact bucket). Called only
    from writers at the START of their own commit sequence — the
    single-writer contract means no live phase-1 staging can be
    deleted; reader-side recovery must NOT do this (it races a live
    writer's staging). Under the commit lock so a roll-forward's swaps
    never interleave."""
    with _commit_lock(target_dir):
        if os.path.exists(_bucket_manifest_path(target_dir)):
            return  # committed: these dirs belong to a roll-forward
        for e in os.listdir(target_dir):
            if e.startswith(".staging_bucket_"):
                shutil.rmtree(os.path.join(target_dir, e), ignore_errors=True)


def rewrite_buckets(
    target_dir: str,
    buckets: "Iterable[int] | None",
    build: "Callable[[int, str], DataFrame | None]",
) -> None:
    """Multi-bucket manifest commit over a ``bucket=N`` layout: every
    listed bucket (``None`` = every bucket dir on disk) is rewritten to
    ``build(b, bucket_dir)`` — the bucket's new content, or None to
    leave it untouched — and the set commits atomically-on-recovery.

    Phase 1 stages each changed bucket (reads still see the old table;
    a bucket dir lost mid-swap is healed before ``build`` reads it).
    Phase 2 writes the manifest naming the swap set — the point of
    commit: a crash before it leaves the all-old table, after it the
    next writer or reader (:func:`recover_bucket_commit`) rolls the
    whole set forward. Phase 3 swaps every staged bucket in and removes
    the manifest. Phases 2+3 hold the commit lock, so a concurrent
    reader's recovery cannot replay the swaps mid-flight. Delta/Iceberg
    commit logs give the same write-visibility point with real
    snapshot isolation at scale."""
    os.makedirs(target_dir, exist_ok=True)
    recover_bucket_commit(target_dir)
    _discard_stale_staging(target_dir)
    if buckets is None:
        recover_partition_swaps(target_dir)
        buckets = sorted(
            int(e.split("=", 1)[1])
            for e in os.listdir(target_dir)
            if e.startswith("bucket=")
            and os.path.isdir(os.path.join(target_dir, e))
        )
    changed = []
    for b in buckets:
        bdir = os.path.join(target_dir, f"bucket={b}")
        recover_swap(bdir)
        out = build(b, bdir)
        if out is not None:
            staged = _bucket_staging_path(target_dir, b)
            shutil.rmtree(staged, ignore_errors=True)
            out.write.mode("overwrite").parquet(staged)
            changed.append(b)
    if changed:
        with _commit_lock(target_dir):
            manifest = _bucket_manifest_path(target_dir)
            write_json(manifest, {"buckets": [int(b) for b in changed]})
            for b in changed:
                swap_dir(
                    _bucket_staging_path(target_dir, b),
                    os.path.join(target_dir, f"bucket={b}"),
                )
            os.remove(manifest)


def dir_size_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def parquet_file_count(path: str) -> int:
    return sum(
        1
        for _root, _d, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite ``path`` into ceil(size / target) files; returns the new
    file count. coalesce (no shuffle) is enough because we only ever
    merge down.

    ``sort_cols`` clusters rows within each output file (a local
    sortWithinPartitions — no global shuffle): parquet then records
    tight min/max footer stats on those columns, so point lookups prune
    row groups after compaction the way the pre-compaction small files
    did implicitly."""
    path = path.rstrip("/")
    recover_swap(path)
    size = dir_size_bytes(path)
    n_files = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path).coalesce(n_files)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    rewrite_dir(path, df)
    return parquet_file_count(path)


def compact_bucketed_table(
    spark: SparkSession, target_dir: str, target_file_mb: int = 128
) -> dict[str, int]:
    """Compact a bucketed upsert table (``upsert_parquet_bucketed``
    layout) bucket by bucket, preserving the layout the upsert's
    pruning depends on.

    Compacting the table ROOT would collapse the ``bucket=N`` hive
    directories into flat files — every later batch would rewrite the
    whole table. Instead each bucket dir is compacted in place,
    PK-clustered (``sort_cols=["_pk"]``) so footer min/max stats on the
    key stay tight in the merged files. Any interrupted multi-bucket
    commit is rolled forward first; each per-bucket rewrite stays
    crash-safe through :func:`rewrite_dir`.

    Runs under the table's COMMIT LOCK: compaction rewrites the same
    bucket dirs the live upsert's manifest protocol swaps, and an
    unserialized compactor could clobber a batch committed between its
    read and its swap (the manifest is gone by then, so recovery could
    not roll the lost rows forward). Holding the lock for the whole
    pass serializes maintenance against the stream's phase 2+3 — the
    same single-writer-per-table assumption the upsert already makes.

    Returns {bucket dir name: new file count}.
    """
    recover_bucket_commit(target_dir)
    recover_partition_swaps(target_dir)  # heal any bucket lost mid-swap
    out: dict[str, int] = {}
    with _commit_lock(target_dir):
        for d in sorted(os.listdir(target_dir)):
            if not d.startswith("bucket="):
                continue
            bdir = os.path.join(target_dir, d)
            if os.path.isdir(bdir):
                out[d] = compact_parquet(
                    spark, bdir, target_file_mb, sort_cols=["_pk"]
                )
    return out


def optimize_zorder(
    spark: SparkSession,
    path: str,
    cols: list[str],
    target_file_mb: int = 128,
    bits: int = 8,
    coding: str = "quantile",
    curve: str = "morton",
) -> int:
    """OPTIMIZE ZORDER for a plain-parquet table: rewrite ``path`` as
    z-clustered files (`operators.zorder.write_zordered` — one recipe,
    not a copy, so the curve option incl. ``'hilbert'`` is available
    here too) through :func:`rewrite_dir`, sizing the output like
    compaction does.
    The write is a global range shuffle on the curve value (unlike
    compaction's shuffle-free coalesce) — the price of multi-column
    clustering, paid once offline and amortized over every later
    stats-pruned scan. Returns the new file count."""
    from wing_binlog_go_spark.operators.zorder import write_zordered

    path = path.rstrip("/")
    recover_swap(path)
    size = dir_size_bytes(path)
    n_files = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
    rewrite_dir(path, lambda staged: write_zordered(
        spark.read.parquet(path), staged, cols,
        n_files=n_files, bits=bits, coding=coding, curve=curve,
    ))
    return parquet_file_count(path)


# ---------------------------------------------------------------------------
# sketch-store compaction
# ---------------------------------------------------------------------------

def _sum_merge(group_cols, sum_col):
    from pyspark.sql import functions as F

    def merge(df, _params):
        return df.groupBy(*group_cols).agg(F.sum(sum_col).alias(sum_col))

    return merge


def _kmv_merge(df, params):
    from wing_binlog_go_spark.operators.stats import kmv_bottom_k

    return kmv_bottom_k(df, int(params.get("k", 256)))


# kind → merge fn over the concatenated partitions. Each stores the
# MERGED-BUT-UNCOMPRESSED form, so the reader's own merge (sum /
# bottom-k / recompress) gives BIT-IDENTICAL results over one compacted
# partition or the original N — compaction can never change an answer,
# only the partition count.
_SKETCH_MERGES = {
    "cms": _sum_merge(["j", "col"], "cnt"),
    "mg": _sum_merge(["item"], "est"),
    "kmv": _kmv_merge,
    "qdigest": _sum_merge(["id"], "cnt"),
}


def sketch_manifest_path(store_dir: str) -> str:
    return os.path.join(store_dir, "_compacted.json")


def absorbed_batch_keys(store_dir: str) -> set:
    """bkeys whose partitions were absorbed by a past compaction — the
    writers' replay probes treat these as committed (the partition no
    longer exists, but re-sketching the batch would double-count the
    additive merges)."""
    path = sketch_manifest_path(store_dir)
    if not os.path.exists(path):
        return set()
    with open(path) as f:
        return set(json.load(f)["absorbed"])


def _sketch_compaction_plan_path(store_dir: str) -> str:
    return os.path.join(store_dir, "_staging", "compacted.plan.json")


def _recover_sketch_compaction(store_dir: str) -> bool:
    """Heal an interrupted ``compact_sketch_store`` run — the
    multi-partition sibling of :func:`recover_source_partition_swaps`,
    which cannot be reused verbatim because N retired partitions
    promote into ONE merged partition: restoring every ``.old`` whose
    live dir is missing would double-count the absorbed batches after
    the promote.

    The plan file (``_staging/compacted.plan.json``, committed via
    :func:`write_json` only AFTER the staged merge finished writing)
    disambiguates every crash window:

    - plan present + stage dir present → the merge is complete but the
      promote never happened: ROLL FORWARD — retire any still-live
      absorbed partitions into ``_staging/bkey=<p>.old``, promote the
      stage to ``bkey=<keep>``, then clean up.
    - plan present + stage dir absent → the promote happened; only the
      cleanup was interrupted: delete the ``.old`` copies and the plan.
    - plan absent → any ``_staging/compacted`` dir is a half-written
      merge (crash before the plan commit): discard it. ``.old`` dirs
      cannot exist without a plan (the plan is deleted LAST), but are
      swept defensively — they are invisible to reads either way.

    Returns True if any rename/deletion was performed (the caller then
    refreshes the listing cache)."""
    staging = os.path.join(store_dir, "_staging")
    if not os.path.isdir(staging):
        return False
    changed = False
    plan_path = _sketch_compaction_plan_path(store_dir)
    stage = os.path.join(staging, "compacted")
    if os.path.exists(plan_path):
        with open(plan_path) as f:
            plan = json.load(f)
        keep, parts = int(plan["keep"]), [int(p) for p in plan["parts"]]
        if os.path.isdir(stage):
            # merge complete, promote pending: finish the retire+promote
            for pkey in parts:
                live = os.path.join(store_dir, f"bkey={pkey}")
                old = os.path.join(staging, f"bkey={pkey}.old")
                if os.path.isdir(live):
                    if os.path.isdir(old):
                        # a live copy alongside its retired .old can only
                        # be a rewrite of an absorbed batch, which the
                        # manifest forbids — keep the original .old
                        shutil.rmtree(live)
                    else:
                        os.rename(live, old)
            os.rename(stage, os.path.join(store_dir, f"bkey={keep}"))
        # promote done (by us or before the crash): finish the cleanup
        for entry in list(os.listdir(staging)):
            if entry.startswith("bkey=") and entry.endswith(".old"):
                shutil.rmtree(os.path.join(staging, entry))
        os.remove(plan_path)
        changed = True
    else:
        if os.path.isdir(stage):
            shutil.rmtree(stage)  # merge crashed before the plan commit
            changed = True
        # the documented defensive sweep: .old dirs cannot exist without
        # a plan (the plan is deleted LAST), but if one ever does it is
        # invisible to reads and unreachable by any recovery branch —
        # remove it so the staging dir converges to empty
        for entry in list(os.listdir(staging)):
            if entry.startswith("bkey=") and entry.endswith(".old"):
                shutil.rmtree(os.path.join(staging, entry))
                changed = True
    return changed


def compact_sketch_store(
    spark: SparkSession, store_dir: str, kind: str, **params
) -> dict:
    """Collapse a sketch store's accumulated ``bkey=`` batch partitions
    into ONE — the maintenance-window answer to a long-lived stream
    route writing a partition per micro-batch (the reader's merge cost
    grows with #batches; after compaction it is one partition again).

    Correctness contract, in order:

    0. A recovery probe (:func:`_recover_sketch_compaction`) heals any
       interrupted prior run first — restoring retired ``.old``
       partitions or promoting a completed staged merge, per its plan
       file — so every entry state converges.
    1. The MANIFEST commits first (:func:`write_json`): every
       absorbed bkey is recorded in ``_compacted.json`` before any
       partition moves, so an at-least-once replay of an absorbed batch
       is a no-op from this moment on (the writers' probes consult the
       manifest as well as partition presence). A crash after the
       manifest but before the swap leaves both the manifest AND the
       original partitions — the probe's OR makes that state safe, and
       re-running the compaction converges.
    2. The merged table stages under ``_staging/compacted``; once the
       write finishes, the PLAN (keep key + absorbed keys) commits via
       :func:`write_json`. Only then does the retire begin: each absorbed
       ``bkey=<p>`` renames to ``_staging/bkey=<p>.old`` (hidden from
       reads, recoverable), the stage promotes to ``bkey=<keep>``, and
       the ``.old`` copies + plan are deleted LAST. A crash anywhere in
       this window leaves either the originals or their ``.old`` copies
       on disk — never a state where the only complete merge is
       invisible — and the recovery probe rolls it forward.
    3. What is stored is the MERGED-BUT-UNCOMPRESSED form (summed CMS
       cells / summed MG estimates / union bottom-k / node-wise summed
       q-digest counts), so the read path — which merges anyway —
       returns bit-identical answers before and after compaction.

    Returns {"absorbed": [...], "kind": kind}."""
    if kind not in _SKETCH_MERGES:
        raise ValueError(
            f"compact_sketch_store: unknown kind {kind!r} "
            f"(one of {sorted(_SKETCH_MERGES)})"
        )
    data_root = store_dir
    if _recover_sketch_compaction(store_dir):
        spark.catalog.refreshByPath(data_root)  # renames bypass the cache
    parts = sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(data_root)
        if e.startswith("bkey=") and os.path.isdir(os.path.join(data_root, e))
    )
    if len(parts) <= 1:
        return {"absorbed": [], "kind": kind}

    # 1. manifest first — replays of absorbed batches must no-op even
    # if we crash mid-swap
    absorbed = sorted(set(parts) | absorbed_batch_keys(store_dir))
    write_json(sketch_manifest_path(store_dir), {"absorbed": absorbed})

    # 2. merge, stage, then commit the plan (= "the staged merge is
    # complete and covers exactly these partitions")
    merged = _SKETCH_MERGES[kind](
        spark.read.parquet(data_root).drop("bkey"), params
    )
    keep_key = parts[0]
    staging = os.path.join(data_root, "_staging")
    stage = os.path.join(staging, "compacted")
    shutil.rmtree(stage, ignore_errors=True)
    merged.write.mode("overwrite").parquet(stage)
    write_json(
        _sketch_compaction_plan_path(store_dir),
        {"keep": keep_key, "parts": parts},
    )

    # 3. retire the old partitions RESTORABLY, promote the merged one,
    # delete the retired copies only after the promote
    for pkey in parts:
        os.rename(
            os.path.join(data_root, f"bkey={pkey}"),
            os.path.join(staging, f"bkey={pkey}.old"),
        )
    os.rename(stage, os.path.join(data_root, f"bkey={keep_key}"))
    for pkey in parts:
        shutil.rmtree(os.path.join(staging, f"bkey={pkey}.old"))
    os.remove(_sketch_compaction_plan_path(store_dir))
    spark.catalog.refreshByPath(data_root)  # renames bypass the cache
    return {"absorbed": absorbed, "kind": kind}
