"""Small-file compaction: many files → few, data identical."""

from __future__ import annotations

import os

import pytest

from wing_binlog_go_spark.streaming.maintenance import (
    compact_parquet,
    parquet_file_count,
)
from wing_binlog_go_spark.tables import read_table
from tests.streamwait import await_done


def test_compaction_reduces_files_preserves_data(spark, sf_dir, tmp_path):
    target = str(tmp_path / "frag")
    li = read_table(spark, sf_dir, "lineitem").limit(5000)
    # simulate a streaming sink's fragmentation: 40 appends
    for i in range(8):
        li.filter(f"l_orderkey % 8 = {i}").repartition(5).write.mode(
            "append"
        ).parquet(target)
    before_files = parquet_file_count(target)
    before = spark.read.parquet(target)
    before_cnt = before.count()
    before_sum = before.groupBy().sum("l_quantity").collect()[0][0]

    after_files = compact_parquet(spark, target, target_file_mb=128)
    assert after_files < before_files
    assert after_files <= 2
    after = spark.read.parquet(target)
    assert after.count() == before_cnt
    assert after.groupBy().sum("l_quantity").collect()[0][0] == before_sum


def test_recover_swap_handles_legacy_and_current_backup(spark, sf_dir, tmp_path):
    """A crash under the pre-dot-prefix layout left 'X._old' (visible to
    partition discovery). recover_swap must restore it when the table is
    missing, and DELETE it when the table exists (otherwise a partitioned
    reader sees bucket=N._old as duplicate rows)."""
    import os

    from wing_binlog_go_spark.streaming.maintenance import (
        backup_path,
        recover_swap,
    )

    # legacy backup, table missing → restore
    tbl = str(tmp_path / "t1")
    legacy = tbl + "._old"
    os.makedirs(legacy)
    open(os.path.join(legacy, "part-0.parquet"), "w").write("x")
    recover_swap(tbl)
    assert os.path.exists(tbl) and not os.path.exists(legacy)

    # legacy backup, table present → stale backup removed
    tbl2 = str(tmp_path / "t2")
    os.makedirs(tbl2)
    os.makedirs(tbl2 + "._old")
    recover_swap(tbl2)
    assert os.path.exists(tbl2) and not os.path.exists(tbl2 + "._old")

    # current dot-prefixed backup wins over legacy when both exist
    tbl3 = str(tmp_path / "t3")
    cur = backup_path(tbl3)
    os.makedirs(cur)
    open(os.path.join(cur, "marker-current"), "w").write("x")
    os.makedirs(tbl3 + "._old")
    recover_swap(tbl3)
    assert os.path.exists(os.path.join(tbl3, "marker-current"))


def test_table_checksum_flags_exactly_the_diverged_chunk(spark):
    """pt-table-checksum pattern: identical tables produce an empty
    diff; corrupting one row (and separately, dropping one row) flags
    exactly that key's chunk and no other."""
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.stats import checksum_diff, table_checksum

    src = spark.range(0, 500).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.when(F.col("id") % 7 == 0, None).otherwise(F.lit("x")).alias("w"),
    )
    args = ("k", ["k", "v", "w"], 16)
    assert checksum_diff(
        table_checksum(src, *args), table_checksum(src, *args)
    ).count() == 0

    corrupted = src.withColumn(
        "v", F.when(F.col("k") == 123, F.lit("CORRUPT")).otherwise(F.col("v"))
    )
    diff = checksum_diff(
        table_checksum(src, *args), table_checksum(corrupted, *args)
    ).collect()
    assert [r.chunk for r in diff] == [123 % 16]
    assert diff[0].src_rows == diff[0].rep_rows  # same count, different content

    dropped = src.filter(F.col("k") != 321)
    diff2 = checksum_diff(
        table_checksum(src, *args), table_checksum(dropped, *args)
    ).collect()
    assert [r.chunk for r in diff2] == [321 % 16]
    assert diff2[0].src_rows == diff2[0].rep_rows + 1

    # NULL vs the string the sentinel guards against: not a collision
    swapped = src.withColumn(
        "w",
        F.when(F.col("k") == 7, F.lit("x"))  # was NULL (7 % 7 == 0)
        .otherwise(F.col("w")),
    ).withColumn(
        "v",
        F.when(F.col("k") == 7, F.lit(None).cast("string"))
        .otherwise(F.col("v")),
    )
    diff3 = checksum_diff(
        table_checksum(src, *args), table_checksum(swapped, *args)
    ).collect()
    assert [r.chunk for r in diff3] == [7]


def test_repair_chunks_converges_replica_to_source(spark, tmp_path):
    """detect → repair → re-verify: after repairing exactly the chunks
    checksum_diff flagged, the replica's checksums equal the source's
    everywhere, and untouched rows are byte-identical survivors."""
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.stats import (
        checksum_diff,
        repair_chunks,
        table_checksum,
    )

    src = spark.range(0, 400).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    replica_dir = str(tmp_path / "replica")
    # replica diverges three ways: a corrupted row, a missing row, a phantom
    (
        src.withColumn(
            "v", F.when(F.col("k") == 50, F.lit("BAD")).otherwise(F.col("v"))
        )
        .filter(F.col("k") != 123)
        .unionByName(
            spark.createDataFrame([(9999, "phantom")], "k long, v string")
        )
        .write.parquet(replica_dir)
    )

    args = ("k", ["k", "v"], 16)
    diff = checksum_diff(
        table_checksum(src, *args),
        table_checksum(spark.read.parquet(replica_dir), *args),
    ).collect()
    flagged = sorted(r.chunk for r in diff)
    assert flagged == sorted({50 % 16, 123 % 16, 9999 % 16})

    repair_chunks(spark, replica_dir, src, "k", flagged, n_chunks=16)
    assert (
        checksum_diff(
            table_checksum(src, *args),
            table_checksum(spark.read.parquet(replica_dir), *args),
        ).count()
        == 0
    )
    rows = {r.k: r.v for r in spark.read.parquet(replica_dir).collect()}
    assert len(rows) == 400 and rows[50] == "v50" and rows[123] == "v123"
    assert 9999 not in rows


def test_table_checksum_is_order_and_partition_invariant(spark):
    """The checksum must be a pure function of table CONTENT: shuffled
    row order and different partition counts yield identical chunk
    checksums (SUM of row hashes is commutative)."""
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.stats import table_checksum

    src = spark.range(0, 300).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
    )
    base = {
        r.chunk: (r.n_rows, r.checksum)
        for r in table_checksum(src, "k", ["k", "v"], 8).collect()
    }
    for variant in (
        src.orderBy(F.desc("k")),
        src.repartition(13),
        src.repartition(1),
    ):
        got = {
            r.chunk: (r.n_rows, r.checksum)
            for r in table_checksum(variant, "k", ["k", "v"], 8).collect()
        }
        assert got == base


def test_fk_orphans_finds_planted_and_ignores_null_fks(spark):
    """Referential-integrity audit (q131's operator): orphans are child
    rows whose non-NULL FK misses every parent PK; NULL FKs are not
    orphans (SQL FK semantics); a clean parent set yields zero."""
    from wing_binlog_go_spark.operators.stats import fk_orphans

    parent = spark.createDataFrame(
        [(1,), (2,), (3,)], "pk: bigint"
    )
    child = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 99), (13, None), (14, 2)],
        "id: bigint, fk: bigint",
    )
    orphans = fk_orphans(child, parent, "fk", "pk")
    assert sorted(r.id for r in orphans.collect()) == [12]
    clean = fk_orphans(child.filter("fk is null or fk <= 3"), parent, "fk", "pk")
    assert clean.count() == 0


def test_cms_sketch_bounds_and_mergeability(spark, sf_small):
    """Count-Min guarantees on the fixture token stream: estimates
    never undercount; the worst overcount obeys the depth-min Markov
    bound (4·N/width at depth 4 — deterministic fixture, so this is a
    regression pin, not a probabilistic flake); and building per-shard
    sketches then merging equals the whole-corpus build cell-for-cell."""
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.stats import (
        cms_build,
        cms_estimate,
        cms_merge,
    )
    from wing_binlog_go_spark.tables import read_table

    docs = read_table(spark, sf_small, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    width, depth = 64, 4  # small width FORCES collisions (31-word vocab)
    sketch = cms_build(toks, "tok", width=width, depth=depth)
    exact = {r.tok: r.cnt for r in
             toks.groupBy("tok").agg(F.count("*").alias("cnt")).collect()}
    n_total = sum(exact.values())
    probes = toks.select("tok").distinct()
    est = {r.item: r.est for r in
           cms_estimate(sketch, probes, "tok", width=width, depth=depth).collect()}
    assert set(est) == set(exact)
    for tok, true in exact.items():
        assert est[tok] >= true, tok
        assert est[tok] - true <= 4 * n_total / width, (tok, est[tok], true)

    # mergeability: shard sketches sum to the whole-corpus sketch
    a = cms_build(toks.filter("doc_id < 250"), "tok", width=width, depth=depth)
    b = cms_build(toks.filter("doc_id >= 250"), "tok", width=width, depth=depth)
    merged = {(r.j, r.col): r.cnt for r in cms_merge(a, b).collect()}
    whole = {(r.j, r.col): r.cnt for r in sketch.collect()}
    assert merged == whole

    # the registered probe query returns exactly the top-20 estimates
    from wing_binlog_go_spark.registry import all_queries

    q = all_queries()["q149_cms_heavy_hitters"].spark(spark, sf_small)
    rows = q.collect()
    assert len(rows) == 20
    assert all(r.est >= exact[r.tok] for r in rows)


def test_cms_route_end_to_end(spark, tmp_path):
    """The streaming sketch: two batches of docs sketch into per-batch
    partitions; the merged read equals a batch-built sketch of ALL the
    text, and a full changelog replay under a fresh checkpoint changes
    nothing (partition-presence commit — addition would double-count)."""
    import json as _json

    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.stats import cms_build
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline
    from wing_binlog_go_spark.streaming.sinks import (
        cms_sketch_writer,
        read_cms_sketch,
    )

    texts = {
        1: "alpha beta gamma alpha",
        2: "beta delta epsilon",
        3: "alpha zeta zeta eta",
        4: "theta beta alpha",
    }
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    for fi, ids in enumerate([(1, 2), (3, 4)]):
        with open(log_dir / f"f{fi}.jsonl", "w") as f:
            for ev, did in enumerate(ids):
                rec = {
                    "binlog_file": f"mysql-bin.{fi:06d}",
                    "binlog_pos": 4 + ev * 50, "xid_commit": True,
                    "database": "crawl", "table": "documents",
                    "action": "insert", "row_no": 0, "before": None,
                    "after": {"id": str(did), "text": texts[did]},
                    "ddl_query": None,
                    "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
                }
                f.write(_json.dumps(rec) + "\n")

    store = str(tmp_path / "cms")
    route = Route(
        "sketch", cms_sketch_writer(store, "crawl.documents", width=64, depth=4)
    )
    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    await_done(q)
    merged = {(r.j, r.col): r.cnt for r in read_cms_sketch(spark, store).collect()}
    all_toks = spark.createDataFrame(
        [(t,) for txt in texts.values() for t in txt.split(" ")], ["tok"]
    )
    want = {(r.j, r.col): r.cnt
            for r in cms_build(all_toks, "tok", width=64, depth=4).collect()}
    assert merged == want

    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    await_done(q)
    merged2 = {(r.j, r.col): r.cnt for r in read_cms_sketch(spark, store).collect()}
    assert merged2 == want


def test_cms_route_crash_mid_commit_is_retried_not_skipped(spark, tmp_path):
    """Regression (r7 advice): the batch commit is an atomic directory
    rename. A crash mid parquet job leaves only ``_staging`` debris —
    simulated here by pre-seeding a half-written staging dir for the
    first batch's key — and the replayed batch must RE-SKETCH (not skip,
    which would permanently undercount the merged sketch), while the
    staging leftovers stay invisible to the merged read."""
    import json as _json

    from wing_binlog_go_spark.operators.stats import cms_build
    from wing_binlog_go_spark.streaming.maintenance import staging_path
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline
    from wing_binlog_go_spark.streaming.sinks import (
        cms_sketch_writer,
        read_cms_sketch,
    )

    texts = {1: "alpha beta gamma", 2: "beta delta", 3: "alpha zeta"}
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    for fi, ids in enumerate([(1, 2), (3,)]):
        with open(log_dir / f"f{fi}.jsonl", "w") as f:
            for ev, did in enumerate(ids):
                rec = {
                    "binlog_file": f"mysql-bin.{fi:06d}",
                    "binlog_pos": 4 + ev * 50, "xid_commit": True,
                    "database": "crawl", "table": "documents",
                    "action": "insert", "row_no": 0, "before": None,
                    "after": {"id": str(did), "text": texts[did]},
                    "ddl_query": None,
                    "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
                }
                f.write(_json.dumps(rec) + "\n")

    store = tmp_path / "cms"
    # Simulate the crash: batch key 1's parquet job died mid-write.
    # Under the pre-fix layout these files would have lived in the
    # committed bkey=1 path and the replay probe would skip the batch.
    crashed = staging_path(str(store / "bkey=1"))
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-00000.parquet"), "wb") as f:
        f.write(b"torn parquet bytes")

    route = Route(
        "sketch",
        cms_sketch_writer(str(store), "crawl.documents", width=64, depth=4),
    )
    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    await_done(q)
    merged = {(r.j, r.col): r.cnt
              for r in read_cms_sketch(spark, str(store)).collect()}
    all_toks = spark.createDataFrame(
        [(t,) for txt in texts.values() for t in txt.split(" ")], ["tok"]
    )
    want = {(r.j, r.col): r.cnt
            for r in cms_build(all_toks, "tok", width=64, depth=4).collect()}
    assert merged == want  # the crashed batch was re-sketched, once


def test_cms_route_pre_rename_debris_is_not_a_commit(spark, tmp_path):
    """Regression (r8 advice): a store created by the PRE-rename
    append-mode writer could crash leaving a bare ``bkey=N`` directory
    with no parquet files. The replay probe must treat that as
    NOT-committed (dir + parquet-presence, not bare isdir) and the
    writer must clear the debris before its commit rename — otherwise
    the batch is skipped forever and the merged sketch undercounts."""
    import json as _json

    from wing_binlog_go_spark.operators.stats import cms_build
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline
    from wing_binlog_go_spark.streaming.sinks import (
        cms_sketch_writer,
        read_cms_sketch,
    )

    texts = {1: "alpha beta gamma", 2: "beta delta"}
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    with open(log_dir / "f0.jsonl", "w") as f:
        for ev, did in enumerate(sorted(texts)):
            rec = {
                "binlog_file": "mysql-bin.000000",
                "binlog_pos": 4 + ev * 50, "xid_commit": True,
                "database": "crawl", "table": "documents",
                "action": "insert", "row_no": 0, "before": None,
                "after": {"id": str(did), "text": texts[did]},
                "ddl_query": None,
                "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
            }
            f.write(_json.dumps(rec) + "\n")

    store = tmp_path / "cms"
    # pre-upgrade crash debris: the committed path exists but holds no
    # parquet (only a stray non-data marker)
    debris = store / "bkey=1"
    debris.mkdir(parents=True)
    (debris / "_SUCCESS").write_bytes(b"")

    route = Route(
        "sketch",
        cms_sketch_writer(str(store), "crawl.documents", width=64, depth=4),
    )
    q = run_pipeline(spark, str(log_dir), [route], str(tmp_path / "ckpt"))
    await_done(q)
    merged = {(r.j, r.col): r.cnt
              for r in read_cms_sketch(spark, str(store)).collect()}
    all_toks = spark.createDataFrame(
        [(t,) for txt in texts.values() for t in txt.split(" ")], ["tok"]
    )
    want = {(r.j, r.col): r.cnt
            for r in cms_build(all_toks, "tok", width=64, depth=4).collect()}
    assert merged == want  # the debris batch was sketched, not skipped


def test_misra_gries_guarantees(spark, sf_small):
    """MG bounds on the fixture token stream across multiple real
    partitions: estimates never overcount, total undercount <= N/(k+1),
    and every token with true frequency above that bound is present —
    the enumeration guarantee CMS cannot give."""
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.stats import misra_gries_topk
    from wing_binlog_go_spark.tables import read_table

    docs = read_table(spark, sf_small, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).repartition(8)  # force multi-partition partials + merge
    exact = {r.tok: r.cnt for r in
             toks.groupBy("tok").agg(F.count("*").alias("cnt")).collect()}
    n_total = sum(exact.values())

    k = 16  # < vocabulary size, so the decrement path actually runs
    est = {r.item: r.est for r in misra_gries_topk(toks, "tok", k=k).collect()}
    bound = n_total / (k + 1)
    for item, e in est.items():
        assert e <= exact[item], item          # never overcount
        assert exact[item] - e <= bound, item  # bounded undercount
    for tok, true in exact.items():
        if true > bound:
            assert tok in est, (tok, true, bound)  # heavy => present


def test_misra_gries_counts_exact_bigints_beside_null(spark):
    """A nullable bigint column reaches the per-partition pass as exact
    values: 2^60+1 is not rounded to 2^60 when a NULL shares its
    partition, and the NULL rows count as one item."""
    from wing_binlog_go_spark.operators.stats import misra_gries_topk

    big = 2**60 + 1
    df = spark.createDataFrame(
        [(big,), (big,), (None,), (7,)], "x bigint"
    ).coalesce(1)
    est = {r.item: r.est for r in misra_gries_topk(df, "x", k=4).collect()}
    assert est == {big: 2, None: 1, 7: 1}


def test_mg_route_end_to_end(spark, tmp_path):
    """Streaming MG: per-batch summaries merge to estimates that obey
    the mergeable-summary bounds against the exact stream counts, and
    a full changelog replay under a fresh checkpoint changes nothing."""
    import json as _json

    from pyspark.sql import functions as F

    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline
    from wing_binlog_go_spark.streaming.sinks import (
        mg_sketch_writer,
        read_mg_sketch,
    )

    texts = {
        1: "alpha alpha alpha beta gamma",
        2: "alpha beta delta delta",
        3: "alpha epsilon zeta beta beta",
        4: "alpha theta beta iota",
    }
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    for fi, ids in enumerate([(1, 2), (3, 4)]):
        with open(log_dir / f"f{fi}.jsonl", "w") as f:
            for ev, did in enumerate(ids):
                rec = {
                    "binlog_file": f"mysql-bin.{fi:06d}",
                    "binlog_pos": 4 + ev * 50, "xid_commit": True,
                    "database": "crawl", "table": "documents",
                    "action": "insert", "row_no": 0, "before": None,
                    "after": {"id": str(did), "text": texts[did]},
                    "ddl_query": None,
                    "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
                }
                f.write(_json.dumps(rec) + "\n")

    store = str(tmp_path / "mg")
    route = Route("mg", mg_sketch_writer(store, "crawl.documents", k=4))
    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    await_done(q)
    exact: dict = {}
    for txt in texts.values():
        for t in txt.split(" "):
            exact[t] = exact.get(t, 0) + 1
    n_total = sum(exact.values())
    est = {r.item: r.est for r in read_mg_sketch(spark, store).collect()}
    # never overcount; undercount bounded by sum of per-batch N_i/(k+1)
    bound = n_total / (4 + 1)
    for item, e in est.items():
        assert e <= exact[item], item
        assert exact[item] - e <= bound, (item, e, exact[item])
    # the stream-wide heaviest items are present ('alpha' 6x, 'beta' 5x)
    assert "alpha" in est and "beta" in est

    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    await_done(q)
    assert {r.item: r.est for r in read_mg_sketch(spark, store).collect()} == est


def test_knn_graph_route_end_to_end(spark, tmp_path):
    """The kNN graph as a pipeline route: embedding INSERTs across two
    micro-batches maintain the store; the final graph equals the batch
    build over all vectors, and a full changelog replay under a fresh
    checkpoint changes nothing (id-presence + batch-named cluster
    rebuild)."""
    import json as _json

    import numpy as np

    from wing_binlog_go_spark.operators.similarity import (
        knn_graph_clustered,
        read_knn_graph,
    )
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline
    from wing_binlog_go_spark.streaming.sinks import knn_graph_writer

    rng = np.random.RandomState(77)
    vecs = {i: rng.normal(0, 1, 16) for i in range(1, 9)}
    cents = [list(map(float, rng.normal(0, 1, 16))) for _ in range(3)]

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    for fi, ids in enumerate([(1, 2, 3, 4), (5, 6, 7, 8)]):
        with open(log_dir / f"f{fi}.jsonl", "w") as f:
            for ev, did in enumerate(ids):
                rec = {
                    "binlog_file": f"mysql-bin.{fi:06d}",
                    "binlog_pos": 4 + ev * 50, "xid_commit": True,
                    "database": "crawl", "table": "vectors",
                    "action": "insert", "row_no": 0, "before": None,
                    "after": {
                        "id": str(did),
                        "embedding": _json.dumps(
                            [float(x) for x in vecs[did]]
                        ),
                    },
                    "ddl_query": None,
                    "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
                }
                f.write(_json.dumps(rec) + "\n")

    store = str(tmp_path / "knn")
    route = Route(
        "knn",
        knn_graph_writer(store, "crawl.vectors", k=3, centroids=cents),
    )
    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    await_done(q)
    all_vecs = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    want = {
        (r.src, r.dst, r.rnk)
        for r in knn_graph_clustered(all_vecs, cents, k=3).collect()
    }
    got = {
        (r.src, r.dst, r.rnk)
        for r in read_knn_graph(spark, store).collect()
    }
    assert got == want and want  # non-trivial graph

    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    await_done(q)
    assert {
        (r.src, r.dst, r.rnk) for r in read_knn_graph(spark, store).collect()
    } == want


def _env_batch(spark, rows, db="crawl", table="documents"):
    """rows: (event_type, event_index, data-map) under the normalized
    envelope schema — the direct-call form the incremental-agg tests
    use, here for the store routes' insert-only contract."""
    from wing_binlog_go_spark.functions.envelope import EVENT_SCHEMA

    return spark.createDataFrame(
        [
            (db, table, et, 0, idx, {"data": d, "old_data": None, "new_data": None})
            for et, idx, d in rows
        ],
        EVENT_SCHEMA,
    )


def test_store_routes_raise_on_retraction(spark, tmp_path):
    """The store-maintaining routes share the aggregate maintainers'
    loud insert-only contract (r8 verdict): a DELETE or UPDATE envelope
    for the maintained table must raise, not silently ghost the store
    — one representative per family (text corpus, mergeable sketch,
    vector store/graph)."""
    import numpy as np
    import pytest

    from wing_binlog_go_spark.streaming.sinks import (
        cms_sketch_writer,
        dedup_corpus_writer,
        knn_graph_writer,
    )

    vec = "[" + ", ".join(str(x) for x in np.arange(16) / 16.0) + "]"
    cents = [[float(i == j) for j in range(16)] for i in range(2)]
    writers = {
        "dedup": dedup_corpus_writer(str(tmp_path / "d"), "crawl.documents"),
        "cms": cms_sketch_writer(str(tmp_path / "c"), "crawl.documents"),
        "knn": knn_graph_writer(
            str(tmp_path / "g"), "crawl.documents",
            vec_field="embedding", centroids=cents,
        ),
    }
    mixed = _env_batch(
        spark,
        [
            ("insert", 1, {"id": "1", "text": "alpha beta",
                           "embedding": vec}),
            ("delete", 2, {"id": "1", "text": "alpha beta",
                           "embedding": vec}),
        ],
    )
    update_only = _env_batch(
        spark,
        [("update", 3, {"id": "1", "text": "alpha", "embedding": vec})],
    )
    for name, w in writers.items():
        with pytest.raises(ValueError, match="insert-only"):
            w(mixed, 0)
        with pytest.raises(ValueError, match="insert-only"):
            w(update_only, 1)


def test_store_routes_tolerate_alter_and_other_tables(spark, tmp_path):
    """The probe's two deliberate pass-throughs: ALTER on the maintained
    table (DDL, no row image — the aggregate maintainers' skip rule) and
    retractions on OTHER tables sharing the stream must NOT raise; the
    batch's inserts still apply."""
    from wing_binlog_go_spark.streaming.sinks import (
        dedup_corpus_writer,
        read_dedup_corpus,
    )

    store = str(tmp_path / "d")
    w = dedup_corpus_writer(store, "crawl.documents")
    batch = _env_batch(
        spark,
        [
            ("insert", 1, {"id": "1", "text": "alpha beta gamma"}),
            ("alter", 2, None),
        ],
    ).unionByName(
        _env_batch(
            spark,
            [("delete", 3, {"id": "9", "text": "other row"})],
            table="orders",
        )
    )
    w(batch, 0)
    got = {(r.doc_id, r.text) for r in read_dedup_corpus(spark, store).collect()}
    assert got == {(1, "alpha beta gamma")}


def test_retraction_runbook_raise_delete_offline_resume(spark, tmp_path):
    """The full retraction runbook on the kNN-graph route: (1) inserts
    maintain the store; (2) a DELETE envelope makes the route raise —
    the batch is NOT applied, the store is untouched; (3) the operator
    runs the offline knn_graph_delete; (4) the stream resumes with new
    inserts and the final graph equals the batch build over exactly
    the surviving + new vectors."""
    import json as _json

    import numpy as np
    import pytest

    from wing_binlog_go_spark.operators.similarity import (
        knn_graph_clustered,
        knn_graph_delete,
        read_knn_graph,
    )
    from wing_binlog_go_spark.streaming.sinks import knn_graph_writer

    cents = [[1.0] + [0.0] * 15, [0.0, 1.0] + [0.0] * 14]
    rng = np.random.RandomState(3)

    def vec(c):
        return [float(x) for x in np.array(cents[c]) + rng.normal(0, 0.01, 16)]

    store = str(tmp_path / "g")
    w = knn_graph_writer(
        store, "crawl.documents", vec_field="embedding", centroids=cents, k=3
    )
    first = {i: vec(i % 2) for i in range(1, 9)}
    w(
        _env_batch(
            spark,
            [("insert", i, {"id": str(i), "embedding": _json.dumps(v)})
             for i, v in first.items()],
        ),
        0,
    )
    before = {
        (r.src, r.dst, r.rnk) for r in read_knn_graph(spark, store).collect()
    }

    # (2) the retraction batch fails LOUDLY and applies nothing
    poison = _env_batch(
        spark,
        [
            ("insert", 20, {"id": "20", "embedding": _json.dumps(vec(0))}),
            ("delete", 21, {"id": "3", "embedding": _json.dumps(first[3])}),
        ],
    )
    with pytest.raises(ValueError, match="insert-only"):
        w(poison, 1)
    assert {
        (r.src, r.dst, r.rnk) for r in read_knn_graph(spark, store).collect()
    } == before

    # (3) the operator applies the retraction offline
    st = knn_graph_delete(spark, store, [3], k=3)
    assert st["deleted"] == 1

    # (4) the stream resumes; the insert the poison batch carried is
    # re-delivered in the healed batch (at-least-once replay)
    w(
        _env_batch(
            spark,
            [("insert", 20, {"id": "20", "embedding": _json.dumps(vec(0))})],
        ),
        2,
    )
    # expected = the batch build over the store's OWN vector set (no
    # RNG bookkeeping): id 3 must be gone, id 20 present
    import os

    from pyspark.sql import functions as F

    vecs = spark.read.parquet(os.path.join(store, "vectors")).select(
        "vec_id", F.col("vector").alias("embedding")
    )
    ids = {r.vec_id for r in vecs.select("vec_id").collect()}
    assert 3 not in ids and 20 in ids and len(ids) == 8
    want = {
        (r.src, r.dst, r.rnk)
        for r in knn_graph_clustered(vecs, cents, k=3).collect()
    }
    assert {
        (r.src, r.dst, r.rnk) for r in read_knn_graph(spark, store).collect()
    } == want


def test_kmv_sketch_is_mergeable_and_exact_when_not_full(spark):
    """KMV merge law: the bottom-k of a union equals the bottom-k of
    the parts' bottom-k's (the property that makes the sketch a
    mergeable partial aggregate); below k distinct keys the estimate
    is the EXACT count."""
    from wing_binlog_go_spark.operators.stats import (
        _KMV_K,
        kmv_distinct_sketch,
    )

    lo = spark.range(0, 9000).selectExpr("id AS k")
    hi = spark.range(9000, 20000).selectExpr("id AS k")
    both = lo.union(hi)

    full = kmv_distinct_sketch(both, "k").collect()
    part_hashes = [
        r.h
        for part in (lo, hi)
        for r in kmv_distinct_sketch(part, "k").collect()
    ]
    merged = sorted(set(part_hashes))[:_KMV_K]
    assert [r.h for r in sorted(full, key=lambda r: r.rnk)] == merged

    # not-full branch: estimate == exact distinct count
    small = spark.range(0, 100).selectExpr("CAST(id % 37 AS STRING) AS k")
    rows = kmv_distinct_sketch(small, "k").collect()
    assert len(rows) <= 37
    assert all(r.est_distinct == float(len(rows)) for r in rows)

    # full branch: estimate within 3 standard errors of the truth
    est = full[0].est_distinct
    se = 1.0 / (_KMV_K - 2) ** 0.5
    assert abs(est - 20000) / 20000 < 3 * se


def test_kmv_route_end_to_end_and_insert_only(spark, tmp_path):
    """The streaming distinct-count sketch: two batches of keys sketch
    into per-batch partitions; the merged read equals the batch-built
    sketch over ALL the keys (closure under union), a replay under a
    fresh checkpoint changes nothing, and a DELETE envelope raises —
    the family's loud retraction contract."""
    import json as _json

    import pytest

    from wing_binlog_go_spark.operators.stats import kmv_distinct_sketch
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline
    from wing_binlog_go_spark.streaming.sinks import (
        kmv_sketch_writer,
        read_kmv_sketch,
    )

    users = {1: "u_100", 2: "u_200", 3: "u_100", 4: "u_300"}  # 3 distinct
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    for fi, ids in enumerate([(1, 2), (3, 4)]):
        with open(log_dir / f"f{fi}.jsonl", "w") as f:
            for ev, did in enumerate(ids):
                rec = {
                    "binlog_file": f"mysql-bin.{fi:06d}",
                    "binlog_pos": 4 + ev * 50, "xid_commit": True,
                    "database": "crawl", "table": "sessions",
                    "action": "insert", "row_no": 0, "before": None,
                    "after": {"id": str(did), "user": users[did]},
                    "ddl_query": None,
                    "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
                }
                f.write(_json.dumps(rec) + "\n")

    store = str(tmp_path / "kmv")
    route = Route(
        "kmv",
        kmv_sketch_writer(store, "crawl.sessions", key_field="user", k=8),
    )
    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    await_done(q)
    merged = read_kmv_sketch(spark, store, k=8).collect()
    all_keys = spark.createDataFrame(
        [(u,) for u in users.values()], ["user"]
    )
    want = kmv_distinct_sketch(all_keys, "user", k=8).collect()
    key = lambda rows: sorted((r.rnk, r.h, r.est_distinct) for r in rows)
    assert key(merged) == key(want)
    assert merged[0].est_distinct == 3.0  # not-full branch: exact

    # replay under a fresh checkpoint: bottom-k is idempotent AND the
    # commit probe skips, so the store is unchanged either way
    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    await_done(q)
    assert key(read_kmv_sketch(spark, store, k=8).collect()) == key(want)

    # a DELETE envelope on the maintained table raises loudly
    del_log = tmp_path / "dlog"
    del_log.mkdir()
    with open(del_log / "f0.jsonl", "w") as f:
        f.write(_json.dumps({
            "binlog_file": "mysql-bin.000009", "binlog_pos": 4,
            "xid_commit": True, "database": "crawl", "table": "sessions",
            "action": "delete", "row_no": 0,
            "before": {"id": "1", "user": "u_100"}, "after": None,
            "ddl_query": None,
            "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
        }) + "\n")
    q = run_pipeline(
        spark, str(del_log), [route], str(tmp_path / "ckpt3"),
        max_files_per_trigger=1,
    )
    with pytest.raises(Exception, match="insert-only"):
        await_done(q)
        q.processAllAvailable()


def _qdigest_reference(counts, bits=10, k=64):
    """Independent pure-Python q-digest (Shrivastava et al. compress)."""
    n = sum(counts.values())
    t = n // k
    nodes = dict(counts)
    for depth in range(bits, 0, -1):
        lo, hi = 1 << depth, 1 << (depth + 1)
        cur = {i: c for i, c in nodes.items() if lo <= i < hi}
        for pid in sorted({i // 2 for i in cur}):
            fam = cur.get(2 * pid, 0) + cur.get(2 * pid + 1, 0) + nodes.get(pid, 0)
            if fam <= t:
                nodes.pop(2 * pid, None)
                nodes.pop(2 * pid + 1, None)
                if fam > 0:
                    nodes[pid] = fam
    return nodes


def test_qdigest_matches_reference_and_merges(spark):
    """qdigest_build equals the independent reference on random
    multisets; quantile estimates respect the bits/k rank-error bound;
    and union-then-recompress (the MERGE) equals the reference digest
    of the union — the mergeability the streaming store family needs."""
    import bisect
    import random

    from collections import Counter

    from wing_binlog_go_spark.operators.stats import (
        qdigest_build,
        qdigest_compress,
        qdigest_quantiles,
    )

    bits, k = 10, 64
    rng = random.Random(31)
    vals = [min(1023, max(0, int(rng.gauss(400, 150)))) for _ in range(4000)]

    df = spark.createDataFrame([(v,) for v in vals], "n_chars long")
    got = {r.id: r.cnt for r in qdigest_build(df, "n_chars", bits, k).collect()}
    want = _qdigest_reference(
        {v + (1 << bits): c for v, c in Counter(vals).items()}, bits, k
    )
    assert got == want

    # ranges: every digest row's [lo, hi] must be the id's dyadic span
    for r in qdigest_build(df, "n_chars", bits, k).collect():
        level = r.id.bit_length() - 1
        span = 1 << (bits - level)
        assert r.lo == (r.id - (1 << level)) * span
        assert r.hi == r.lo + span - 1

    # quantiles: rank error within bits/k of n
    sv = sorted(vals)
    n = len(sv)
    ests = {
        r.q_permille: r.est
        for r in qdigest_quantiles(
            qdigest_build(df, "n_chars", bits, k), [100, 500, 900]
        ).collect()
    }
    for qpm, est in ests.items():
        r_est = bisect.bisect_right(sv, est)
        assert abs(r_est - qpm * n / 1000.0) <= (bits / k) * n + 1

    # merge law: digest(A) ∪ digest(B) recompressed == reference(A ∪ B
    # leaf counts merged at the NODE level) — closure under union
    a, b = vals[:2000], vals[2000:]
    da = {r.id: r.cnt for r in qdigest_build(
        spark.createDataFrame([(v,) for v in a], "n_chars long"),
        "n_chars", bits, k).collect()}
    db = {r.id: r.cnt for r in qdigest_build(
        spark.createDataFrame([(v,) for v in b], "n_chars long"),
        "n_chars", bits, k).collect()}
    u = Counter(da)
    u.update(db)
    union_df = spark.createDataFrame(
        [(i, c) for i, c in u.items()], "id long, cnt long"
    )
    merged = {r.id: r.cnt for r in qdigest_compress(union_df, bits, k).collect()}
    assert merged == _qdigest_reference(dict(u), bits, k)


def test_qdigest_route_end_to_end_and_insert_only(spark, tmp_path):
    """The streaming quantile sketch: per-batch digests land in
    partitions; the merged read equals the node-wise union of the batch
    digests recompressed (the paper's merge, checked against the
    pure-Python reference); quantiles off the merged digest respect the
    rank bound; replay is a no-op; DELETE raises."""
    import bisect
    import json as _json

    from collections import Counter

    import pytest

    from wing_binlog_go_spark.operators.stats import qdigest_quantiles
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline
    from wing_binlog_go_spark.streaming.sinks import (
        qdigest_sketch_writer,
        read_qdigest_sketch,
    )

    import random

    rng = random.Random(41)
    vals = {i: min(1023, max(0, int(rng.gauss(300, 140)))) for i in range(1, 41)}
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    batches = [list(range(1, 21)), list(range(21, 41))]
    for fi, ids in enumerate(batches):
        with open(log_dir / f"f{fi}.jsonl", "w") as f:
            for ev, did in enumerate(ids):
                rec = {
                    "binlog_file": f"mysql-bin.{fi:06d}",
                    "binlog_pos": 4 + ev * 50, "xid_commit": True,
                    "database": "metrics", "table": "samples",
                    "action": "insert", "row_no": 0, "before": None,
                    "after": {"id": str(did), "v": str(vals[did])},
                    "ddl_query": None,
                    "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
                }
                f.write(_json.dumps(rec) + "\n")

    store = str(tmp_path / "qd")
    route = Route(
        "qd",
        qdigest_sketch_writer(store, "metrics.samples", value_field="v", k=8),
    )
    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    await_done(q)
    merged = {r.id: r.cnt for r in read_qdigest_sketch(spark, store, k=8).collect()}
    # reference: recompress the node-wise union of the two batch digests
    from pyspark.sql import functions as F

    parts = spark.read.parquet(store).groupBy("id").agg(
        F.sum("cnt").alias("cnt")
    )
    u = {r.id: r.cnt for r in parts.collect()}
    assert merged == _qdigest_reference(dict(Counter(u)), 10, 8)

    # quantiles off the merged digest: rank error within bits/k
    sv = sorted(vals.values())
    n = len(sv)
    mdf = spark.createDataFrame(
        [(i, c) for i, c in merged.items()], "id long, cnt long"
    )
    level = lambda i: i.bit_length() - 1
    rows = [
        (i, (i - (1 << level(i))) * (1 << (10 - level(i))),
         (i - (1 << level(i)) + 1) * (1 << (10 - level(i))) - 1, c)
        for i, c in merged.items()
    ]
    spans = spark.createDataFrame(rows, "id long, lo long, hi long, cnt long")
    for r in qdigest_quantiles(spans, [500, 900]).collect():
        r_est = bisect.bisect_right(sv, r.est)
        assert abs(r_est - r.q_permille * n / 1000.0) <= (10 / 8) * n + 1

    # replay under a fresh checkpoint: store unchanged
    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    await_done(q)
    merged2 = {r.id: r.cnt for r in read_qdigest_sketch(spark, store, k=8).collect()}
    assert merged2 == merged

    # DELETE raises loudly
    del_log = tmp_path / "dlog"
    del_log.mkdir()
    with open(del_log / "f0.jsonl", "w") as f:
        f.write(_json.dumps({
            "binlog_file": "mysql-bin.000009", "binlog_pos": 4,
            "xid_commit": True, "database": "metrics", "table": "samples",
            "action": "delete", "row_no": 0,
            "before": {"id": "1", "v": "10"}, "after": None,
            "ddl_query": None,
            "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
        }) + "\n")
    q = run_pipeline(
        spark, str(del_log), [route], str(tmp_path / "ckpt3"),
        max_files_per_trigger=1,
    )
    with pytest.raises(Exception, match="insert-only"):
        await_done(q)
        q.processAllAvailable()


def test_drift_monitor_route(spark, tmp_path):
    """Streaming PSI drift: the first batch freezes the reference
    profile; a same-distribution batch scores low, a shifted source
    scores high; replay is a no-op; UPDATE/DELETE envelopes are ignored
    (arrival measurements, the curation_stats posture — no raise)."""
    import json as _json
    import os
    import random

    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline
    from wing_binlog_go_spark.streaming.sinks import (
        drift_monitor_writer,
        read_drift_monitor,
    )

    rng = random.Random(47)
    log_dir = tmp_path / "log"
    log_dir.mkdir()

    def rec(fi, pos, did, src, v, action="insert"):
        body = {"id": str(did), "src": src, "len": str(v)}
        return {
            "binlog_file": f"mysql-bin.{fi:06d}", "binlog_pos": pos,
            "xid_commit": True, "database": "crawl", "table": "docs",
            "action": action, "row_no": 0,
            "before": None if action == "insert" else body,
            "after": body if action == "insert" else None,
            "ddl_query": None,
            "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
        }

    # batch 1 (reference): two sources, values ~N(300, 80)
    with open(log_dir / "f0.jsonl", "w") as f:
        for i in range(1, 81):
            v = min(1023, max(0, int(rng.gauss(300, 80))))
            f.write(_json.dumps(rec(0, 4 + i * 30, i, f"s{i % 2}", v)) + "\n")
    # batch 2: s0 stays on-profile, s1 SHIFTS to ~N(800, 40); one
    # delete and one update ride along and must be ignored
    with open(log_dir / "f1.jsonl", "w") as f:
        for i in range(101, 141):
            on = i % 2 == 0
            v = min(1023, max(0, int(rng.gauss(300 if on else 800, 80 if on else 40))))
            f.write(_json.dumps(rec(1, 4 + i * 30, i, "s0" if on else "s1", v)) + "\n")
        f.write(_json.dumps(rec(1, 9000, 1, "s0", 300, action="delete")) + "\n")

    store = str(tmp_path / "drift")
    route = Route(
        "drift",
        drift_monitor_writer(store, "crawl.docs", value_field="len",
                             group_field="src"),
    )
    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    await_done(q)
    assert os.path.exists(os.path.join(store, "reference.json"))
    rows = {(r.bkey, r.source): r for r in read_drift_monitor(spark, store).collect()}
    # two batches x (2 sources + __all__) rows
    assert {b for b, _ in rows} == {1, 101}
    b2_on = rows[(101, "s0")].psi_r
    b2_off = rows[(101, "s1")].psi_r
    assert b2_off > 0.25, (b2_on, b2_off)   # the shifted source alarms
    assert b2_off > 4 * b2_on               # and clearly above the stable one

    # replay under a fresh checkpoint: same rows, reference unchanged
    with open(os.path.join(store, "reference.json")) as f:
        ref1 = _json.load(f)
    q = run_pipeline(
        spark, str(log_dir), [route], str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    await_done(q)
    rows2 = {(r.bkey, r.source): r.psi_r
             for r in read_drift_monitor(spark, store).collect()}
    assert rows2 == {k: v.psi_r for k, v in rows.items()}
    with open(os.path.join(store, "reference.json")) as f:
        assert _json.load(f) == ref1


def test_qdigest_grouped_equals_per_group_builds(spark):
    """The grouped compress maintains INDEPENDENT digests: for each
    group, the grouped build's nodes equal a standalone build over just
    that group's values (thresholds are per-group, families never mix),
    and per-group quantiles equal the ungrouped extractor run on each
    slice."""
    import random

    from wing_binlog_go_spark.operators.stats import (
        qdigest_build,
        qdigest_quantiles,
        qdigest_quantiles_by_group,
    )

    rng = random.Random(53)
    rows = []
    for g, (mu, sd, n) in {"a": (200, 60, 900), "b": (700, 90, 400)}.items():
        rows += [(g, min(1023, max(0, int(rng.gauss(mu, sd))))) for _ in range(n)]
    df = spark.createDataFrame(rows, "g string, v long")

    grouped = qdigest_build(df, "v", k=32, group_col="g")
    by_group = {
        g: {r.id: r.cnt for r in grouped.filter(f"g = '{g}'").collect()}
        for g in ("a", "b")
    }
    for g in ("a", "b"):
        solo = qdigest_build(df.filter(f"g = '{g}'"), "v", k=32)
        assert by_group[g] == {r.id: r.cnt for r in solo.collect()}, g

    got = {
        (r.g, r.q_permille): r.est
        for r in qdigest_quantiles_by_group(grouped, [500, 900], "g").collect()
    }
    for g in ("a", "b"):
        solo = qdigest_build(df.filter(f"g = '{g}'"), "v", k=32)
        for r in qdigest_quantiles(solo, [500, 900]).collect():
            assert got[(g, r.q_permille)] == r.est, (g, r.q_permille)


def test_kmv_set_ops_accuracy(spark):
    """KMV set algebra vs exact truth on planted integer sets with a
    known overlap: every estimate within 3 standard errors."""
    from wing_binlog_go_spark.operators.stats import _KMV_K, kmv_set_ops

    # |A| = 6000, |B| = 5000, |A∩B| = 1500 → J = 1500/9500
    a = spark.range(0, 6000).selectExpr("id AS k")
    b = spark.range(4500, 9500).selectExpr("id AS k")
    row = kmv_set_ops(a, b).collect()[0]
    se = 1.0 / (_KMV_K - 2) ** 0.5
    assert abs(row.est_a - 6000) / 6000 < 3 * se
    assert abs(row.est_b - 5000) / 5000 < 3 * se
    assert abs(row.est_union - 9500) / 9500 < 3 * se
    j = 1500 / 9500
    jse = (j * (1 - j) / _KMV_K) ** 0.5
    assert abs(row.jacc_r - j) < 4 * jse + 2 * 3 * se * j
    assert abs(row.est_intersection - 1500) / 1500 < 0.35


def test_compact_sketch_store_preserves_answers_and_blocks_replays(spark, tmp_path):
    """compact_sketch_store: after collapsing N bkey partitions to one,
    every reader returns BIT-IDENTICAL answers (the stored form is the
    merged-but-uncompressed table the readers merge anyway), a full
    changelog replay under a fresh checkpoint is still a no-op (the
    _compacted.json manifest blocks absorbed bkeys), and re-running the
    compaction converges."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from wing_binlog_go_spark.streaming.maintenance import (
        compact_sketch_store,
    )
    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline
    from wing_binlog_go_spark.streaming.sinks import (
        cms_sketch_writer,
        kmv_sketch_writer,
        read_cms_sketch,
        read_kmv_sketch,
    )

    texts = {
        1: "alpha beta gamma alpha", 2: "beta delta epsilon",
        3: "alpha zeta zeta eta", 4: "theta beta alpha",
        5: "iota kappa alpha", 6: "beta beta lambda",
    }
    log_dir = tmp_path / "log"
    log_dir.mkdir()
    for fi, ids in enumerate([(1, 2), (3, 4), (5, 6)]):
        with open(log_dir / f"f{fi}.jsonl", "w") as f:
            for ev, did in enumerate(ids):
                f.write(_json.dumps({
                    "binlog_file": f"mysql-bin.{fi:06d}",
                    "binlog_pos": 4 + ev * 50, "xid_commit": True,
                    "database": "crawl", "table": "documents",
                    "action": "insert", "row_no": 0, "before": None,
                    "after": {"id": str(did), "text": texts[did]},
                    "ddl_query": None,
                    "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
                }) + "\n")

    cms_store = str(tmp_path / "cms")
    kmv_store = str(tmp_path / "kmv")
    routes = [
        Route("cms", cms_sketch_writer(cms_store, "crawl.documents",
                                       width=64, depth=4)),
        Route("kmv", kmv_sketch_writer(kmv_store, "crawl.documents",
                                       key_field="text", k=8)),
    ]
    q = run_pipeline(
        spark, str(log_dir), routes, str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    await_done(q)
    want_cms = {(r.j, r.col): r.cnt
                for r in read_cms_sketch(spark, cms_store).collect()}
    want_kmv = [(r.rnk, r.h, r.est_distinct)
                for r in read_kmv_sketch(spark, kmv_store, k=8)
                .orderBy("rnk").collect()]
    n_parts = lambda d: sum(1 for e in os.listdir(d) if e.startswith("bkey="))
    assert n_parts(cms_store) == 3 and n_parts(kmv_store) == 3

    st = compact_sketch_store(spark, cms_store, "cms")
    assert len(st["absorbed"]) == 3
    st2 = compact_sketch_store(spark, kmv_store, "kmv", k=8)
    assert len(st2["absorbed"]) == 3
    assert n_parts(cms_store) == 1 and n_parts(kmv_store) == 1

    got_cms = {(r.j, r.col): r.cnt
               for r in read_cms_sketch(spark, cms_store).collect()}
    got_kmv = [(r.rnk, r.h, r.est_distinct)
               for r in read_kmv_sketch(spark, kmv_store, k=8)
               .orderBy("rnk").collect()]
    assert got_cms == want_cms
    assert got_kmv == want_kmv

    # replay the WHOLE changelog under a fresh checkpoint: absorbed
    # bkeys are blocked by the manifest, the surviving partition by
    # presence — the additive CMS sketch must NOT double-count
    q = run_pipeline(
        spark, str(log_dir), routes, str(tmp_path / "ckpt2"),
        max_files_per_trigger=1,
    )
    await_done(q)
    assert {(r.j, r.col): r.cnt
            for r in read_cms_sketch(spark, cms_store).collect()} == want_cms
    assert n_parts(cms_store) == 1  # no partition was re-created

    # compaction of a single partition is a no-op
    assert compact_sketch_store(spark, cms_store, "cms")["absorbed"] == []


def test_compact_sketch_store_mg_and_qdigest_kinds(spark, tmp_path):
    """The two remaining merge kinds: MG (summed estimates) and
    Q-digest (node-wise summed counts — stored UNCOMPRESSED so the
    reader's recompress is bit-identical before and after)."""
    import os

    from wing_binlog_go_spark.streaming.maintenance import compact_sketch_store
    from wing_binlog_go_spark.streaming.sinks import (
        read_mg_sketch,
        read_qdigest_sketch,
    )

    mg_store = str(tmp_path / "mg")
    for bkey, items in [(1, [("a", 3), ("b", 1)]), (5, [("a", 2), ("c", 4)])]:
        spark.createDataFrame(items, "item string, est long").write.parquet(
            os.path.join(mg_store, f"bkey={bkey}")
        )
    want_mg = {r.item: r.est for r in read_mg_sketch(spark, mg_store).collect()}
    assert want_mg == {"a": 5, "b": 1, "c": 4}
    st = compact_sketch_store(spark, mg_store, "mg")
    assert st["absorbed"] == [1, 5]
    assert {r.item: r.est
            for r in read_mg_sketch(spark, mg_store).collect()} == want_mg

    qd_store = str(tmp_path / "qd")
    for bkey, nodes in [(1, [(1024 + 7, 9), (1024 + 8, 3)]),
                        (9, [(1024 + 7, 2), (1024 + 100, 5)])]:
        spark.createDataFrame(nodes, "id long, cnt long").write.parquet(
            os.path.join(qd_store, f"bkey={bkey}")
        )
    want_qd = {r.id: r.cnt
               for r in read_qdigest_sketch(spark, qd_store, k=4).collect()}
    compact_sketch_store(spark, qd_store, "qdigest")
    assert sum(1 for e in os.listdir(qd_store) if e.startswith("bkey=")) == 1
    got_qd = {r.id: r.cnt
              for r in read_qdigest_sketch(spark, qd_store, k=4).collect()}
    assert got_qd == want_qd
    # the compacted partition stores the UNCOMPRESSED node sums
    raw = {r.id: r.cnt
           for r in spark.read.parquet(os.path.join(qd_store, "bkey=1")).collect()}
    assert raw == {1024 + 7: 11, 1024 + 8: 3, 1024 + 100: 5}


def test_compact_sketch_store_crash_windows_converge(spark, tmp_path):
    """The retire/promote window is RESTORABLE (r9 advice): a crash
    anywhere between the staged-merge plan commit and the final cleanup
    leaves either the original partitions or their hidden ``.old``
    copies on disk, and the recovery probe at the next
    ``compact_sketch_store`` entry rolls the run forward — no state
    loses the store, none double-counts."""
    import json as _json
    import os

    from wing_binlog_go_spark.streaming.maintenance import (
        _sketch_compaction_plan_path,
        compact_sketch_store,
        sketch_manifest_path,
    )
    from wing_binlog_go_spark.streaming.sinks import read_mg_sketch

    WANT = {"a": 5, "b": 1, "c": 4}

    def build_store(name):
        store = str(tmp_path / name)
        for bkey, items in [(1, [("a", 3), ("b", 1)]),
                            (5, [("a", 2), ("c", 4)])]:
            spark.createDataFrame(
                items, "item string, est long"
            ).write.parquet(os.path.join(store, f"bkey={bkey}"))
        return store

    def seed_manifest_plan_stage(store):
        """Reproduce the real run's state after the plan commit: the
        manifest, the completed staged merge, and the plan file."""
        with open(sketch_manifest_path(store), "w") as f:
            _json.dump({"absorbed": [1, 5]}, f)
        stage = os.path.join(store, "_staging", "compacted")
        spark.createDataFrame(
            list(WANT.items()), "item string, est long"
        ).write.mode("overwrite").parquet(stage)
        with open(_sketch_compaction_plan_path(store), "w") as f:
            _json.dump({"keep": 1, "parts": [1, 5]}, f)

    def assert_converged(store):
        assert {r.item: r.est
                for r in read_mg_sketch(spark, store).collect()} == WANT
        assert sum(1 for e in os.listdir(store)
                   if e.startswith("bkey=")) == 1
        staging = os.path.join(store, "_staging")
        if os.path.isdir(staging):
            assert not any(e.endswith(".old") or e == "compacted"
                           or e.endswith(".plan.json")
                           for e in os.listdir(staging))
        # the manifest still blocks replays of the absorbed batches
        with open(sketch_manifest_path(store)) as f:
            assert set(_json.load(f)["absorbed"]) == {1, 5}
        # and a re-run is a clean no-op
        assert compact_sketch_store(spark, store, "mg")["absorbed"] == []

    # --- state A: crash MID-RETIRE (the advice's exact window: the old
    # code rmtree'd here and the merge sat invisible under _staging) ---
    st_a = build_store("a")
    seed_manifest_plan_stage(st_a)
    os.rename(os.path.join(st_a, "bkey=1"),
              os.path.join(st_a, "_staging", "bkey=1.old"))
    # bkey=5 still live; promote never happened
    spark.catalog.refreshByPath(st_a)
    compact_sketch_store(spark, st_a, "mg")
    assert_converged(st_a)

    # --- state B: crash AFTER the promote, before cleanup ---
    st_b = build_store("b")
    seed_manifest_plan_stage(st_b)
    os.rename(os.path.join(st_b, "bkey=1"),
              os.path.join(st_b, "_staging", "bkey=1.old"))
    os.rename(os.path.join(st_b, "bkey=5"),
              os.path.join(st_b, "_staging", "bkey=5.old"))
    os.rename(os.path.join(st_b, "_staging", "compacted"),
              os.path.join(st_b, "bkey=1"))  # the promote
    spark.catalog.refreshByPath(st_b)
    compact_sketch_store(spark, st_b, "mg")
    assert_converged(st_b)  # WANT, not doubled: .olds must NOT restore

    # --- state C: crash BEFORE the plan commit (half-written stage) ---
    st_c = build_store("c")
    stage = os.path.join(st_c, "_staging", "compacted")
    spark.createDataFrame(
        [("junk", 99)], "item string, est long"
    ).write.parquet(stage)  # incomplete/stale merge, no plan
    compact_sketch_store(spark, st_c, "mg")
    assert_converged(st_c)


def test_compact_sketch_store_injected_crash_then_rerun(spark, tmp_path, monkeypatch):
    """Drive the REAL compaction and kill it at the promote rename (all
    partitions already retired — the worst point): the next run must
    recover the full store from the ``.old`` copies + staged merge."""
    import os

    from wing_binlog_go_spark.streaming import maintenance as M
    from wing_binlog_go_spark.streaming.sinks import read_mg_sketch

    store = str(tmp_path / "mg")
    for bkey, items in [(1, [("a", 3), ("b", 1)]), (5, [("a", 2), ("c", 4)])]:
        spark.createDataFrame(items, "item string, est long").write.parquet(
            os.path.join(store, f"bkey={bkey}")
        )
    want = {r.item: r.est for r in read_mg_sketch(spark, store).collect()}

    real_rename = os.rename

    def crashing_rename(src, dst):
        if src.endswith(os.path.join("_staging", "compacted")):
            raise RuntimeError("injected crash at the promote")
        real_rename(src, dst)

    monkeypatch.setattr(M.os, "rename", crashing_rename)
    try:
        M.compact_sketch_store(spark, store, "mg")
    except RuntimeError:
        pass
    monkeypatch.setattr(M.os, "rename", real_rename)

    # mid-crash: both partitions retired, merge staged but not promoted
    assert not any(e.startswith("bkey=") for e in os.listdir(store)
                   if os.path.isdir(os.path.join(store, e)))
    assert os.path.isdir(os.path.join(store, "_staging", "compacted"))

    st = M.compact_sketch_store(spark, store, "mg")  # heals, then no-ops
    assert st["absorbed"] == []
    spark.catalog.refreshByPath(store)
    assert {r.item: r.est
            for r in read_mg_sketch(spark, store).collect()} == want
    assert sum(1 for e in os.listdir(store) if e.startswith("bkey=")) == 1


def test_qdigest_writer_filters_non_numeric_values(spark, tmp_path):
    """Non-numeric payloads must be FILTERED, not clamped to bin 0
    (r9 advice): greatest() skips the NULL a failed cast produces, so
    the uncast path silently counted garbage rows at value 0 and skewed
    the low quantiles. The writer now applies drift_monitor_writer's
    cast-and-filter rule."""
    import os

    from wing_binlog_go_spark.streaming.sinks import qdigest_sketch_writer

    store = str(tmp_path / "qd")
    w = qdigest_sketch_writer(store, "crawl.documents", value_field="v",
                              bits=10, k=1024)
    env = _env_batch(spark, [
        ("insert", 1, {"id": "1", "v": "800"}),
        ("insert", 2, {"id": "2", "v": "oops"}),       # non-numeric
        ("insert", 3, {"id": "3", "v": "812"}),
        ("insert", 4, {"id": "4", "v": ""}),           # empty string
        ("insert", 5, {"id": "5", "v": "790"}),
    ])
    w(env, 0)
    nodes = {r.id: r.cnt for r in spark.read.parquet(store).collect()}
    # exactly the 3 numeric rows counted; nothing lands in the 0 leaf
    assert sum(nodes.values()) == 3
    assert (1 << 10) + 0 not in nodes
    assert all(i >= (1 << 10) + 790 for i in nodes)

    # a batch with ONLY unusable values is not an arrival: no partition
    store2 = str(tmp_path / "qd2")
    w2 = qdigest_sketch_writer(store2, "crawl.documents", value_field="v")
    w2(_env_batch(spark, [("insert", 1, {"id": "9", "v": "nope"})]), 0)
    assert not os.path.isdir(store2) or not any(
        e.startswith("bkey=") for e in os.listdir(store2)
    )


def test_sketch_writers_single_probe_action_per_batch(spark, tmp_path, monkeypatch):
    """The sketch routes' batch key now rides in the insert-only
    probe's aggregation (r9 verdict ask #5: per-batch fixed cost is the
    end-to-end/gateway gap): a non-replayed batch must submit exactly
    TWO driver actions — the probe (count + violation + min key in one
    agg) and the staged sketch write — and a replayed batch exactly
    ONE. Actions counted directly; AQE makes job ids the wrong unit."""
    import pyspark.sql.readwriter as _RW

    try:
        import pyspark.sql.classic.dataframe as _D
    except ImportError:  # pragma: no cover - older pyspark
        import pyspark.sql.dataframe as _D

    from wing_binlog_go_spark.streaming.sinks import (
        cms_sketch_writer,
        kmv_sketch_writer,
        mg_sketch_writer,
        qdigest_sketch_writer,
        read_cms_sketch,
    )

    calls = {"count": 0, "collect": 0, "write": 0}
    orig_count, orig_collect = _D.DataFrame.count, _D.DataFrame.collect
    orig_parquet = _RW.DataFrameWriter.parquet
    monkeypatch.setattr(_D.DataFrame, "count",
                        lambda self: (calls.__setitem__("count", calls["count"] + 1),
                                      orig_count(self))[1])
    monkeypatch.setattr(_D.DataFrame, "collect",
                        lambda self: (calls.__setitem__("collect", calls["collect"] + 1),
                                      orig_collect(self))[1])
    monkeypatch.setattr(
        _RW.DataFrameWriter, "parquet",
        lambda self, *a, **kw: (calls.__setitem__("write", calls["write"] + 1),
                                orig_parquet(self, *a, **kw))[1],
    )

    env = _env_batch(spark, [
        ("insert", 1, {"id": "1", "text": "alpha beta", "v": "7"}),
        ("insert", 2, {"id": "2", "text": "beta gamma", "v": "9"}),
    ])
    writers = {
        "cms": cms_sketch_writer(str(tmp_path / "cms"), "crawl.documents",
                                 width=32, depth=2),
        "mg": mg_sketch_writer(str(tmp_path / "mg"), "crawl.documents", k=4),
        "kmv": kmv_sketch_writer(str(tmp_path / "kmv"), "crawl.documents",
                                 key_field="text", k=4),
        "qd": qdigest_sketch_writer(str(tmp_path / "qd"), "crawl.documents",
                                    value_field="v", k=8),
    }
    for name, w in writers.items():
        calls.update(count=0, collect=0, write=0)
        w(env, 0)
        assert calls == {"count": 0, "collect": 1, "write": 1}, (name, calls)
        calls.update(count=0, collect=0, write=0)
        w(env, 0)  # replay: probe only, partition presence short-circuits
        assert calls == {"count": 0, "collect": 1, "write": 0}, (name, calls)

    # the folded key equals the old min(doc_id) derivation: bkey=1
    import os
    for name in writers:
        store = str(tmp_path / name)
        assert sorted(
            e for e in os.listdir(store) if e.startswith("bkey=")
        ) == ["bkey=1"], name
    assert {(r.j, r.col) for r in read_cms_sketch(
        spark, str(tmp_path / "cms")).collect()}  # readable


# ---------------------------------------------------------------------------
# the commit primitives (rewrite_dir / write_json) and where they may live
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "writer",
    [
        "curation_stats_writer",
        "cms_sketch_writer",
        "mg_sketch_writer",
        "kmv_sketch_writer",
        "qdigest_sketch_writer",
        "drift_monitor_writer",
    ],
)
def test_batch_keyed_writers_refuse_uri_store_dirs(writer):
    """The batch-keyed writers probe and publish with os-level calls, so
    an object-store URI would silently disable replay detection: each
    refuses one when it is built."""
    from wing_binlog_go_spark.streaming import sinks

    with pytest.raises(ValueError, match="POSIX path"):
        getattr(sinks, writer)("s3://bucket/store", "crawl.documents")


def test_curation_stats_torn_stage_is_rewritten_once(spark, tmp_path):
    """A crash that left a torn stage behind (files in the hidden
    ``staging_path`` sibling, no ``batch_id=0`` partition) does not read
    as committed: the replayed batch writes its stats row once, the
    debris is gone, and a second replay changes nothing."""
    from wing_binlog_go_spark.streaming.maintenance import staging_path
    from wing_binlog_go_spark.streaming.sinks import (
        curation_stats_writer,
        read_curation_stats,
    )

    stats_dir = str(tmp_path / "stats")
    torn = staging_path(os.path.join(stats_dir, "batch_id=0"))
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "wb") as f:
        f.write(b"torn parquet bytes")

    env = _env_batch(spark, [
        ("insert", 1, {"id": "1", "text": "alpha beta"}),
        ("insert", 2, {"id": "2", "text": "beta gamma"}),
    ])
    w = curation_stats_writer(stats_dir, "crawl.documents")
    w(env, 0)
    w(env, 0)  # replay: the published partition is the commit marker
    rows = read_curation_stats(spark, stats_dir).collect()
    assert [(r.batch_id, r.n_docs) for r in rows] == [(0, 2)]
    assert not os.path.exists(torn)
    assert sorted(os.listdir(stats_dir)) == ["batch_id=0"]


def test_dead_letter_replay_leaves_one_copy(spark, tmp_path):
    """A dead-letter batch replayed under a fresh checkpoint (the crash
    between the sink writes and the offset commit) replaces its
    ``batch_id=K`` partition whole: one copy of each bad record, and no
    stage or backup left beside it."""
    import json as _json

    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    good = {
        "binlog_file": "mysql-bin.000001", "binlog_pos": 4,
        "xid_commit": True, "database": "d", "table": "t",
        "action": "insert", "row_no": 0, "before": None,
        "after": {"id": "1"}, "ddl_query": None,
        "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
    }
    with open(log_dir / "f.jsonl", "w") as f:
        f.write(_json.dumps(good) + "\n")
        f.write("this is not json at all\n")
        f.write(_json.dumps({**good, "binlog_pos": 8, "action": "truncate"}) + "\n")

    dlq = str(tmp_path / "dlq")
    for ckpt in ("ckpt", "ckpt2"):
        q = run_pipeline(
            spark, str(log_dir), [Route("rec", lambda env, bid: None)],
            str(tmp_path / ckpt), dead_letter_dir=dlq,
        )
        await_done(q)
        spark.catalog.refreshByPath(dlq)
        dead = spark.read.parquet(dlq)
        assert sorted((r.action or "") for r in dead.collect()) == [
            "", "truncate",
        ]
    assert sorted(os.listdir(dlq)) == ["batch_id=0"]


def test_rewrite_dir_failed_write_keeps_old_table_then_recovers(spark, tmp_path):
    """A write that raises mid-rewrite leaves the old table readable and
    its half-written stage as debris; the next rewrite succeeds over it
    and lands its meta next to the data without Spark reading it."""
    import json
    import os

    import pytest

    from wing_binlog_go_spark.streaming.maintenance import (
        rewrite_dir,
        staging_path,
    )

    path = str(tmp_path / "t")
    rewrite_dir(path, spark.createDataFrame([(1,), (2,)], "k long"))

    def torn_write(staged):
        spark.createDataFrame([(9,)], "k long").write.parquet(staged)
        raise RuntimeError("simulated crash mid-rewrite")

    with pytest.raises(RuntimeError, match="simulated crash"):
        rewrite_dir(path, torn_write)
    assert os.path.isdir(staging_path(path))  # the debris is really there
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == [1, 2]

    rewrite_dir(
        path, spark.createDataFrame([(3,)], "k long"), {"_m.json": {"mark": 3}}
    )
    assert not os.path.exists(staging_path(path))
    assert [r.k for r in spark.read.parquet(path).collect()] == [3]
    with open(os.path.join(path, "_m.json")) as f:
        assert json.load(f) == {"mark": 3}


def test_write_json_failed_dump_keeps_previous_file(tmp_path):
    """A JSON write that raises mid-dump (here: an unserializable value
    after some keys were already emitted) leaves the previous file
    intact; the next write replaces it."""
    import json

    import pytest

    from wing_binlog_go_spark.streaming.maintenance import write_json

    path = str(tmp_path / "mark.json")
    write_json(path, {"next": 5})
    with pytest.raises(TypeError):
        write_json(path, {"next": 7, "bad": object()})
    with open(path) as f:
        assert json.load(f) == {"next": 5}
    write_json(path, {"next": 8})
    with open(path) as f:
        assert json.load(f) == {"next": 8}


def test_rewrite_dir_of_one_bucket_adds_no_partition(spark, tmp_path):
    """Rewriting one ``bucket=N`` dir of a partitioned table stages to a
    hidden sibling: the parent reads with the same row count and the
    same partitions both while the stage exists and after the swap."""
    import os

    from wing_binlog_go_spark.streaming.maintenance import rewrite_dir

    parent = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(i, i % 4) for i in range(40)], "k long, bucket int"
    ).write.partitionBy("bucket").parquet(parent)

    def shape():
        df = spark.read.parquet(parent)
        buckets = df.select("bucket").distinct().collect()
        return df.count(), sorted(r.bucket for r in buckets)

    before = shape()
    assert before == (40, [0, 1, 2, 3])
    seen = {}
    bdir = os.path.join(parent, "bucket=1")
    content = spark.read.parquet(bdir).localCheckpoint(eager=True)

    def write(staged):
        content.coalesce(1).write.parquet(staged)
        seen["mid"] = shape()  # the full stage is on disk right now

    rewrite_dir(bdir, write)
    assert seen["mid"] == before
    assert shape() == before


def test_commit_protocol_is_called_only_from_maintenance():
    """``swap_dir``, ``os.fsync``, ``os.replace`` and ``os.rename`` are
    called only in ``streaming/maintenance.py``: every other module
    commits through its primitives. The lease, service-registry and
    append-only binlog bridge files keep their own file protocols."""
    import ast
    import pathlib

    import wing_binlog_go_spark

    root = pathlib.Path(wing_binlog_go_spark.__file__).parent
    allowed = {
        "streaming/leader.py",
        "streaming/discovery.py",
        "sources/mysql_bridge.py",
    }

    def commit_calls(tree):
        os_names, fn_names = set(), {"swap_dir"}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                os_names |= {a.asname or a.name for a in node.names if a.name == "os"}
            elif isinstance(node, ast.ImportFrom) and node.module == "os":
                fn_names |= {
                    a.asname or a.name
                    for a in node.names
                    if a.name in ("fsync", "replace", "rename")
                }
        hits = []
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name) and f.id in fn_names:
                hits.append((node.lineno, f.id))
            elif isinstance(f, ast.Attribute) and (
                f.attr == "swap_dir"
                or (
                    f.attr in ("fsync", "replace", "rename")
                    and isinstance(f.value, ast.Name)
                    and f.value.id in os_names
                )
            ):
                hits.append((node.lineno, f.attr))
        return hits

    offenders = {}
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        hits = commit_calls(ast.parse(path.read_text()))
        if rel == "streaming/maintenance.py":
            assert hits, "the detector must see the primitives' own calls"
        elif hits and rel not in allowed:
            offenders[rel] = hits
    assert offenders == {}
