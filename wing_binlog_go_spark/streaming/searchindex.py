"""Incremental full-text search index maintained from the CDC stream.

The reference's "Realtime analytics" consumers (`readme.md:40-43`)
include the search-index feeder: every new row with text lands in an
inverted index queryable without rescanning the corpus. The batch form
of that artifact is `functions/text.py::inverted_index` (q135) and its
consumer is BM25 (q125); this module is the STREAMING producer — each
micro-batch appends its documents' postings, and BM25 runs over the
accumulated index with term-bucket partition pruning instead of a
corpus tokenize.

Layout under ``store_dir`` (plain parquet, POSIX semantics — the same
storage constraint as every maintainer):

    postings/ingest=<mark>/bucket=<b>/   (term, doc_id, tf)
    doclens/ingest=<mark>/               (doc_id, dl)

``bucket = pmod(xxhash64(term), n_buckets)`` so a term lookup prunes to
one bucket's files; ``ingest`` is the batch's max event_index. Commit =
DYNAMIC PARTITION OVERWRITE of the batch's own ingest partition: an
at-least-once redelivery re-derives the identical partition value and
rows and overwrites them in place — replay is idempotent without a
read-modify-write of the accumulated index (the same batch-partition
commit the curation-stats route uses). Documents are insert-only by
contract (like every corpus route): updates/deletes raise loudly
rather than leaving phantom postings.

Scale shape: per batch, ONE tokenize+explode of the increment and two
partial-agg groupBys (tf, dl) — never a scan of history. Query-side
BM25 reads |q| terms' buckets (partition-pruned scan), the doclens
table (|corpus| rows, but id+int columns only), and two scalar
aggregates; the per-term fan-out is the posting list, exactly the
retrieval cost. A stop word's posting list is corpus-sized — cap the
head with ``max_df_ratio`` at query time, as q135 documents.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wing_binlog_go_spark.operators.dedup import tokens

_N_BUCKETS = 16


def _bucket(term) -> F.Column:
    c = F.col(term) if isinstance(term, str) else term
    return F.pmod(F.xxhash64(c), F.lit(_N_BUCKETS)).cast("int")


def incremental_index_apply(
    spark: SparkSession,
    docs: DataFrame,
    store_dir: str,
    mark: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Append one increment's postings + doc lengths under its
    ``ingest=mark`` partition (idempotent overwrite on replay). A
    batch at or below the compaction floor is a no-op: its rows are
    already folded into the base partition, and re-creating its
    ingest partition would double them.

    Serialized against ``compact_search_index`` by the store's commit
    lock: an unserialized fold whose read snapshot missed this batch's
    partition would swap a postings dir WITHOUT it into place — silent
    data loss, not just a benign race."""
    from wing_binlog_go_spark.streaming.maintenance import _commit_lock

    os.makedirs(store_dir, exist_ok=True)
    with _commit_lock(store_dir):
        _index_apply_locked(spark, docs, store_dir, mark, id_col, text_col)


def _index_apply_locked(
    spark: SparkSession,
    docs: DataFrame,
    store_dir: str,
    mark: int,
    id_col: str,
    text_col: str,
) -> None:
    if mark <= compacted_through(store_dir):
        return
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("term")
    ).localCheckpoint(eager=True)  # feeds tf AND dl
    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .select(
            F.lit(int(mark)).alias("ingest"),
            _bucket("term").alias("bucket"),
            "term",
            "doc_id",
            "tf",
        )
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl")).select(
        F.lit(int(mark)).alias("ingest"), "doc_id", "dl"
    )
    (
        tf.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest", "bucket")
        .parquet(os.path.join(store_dir, "postings"))
    )
    (
        dl.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest")
        .parquet(os.path.join(store_dir, "doclens"))
    )


def search_index_writer(
    store_dir: str,
    table: str,
    id_field: str = "id",
    text_field: str = "text",
):
    """foreachBatch hook: INSERT envelopes of ``table`` → index append.
    Non-insert envelopes for the table raise (phantom postings would
    silently corrupt every downstream ranking); ALTER passes through.
    """

    def write(env: DataFrame, batch_id: int) -> None:
        from wing_binlog_go_spark.streaming.sinks import _insert_docs

        spark = env.sparkSession
        scoped = env.filter(F.concat_ws(".", "database", "table") == table)
        probe = scoped.agg(
            F.max("event_index").alias("mx"),
            F.max(
                F.when(
                    ~F.col("event_type").isin("insert", "alter"),
                    F.col("event_type"),
                )
            ).alias("bad"),
        ).collect()[0]
        if probe["mx"] is None:
            return
        if probe["bad"] is not None:
            raise ValueError(
                "search_index_writer is insert-only: an update/delete of an "
                "indexed document would leave phantom postings — rebuild the "
                "index from the replica instead"
            )
        docs = _insert_docs(env, table, id_field, text_field)
        incremental_index_apply(spark, docs, store_dir, int(probe["mx"]))

    return write


def read_search_doclens(spark: SparkSession, store_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(store_dir, "doclens"))


def read_search_postings(spark: SparkSession, store_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(store_dir, "postings"))


def bm25_over_index(
    spark: SparkSession,
    store_dir: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(doc_id, bm25) over the MAINTAINED index — same Lucene/+1 form
    as ``bm25_scores`` (equality is test-asserted), but reading |q|
    pruned term buckets instead of tokenizing the corpus. A total
    ranking: indexed docs with no query term score 0.0."""
    if not query_terms:
        raise ValueError("bm25_over_index: query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    post = read_search_postings(spark, store_dir)
    # bucket pruning: the |q| bucket ids come from one tiny local job
    buckets = sorted(
        {
            r.b
            for r in spark.createDataFrame([(t,) for t in terms], "term string")
            .select(_bucket("term").alias("b"))
            .collect()
        }
    )
    hit = post.filter(
        F.col("bucket").isin(buckets) & F.col("term").isin(terms)
    ).localCheckpoint(eager=True)  # feeds tf AND df
    dl = read_search_doclens(spark, store_dir)
    n_docs, avgdl = dl.agg(
        F.count("*").alias("n"), F.avg("dl").alias("a")
    ).first()
    if not n_docs:
        return spark.createDataFrame([], "doc_id long, bm25 double")
    df_tbl = hit.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    scored = (
        hit.join(df_tbl, "term")
        .join(dl.select("doc_id", "dl"), "doc_id")
        .select(
            "doc_id",
            (
                idf
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(float(avgdl)))
                )
            ).alias("part"),
        )
        .groupBy("doc_id")
        .agg(F.sum("part").alias("score"))
    )
    return (
        dl.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.coalesce(F.col("score"), F.lit(0.0)), 6).alias("bm25"),
        )
    )


_COMPACT_META = "_index_meta.json"


def compacted_through(store_dir: str) -> int:
    """Ingest floor: batches at or below this mark are folded into the
    base partition; the writer must skip their replays."""
    meta = os.path.join(store_dir, _COMPACT_META)
    if not os.path.exists(meta):
        return -1
    import json

    with open(meta) as f:
        return int(json.load(f)["compacted_through"])


def compact_search_index(spark: SparkSession, store_dir: str) -> None:
    """Fold the per-batch ingest partitions into one base partition —
    the index's small-file maintenance (a streaming cadence writes one
    postings file set per batch per bucket; a day of 5 s batches is
    ~17k partitions of a few KB).

    Replay safety is the subtle part: after folding, a redelivered old
    batch would re-CREATE its ingest partition next to the folded base
    and double its postings. The floor meta therefore commits FIRST
    (``maintenance.write_json``): once it names the fold's high mark, the
    writer skips any batch at or below it, and only then do the folded
    directories swap in. A crash between the two swaps is benign —
    folding preserves the exact row multiset, so postings/doclens stay
    content-equivalent partition-layout aside, and the next compaction
    re-folds. Readers never see a half-written table (each fold commits
    through ``maintenance.rewrite_dir``, same as every maintainer).
    """
    from wing_binlog_go_spark.streaming.maintenance import _commit_lock

    if not os.path.exists(store_dir):
        return
    with _commit_lock(store_dir):
        _compact_locked(spark, store_dir)


def _compact_locked(spark: SparkSession, store_dir: str) -> None:
    from wing_binlog_go_spark.streaming.maintenance import (
        recover_swap,
        rewrite_dir,
        write_json,
    )

    post_dir = os.path.join(store_dir, "postings")
    dl_dir = os.path.join(store_dir, "doclens")
    for d in (post_dir, dl_dir):
        recover_swap(d)
    if not os.path.exists(post_dir):
        return
    post = spark.read.parquet(post_dir)
    floor = post.agg(F.max("ingest")).collect()[0][0]
    if floor is None:
        return
    # 1. commit the floor BEFORE touching data: blocks replay dupes
    write_json(
        os.path.join(store_dir, _COMPACT_META), {"compacted_through": int(floor)}
    )
    # 2. fold each table under a single ingest=floor partition
    rewrite_dir(post_dir, lambda staged: (
        post.withColumn("ingest", F.lit(int(floor)).cast("long"))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("ingest", "bucket")
        .parquet(staged)
    ))
    dl = spark.read.parquet(dl_dir)
    rewrite_dir(dl_dir, lambda staged: (
        dl.withColumn("ingest", F.lit(int(floor)).cast("long"))
        .coalesce(4)
        .write.mode("overwrite")
        .partitionBy("ingest")
        .parquet(staged)
    ))
