"""Sink writers matching the reference's four services (O14-O17), built
for ``foreachBatch`` fan-out via streaming.pipeline.Route.

Reference → Spark mapping:

- Kafka producer, key = db.table for per-table ordering, snappy, 500 ms
  linger, acks=leader (src/services/kafka/producer.go:45-75,
  config.go:33-62)            → kafka_route_writer (real Kafka settings;
  needs a broker, so tests use the collecting/parquet writers).
- Redis RPUSH queue (src/services/redis/redis.go:73-91) →
  redis_route_writer via foreachPartition, import-gated.
- HTTP webhook groups, per-node queue + worker pool
  (src/services/http/*) → http_route_writer via foreachPartition,
  import-gated; group routing is the Route filter.
- TCP pub/sub push (src/services/subscribe/*) → the driver-side
  gateway in streaming.subscribe, fed by its subscribe_route_writer.

Every writer serializes with envelope_json (reference wire shape) and is
idempotent-friendly: payloads carry event_index so consumers dedupe
replays (O19). The writers keyed by batch (the sketch stores, drift
and curation stats) publish each batch partition with
maintenance.rewrite_dir and skip a replayed batch on
maintenance.batch_committed.
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wing_binlog_go_spark.functions.envelope import envelope_json
from wing_binlog_go_spark.streaming.maintenance import (
    absorbed_batch_keys,
    batch_committed,
    rewrite_dir,
    write_json,
)
from wing_binlog_go_spark.streaming.pipeline import (
    _run_concurrently,
    after_earlier_routes,
    scd2_upsert_parquet,
    scd2_upsert_parquet_bucketed,
    upsert_parquet,
)


def parquet_route_writer(out_dir: str) -> Callable[[DataFrame, int], None]:
    """Durable file sink (the test/local stand-in for any queue sink)."""

    def write(env: DataFrame, batch_id: int) -> None:
        (
            env.select(
                "full_table",
                "event_index",
                envelope_json().alias("payload"),
            )
            .write.mode("append")
            .parquet(out_dir)
        )

    return write


def collecting_writer(store: list) -> Callable[[DataFrame, int], None]:
    """In-memory sink for tests: appends (batch_id, payload) tuples."""

    def write(env: DataFrame, batch_id: int) -> None:
        for row in env.select(envelope_json().alias("p")).collect():
            store.append((batch_id, row.p))

    return write


def kafka_route_writer(
    bootstrap: str, topic: str
) -> Callable[[DataFrame, int], None]:
    """Kafka sink with the reference's producer tuning (O14):
    key = db.table (per-table partition ordering), snappy, linger 500 ms,
    acks=1 (leader)."""

    def write(env: DataFrame, batch_id: int) -> None:
        (
            env.select(
                F.col("full_table").alias("key"),
                envelope_json().alias("value"),
            )
            .write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("topic", topic)
            .option("kafka.compression.type", "snappy")
            .option("kafka.linger.ms", "500")
            .option("kafka.acks", "1")
            .save()
        )

    return write


def redis_route_writer(
    host: str, port: int, queue: str
) -> Callable[[DataFrame, int], None]:
    """RPUSH each envelope JSON onto a Redis list (O15), per-partition
    pipelined. Import-gated: raises at call time if redis-py is absent."""

    def write(env: DataFrame, batch_id: int) -> None:
        payloads = env.select(envelope_json().alias("p"))

        def push(rows) -> None:
            try:
                import redis  # type: ignore
            except ImportError as e:  # pragma: no cover - env without redis
                raise NotImplementedError(
                    "redis sink requires the redis client library"
                ) from e
            r = redis.Redis(host=host, port=port)
            pipe = r.pipeline()
            for row in rows:
                pipe.rpush(queue, row.p)
            pipe.execute()

        payloads.foreachPartition(push)

    return write


def http_route_writer(
    urls: list[str], max_workers: int | None = None, timeout: float = 3.0
) -> Callable[[DataFrame, int], None]:
    """POST each envelope JSON to every node URL in the group (O16).

    The reference runs NumCPU+2 sender goroutines per node over a 10k
    queue (http/node.go:21-80); here each partition runs a thread pool
    of the same size, so one slow or dead webhook delays only its own
    in-flight request instead of serializing the whole micro-batch.
    In-flight submissions are windowed so an arbitrarily large partition
    never materializes all its futures at once (the pool queue is the
    reference's bounded channel). Like the reference, per-node delivery
    order is not guaranteed (multiple senders per node); consumers dedupe
    and order on event_index (O19).
    """

    def write(env: DataFrame, batch_id: int) -> None:
        payloads = env.select(envelope_json().alias("p"))

        def post(rows) -> None:
            import os as _os
            from collections import deque
            from concurrent.futures import ThreadPoolExecutor
            from urllib import request

            workers = max_workers or (_os.cpu_count() or 2) + 2

            def send(url: str, body: bytes) -> None:
                req = request.Request(
                    url, data=body, headers={"Content-Type": "application/json"}
                )
                try:
                    request.urlopen(req, timeout=timeout).read()
                except Exception:
                    # reference drops after retries and logs
                    # (http/node.go:66-75); delivery remains
                    # at-least-once overall
                    pass

            in_flight: deque = deque()
            with ThreadPoolExecutor(max_workers=workers) as ex:
                for row in rows:
                    body = row.p.encode("utf-8")
                    for url in urls:
                        in_flight.append(ex.submit(send, url, body))
                        if len(in_flight) >= workers * 4:
                            in_flight.popleft().result()
                while in_flight:
                    in_flight.popleft().result()

        payloads.foreachPartition(post)

    return write


def partitioned_archive_writer(out_dir: str) -> Callable[[DataFrame, int], None]:
    """Append-only event archive partitioned by (database, table,
    event_date) — the §4 layout for 100 TB event tables: partition
    pruning serves per-table/per-day consumers without reading siblings,
    and the layout matches how a Delta/Iceberg table would be defined.
    """

    def write(env: DataFrame, batch_id: int) -> None:
        (
            env.withColumn(
                "event_date", F.to_date(F.timestamp_seconds(F.col("time")))
            )
            .select(
                "database",
                "table",
                "event_date",
                "event_type",
                "event_index",
                envelope_json().alias("payload"),
            )
            .write.mode("append")
            .partitionBy("database", "table", "event_date")
            .parquet(out_dir)
        )

    return write


def typed_replica_writer(
    registry, table_full_names: list[str], base_dir: str
) -> Callable[[DataFrame, int], None]:
    """The reference's headline use case — MySQL → queryable replica
    (readme.md:40-41 "data synchronization to NoSQL/search") — as one
    route: upsert each registered table into its own parquet table keyed
    on the registry's PK, the tables side by side. State stays in envelope-map form (one merge
    code path); ``read_typed_replica`` decodes to typed columns at read.
    """

    def write(env: DataFrame, batch_id: int) -> None:
        _upsert_tables(env, registry, table_full_names, base_dir, upsert_parquet)

    return write


def _upsert_tables(env, registry, table_full_names, base_dir, upsert) -> None:
    """``upsert(table's envelopes, table dir, pk=table's PK columns)``
    for every registered table with a PK, the tables side by side
    (``pipeline._run_concurrently``): each owns its own directory."""
    calls = []
    for full in table_full_names:
        spec = registry.get(full)
        if spec is None or not spec.pk_columns:
            continue
        subset = env.filter(env.full_table == full)
        target = os.path.join(base_dir, full.replace(".", "__"))
        # full PK list: composite keys must not collapse onto the first
        # column
        calls.append((
            lambda s=subset, t=target, pk=spec.pk_columns: upsert(s, t, pk=pk),
            False,
        ))
    _run_concurrently(calls)


def read_typed_replica(spark, registry, full_name: str, base_dir: str) -> DataFrame:
    """Typed view over a replica table written by typed_replica_writer."""
    import os

    from wing_binlog_go_spark.functions.schema_registry import decode_column

    spec = registry.get(full_name)
    target = os.path.join(base_dir, full_name.replace(".", "__"))
    raw = spark.read.parquet(target)
    return raw.select(
        *[
            decode_column(F.element_at("row", c.name), c.raw_type).alias(c.name)
            for c in spec.columns
        ]
    )


def scd2_history_writer(
    registry,
    table_full_names: list[str],
    base_dir: str,
    num_buckets: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """Dimension-history route: the SCD Type-2 sibling of
    ``typed_replica_writer`` — instead of keeping only the newest image
    per key, every change event becomes a version row with
    [valid_from_index, valid_to_index) bounds, so the replica answers
    "what did this row look like when event N happened" (the
    time-travel consumer the reference delegates downstream,
    readme.md:40-43). Same envelope-map storage form; decode with
    ``read_scd2_history`` for typed columns.

    ``num_buckets`` routes through the bucket-pruned writer
    (``scd2_upsert_parquet_bucketed``): per-batch IO becomes O(changed
    buckets' history) instead of a full-history rewrite — the r5
    ADVICE scale form for long-lived history tables."""
    from functools import partial

    upsert = (
        partial(scd2_upsert_parquet_bucketed, num_buckets=num_buckets)
        if num_buckets
        else scd2_upsert_parquet
    )

    def write(env: DataFrame, batch_id: int) -> None:
        _upsert_tables(env, registry, table_full_names, base_dir, upsert)

    return write


def read_scd2_history(spark, registry, full_name: str, base_dir: str) -> DataFrame:
    """Typed view over an SCD2 history table written by
    ``scd2_history_writer``: one row per version with
    (version_n, valid_from_index, valid_to_index, is_current,
    is_delete) alongside the decoded columns. Transparent over both
    layouts: a flat table or the bucket-pruned form (bucket=N/ dirs,
    read through ``read_bucketed_table`` so interrupted commits roll
    forward before the read)."""
    import glob
    import os

    from wing_binlog_go_spark.functions.schema_registry import decode_column
    from wing_binlog_go_spark.streaming.pipeline import read_bucketed_table

    spec = registry.get(full_name)
    target = os.path.join(base_dir, full_name.replace(".", "__"))
    if glob.glob(os.path.join(target, "bucket=*")):
        raw = read_bucketed_table(spark, target)
    else:
        raw = spark.read.parquet(target)
    return raw.select(
        *[
            decode_column(F.element_at("row", c.name), c.raw_type).alias(c.name)
            for c in spec.columns
        ],
        "version_n",
        "valid_from_index",
        "valid_to_index",
        "is_current",
        "is_delete",
    )


def jsonl_route_writer(out_dir: str) -> Callable[[DataFrame, int], None]:
    """One JSONL file per batch — handy for golden-file tests."""

    def write(env: DataFrame, batch_id: int) -> None:
        os.makedirs(out_dir, exist_ok=True)
        rows = env.select(envelope_json().alias("p")).collect()
        if not rows:
            return
        # "w", not "a": filenames are batch-unique, so a replayed batch
        # overwrites its own file instead of appending duplicates
        with open(os.path.join(out_dir, f"batch-{batch_id:05d}.jsonl"), "w") as f:
            for row in rows:
                f.write(row.p + "\n")

    return write


def _insert_docs(
    env: DataFrame, table: str, id_field: str, text_field: str
) -> DataFrame:
    """(doc_id, text) from a batch's INSERT envelopes of ``table`` — the
    shared arrival definition for every text-corpus route (dedup store,
    quality gate, funnel stats), so they can never drift apart on which
    docs count as 'arrived'."""
    return (
        env.filter(
            (F.col("event_type") == "insert")
            & (F.concat_ws(".", "database", "table") == table)
        )
        .select(
            F.element_at("event.data", id_field).cast("long").alias("doc_id"),
            F.element_at("event.data", text_field).alias("text"),
        )
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        # an INSERT delivered twice inside one micro-batch is an
        # at-least-once artifact, not two arrivals: without this the
        # direct-append routes (classifier corpus) would store it twice
        # and the sketches would double-count its tokens (the
        # incremental stores ALSO dedup at their own entry — defense
        # at both layers, same id-presence contract)
        .dropDuplicates(["doc_id"])
    )


def _insert_only_probe(
    env: DataFrame, table: str, op_name: str, usable, key_expr=None
):
    """The STORE-MAINTAINING routes' shared insert-only contract — the
    foreachBatch sibling of ``streaming.aggregate._fresh_inserts``: a
    CDC stream CAN carry UPDATE/DELETE envelopes for the maintained
    table, and silently ignoring them would leave the store diverged
    from the replica with no signal (a ghost vector in the ANN index, a
    ghost node in the kNN graph, stale text in the dedup corpus, tokens
    a sketch can never subtract). So the contract violation raises
    LOUDLY here instead. ALTER passes (DDL carries no row image — the
    same skip rule as the aggregate maintainers). A fix to the
    insert-only rules for this route family lands HERE, once.

    ``usable`` is the route's row-usability predicate over the insert
    envelope (non-null id, parseable payload, ...): the return value is
    the count of USABLE insert rows, so the probe doubles as the
    routes' former ``docs.isEmpty()`` action — one driver job, not two.

    ``key_expr`` (optional) folds the route's batch-key derivation into
    the SAME aggregation: when given, the return value is the tuple
    ``(n, min(key_expr) over usable insert rows)`` — the sketch routes'
    at-least-once-stable ``min(doc_id)`` batch key used to cost a
    second driver job per micro-batch on top of the probe (r9 verdict
    ask #5: per-batch fixed cost is the end-to-end/gateway gap).
    """
    aggs = [
        F.sum(
            ((F.col("event_type") == "insert") & usable).cast("long")
        ).alias("n"),
        F.max(
            F.when(
                ~F.col("event_type").isin("insert", "alter"),
                F.col("event_type"),
            )
        ).alias("bad"),
    ]
    if key_expr is not None:
        aggs.append(
            F.min(
                F.when((F.col("event_type") == "insert") & usable, key_expr)
            ).alias("bkey")
        )
    row = (
        env.filter(F.concat_ws(".", "database", "table") == table)
        .agg(*aggs)
        .collect()[0]
    )
    if row["bad"] is not None:
        raise ValueError(
            f"{op_name} is insert-only: the batch carries a "
            f"{row['bad']!r} envelope for maintained table {table!r}. "
            "Applying inserts while dropping the retraction would "
            "silently diverge the store from the replica; route "
            "updates/deletes elsewhere, or retrain/rebuild the store "
            "offline and redeploy."
        )
    n = int(row["n"] or 0)
    return (n, row["bkey"]) if key_expr is not None else n


def _docs_usable(id_field: str, text_field: str):
    """Usability predicate matching ``_insert_docs``'s row filter."""
    return (
        F.element_at("event.data", id_field).cast("long").isNotNull()
        & F.element_at("event.data", text_field).isNotNull()
    )


def _insert_vecs(
    env: DataFrame, table: str, id_field: str, vec_field: str
) -> DataFrame:
    """(vec_id, embedding) from a batch's INSERT envelopes of ``table``
    — the embedding-modality sibling of ``_insert_docs``, shared by the
    vector-store routes (semantic corpus, kNN graph, PQ / IVF-PQ index)
    so their arrival definition cannot drift either."""
    return (
        env.filter(
            (F.col("event_type") == "insert")
            & (F.concat_ws(".", "database", "table") == table)
        )
        .select(
            F.element_at("event.data", id_field).cast("long").alias("vec_id"),
            F.from_json(
                F.element_at("event.data", vec_field), "array<double>"
            ).alias("embedding"),
        )
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .dropDuplicates(["vec_id"])  # see _insert_docs
    )


def _vecs_usable(id_field: str, vec_field: str):
    """Usability predicate matching ``_insert_vecs``'s row filter."""
    return (
        F.element_at("event.data", id_field).cast("long").isNotNull()
        & F.from_json(
            F.element_at("event.data", vec_field), "array<double>"
        ).isNotNull()
    )


def dedup_corpus_writer(
    store_dir: str,
    table: str,
    id_field: str = "id",
    text_field: str = "text",
    threshold: float = 0.8,
    quality_filter=None,
):
    """Route writer composing the CDC stream with incremental corpus
    dedup (`operators.dedup.incremental_dedup_apply`): INSERT envelopes
    of ``table`` become ingest increments, each deduped against the
    signature store built from every prior batch — the curated-corpus
    materializer for a crawl/scrape feed flowing through the pipeline.

    The store carries (id, text, mh): presence of an id in the store IS
    the per-row commit, so at-least-once batch replays re-process only
    rows whose append never landed and the corpus converges without a
    second sink (read it back with ``read_dedup_corpus``).

    INSERT-ONLY, enforced loudly: an UPDATE/DELETE envelope for
    ``table`` raises (``_insert_only_probe``) — a silently-dropped
    retraction would leave ghost text in the corpus AND its signature
    suppressing future near-duplicates forever. Offline retraction =
    ``operators.dedup.dedup_corpus_delete``.
    """
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.dedup import incremental_dedup_apply

    def write(env: DataFrame, batch_id: int) -> None:
        if not _insert_only_probe(
            env, table, "dedup_corpus_writer",
            _docs_usable(id_field, text_field),
        ):
            return
        docs = _insert_docs(env, table, id_field, text_field)
        if quality_filter is not None:
            # optional pre-dedup gate (e.g. lambda d:
            # d.join(gopher_quality_flags(d, ...).filter("keep")
            # .select("doc_id"), "doc_id", "left_semi")) — rejected
            # docs never reach the signature store, so they cannot
            # suppress a later GOOD near-duplicate as its "survivor"
            docs = quality_filter(docs)
            if docs.isEmpty():
                return
        incremental_dedup_apply(
            env.sparkSession,
            docs,
            store_dir,
            threshold=threshold,
            payload_cols=["text"],
            # minutes-cadence stream: stat counts are five extra driver
            # jobs per micro-batch; the append count (the commit
            # decision) is the only action this path needs
            collect_stats=False,
        )

    return write


def read_dedup_corpus(spark, store_dir: str) -> DataFrame:
    """The deduped corpus maintained by ``dedup_corpus_writer``."""
    return spark.read.parquet(store_dir).drop("mh")


def semantic_dedup_corpus_writer(
    store_dir: str,
    table: str,
    id_field: str = "id",
    vec_field: str = "embedding",
    threshold: float = 0.97,
    n_clusters: int = 16,
):
    """Route writer composing the CDC stream with STREAMING SEMANTIC
    DEDUP (`operators.similarity.incremental_semantic_dedup_apply`):
    INSERT envelopes of ``table`` carrying an embedding (JSON array in
    the wire data) become ingest increments, each deduped by embedding
    near-identity against the persisted centroid + vector store — the
    embedding-modality sibling of ``dedup_corpus_writer``.

    Centroids are trained once on the first batch and frozen; history
    is probed by cluster equi-join; presence of an id in the store IS
    the per-row commit, so at-least-once replays converge. Read the
    curated corpus back with ``read_semantic_corpus``.

    INSERT-ONLY, enforced loudly: an UPDATE/DELETE envelope for
    ``table`` raises — dropping it would leave a ghost vector deduping
    future arrivals against a row the replica no longer has. Offline
    retraction = ``operators.similarity.semantic_corpus_delete``.
    """
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.similarity import (
        incremental_semantic_dedup_apply,
    )

    def write(env: DataFrame, batch_id: int) -> None:
        if not _insert_only_probe(
            env, table, "semantic_dedup_corpus_writer",
            _vecs_usable(id_field, vec_field),
        ):
            return
        docs = _insert_vecs(env, table, id_field, vec_field)
        incremental_semantic_dedup_apply(
            env.sparkSession,
            docs,
            store_dir,
            threshold=threshold,
            n_clusters=n_clusters,
            collect_stats=False,  # same 2-action budget as dedup_corpus_writer
        )

    return write


def knn_graph_writer(
    store_dir: str,
    table: str,
    id_field: str = "id",
    vec_field: str = "embedding",
    k: int = 5,
    centroids: "list[list[float]] | None" = None,
):
    """Route writer maintaining the clustered kNN GRAPH from the CDC
    stream (`operators.similarity.incremental_knn_graph_apply`):
    INSERT envelopes of ``table`` carrying an embedding become graph
    increments — fresh vectors append to the store (id presence = the
    replay no-op), and every batch-named cluster's edge partition
    rebuilds and swaps in atomically. The quantizer is the FROZEN
    committed store by default (`load_frozen_centroids`) — the same
    reason the PQ/semantic routes freeze theirs: retraining per batch
    would silently reassign history under the existing edges. Read the
    graph back with `operators.similarity.read_knn_graph`; the degree
    coreset and label-propagation consumers run on it directly.

    INSERT-ONLY, enforced loudly: an UPDATE carrying a new embedding
    or a DELETE raises (``_insert_only_probe``) — id presence makes a
    later arrival a no-op, so a dropped retraction would leave the
    stale vector AND its edges in every future rebuild of its cluster.
    The supported retraction path is OFFLINE:
    ``operators.similarity.knn_graph_delete`` (rewrite ``vectors/``
    minus the ids, rebuild exactly the touched clusters — pure
    function of the store, idempotent, crash-healable); an update =
    delete + re-insert through the stream."""
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.similarity import (
        incremental_knn_graph_apply,
        load_frozen_centroids,
    )

    cents = centroids or load_frozen_centroids()

    def write(env: DataFrame, batch_id: int) -> None:
        if not _insert_only_probe(
            env, table, "knn_graph_writer", _vecs_usable(id_field, vec_field)
        ):
            return
        vecs = _insert_vecs(env, table, id_field, vec_field)
        incremental_knn_graph_apply(
            env.sparkSession, vecs, store_dir, cents, k=k
        )

    return write


def pq_index_writer(
    store_dir: str,
    table: str,
    id_field: str = "id",
    vec_field: str = "embedding",
    m: int = 16,
    n_codes: int = 16,
):
    """Route writer maintaining a PQ ANN index from the CDC stream
    (`operators.similarity.incremental_pq_index_apply`): INSERT
    envelopes of ``table`` carrying embeddings become index increments
    — the first batch trains + creates the store, later batches encode
    against the frozen codebooks and append, replays are id-no-ops.
    Query it any time with ``pq_topk(index=load_pq_index(...))`` — the
    vector-database ingestion path fed straight from the binlog.

    INSERT-ONLY, enforced loudly: a retraction raises — dropping it
    would leave ghost codes answering queries for a deleted vector.
    The supported retraction path is OFFLINE:
    ``operators.similarity.pq_index_delete``.
    """
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.similarity import (
        incremental_pq_index_apply,
    )

    def write(env: DataFrame, batch_id: int) -> None:
        if not _insert_only_probe(
            env, table, "pq_index_writer", _vecs_usable(id_field, vec_field)
        ):
            return
        vecs = _insert_vecs(env, table, id_field, vec_field)
        incremental_pq_index_apply(
            env.sparkSession, vecs, store_dir, m=m, n_codes=n_codes
        )

    return write


def ivfpq_index_writer(
    store_dir: str,
    table: str,
    id_field: str = "id",
    vec_field: str = "embedding",
    n_centroids: int = 16,
    m: int = 16,
    n_codes: int = 16,
):
    """``pq_index_writer``'s big-corpus sibling: maintains the
    LIST-PARTITIONED IVF-PQ store (`operators.similarity.
    incremental_ivfpq_index_apply`) from INSERT envelopes — first batch
    trains coarse+residual quantizers and creates the store, later
    batches encode against the frozen pair and append ONLY into their
    inverted lists' partitions, replays are id-no-ops. Query with
    ``ivfpq_topk(index=load_ivfpq_index(...))``; probes read n_probe
    list partitions, not the corpus.

    INSERT-ONLY, enforced loudly — same contract and reason as
    ``pq_index_writer``; offline retraction =
    ``operators.similarity.ivfpq_index_delete`` (rewrites only the
    inverted-list partitions containing the ids).
    """
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.similarity import (
        incremental_ivfpq_index_apply,
    )

    def write(env: DataFrame, batch_id: int) -> None:
        if not _insert_only_probe(
            env, table, "ivfpq_index_writer", _vecs_usable(id_field, vec_field)
        ):
            return
        vecs = _insert_vecs(env, table, id_field, vec_field)
        incremental_ivfpq_index_apply(
            env.sparkSession, vecs, store_dir,
            n_centroids=n_centroids, m=m, n_codes=n_codes,
        )

    return write


def read_semantic_corpus(spark, store_dir: str) -> DataFrame:
    """The deduped embedding corpus maintained by
    ``semantic_dedup_corpus_writer``: (vec_id, embedding, cluster)."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(os.path.join(store_dir, "vectors"))
        .select(
            "vec_id",
            F.col("_v").alias("embedding"),
            F.col("_cluster").alias("cluster"),
        )
    )


def pit_enrich_writer(
    registry,
    fact_table: str,
    dim_table: str,
    fk_field: str,
    base_dir: str,
    out_dir: str,
) -> Callable[[DataFrame, int], None]:
    """Point-in-time stream enrichment: every INSERT of ``fact_table``
    is joined to the version of ``dim_table`` that was current AT THAT
    EVENT — the "enrich orders with the customer's state as of the
    order" consumer (reference readme.md:40-43 delegates it
    downstream; ours composes it from the SCD2 materializer + q115's
    interval probe, `plans/extra_queries.py::q115`).

    List it AFTER an ``scd2_history_writer`` route for ``dim_table`` in
    the same pipeline. Routes of a batch run concurrently, but this
    writer is marked ``after_earlier_routes`` (the same in-batch
    ordering contract the MIN/MAX maintainer uses), so it starts only
    once every route before it has committed: the dimension change at
    event_index i is then visible to a fact at index j > i within the
    SAME micro-batch. The probe is an equi-join on the dimension key
    with the half-open [valid_from_index, valid_to_index) interval as a
    join filter — exactly one version matches per fact, no dedupe.

    Output: parquet append of (event_index, fact columns..,
    dim columns prefixed ``dim_``). Appends are at-least-once;
    ``read_pit_enriched`` drops replay duplicates on the
    replay-stable event_index (the id-presence pattern, like the
    dedup-corpus store).
    """
    import os

    def write(env: DataFrame, batch_id: int) -> None:
        fact_spec = registry.get(fact_table)
        facts = env.filter(
            (env.full_table == fact_table) & (env.event_type == "insert")
        )
        if facts.isEmpty():
            return
        from wing_binlog_go_spark.functions.schema_registry import decode_column

        spark = env.sparkSession
        fcols = [
            decode_column(
                F.element_at("event.data", c.name), c.raw_type
            ).alias(c.name)
            for c in fact_spec.columns
        ]
        f = facts.select(F.col("event_index"), *fcols)
        dim_spec = registry.get(dim_table)
        # delete versions carry the REMOVED row's image (so history
        # readers can see what was deleted) — but "current as of the
        # fact" must treat a deleted dimension as absent: without this
        # filter a fact landing inside a delete version's
        # [valid_from, valid_to) window would be silently enriched
        # with the deleted row's stale values instead of NULLs
        hist = read_scd2_history(spark, registry, dim_table, base_dir).filter(
            ~F.col("is_delete")
        )
        dim_pk = dim_spec.pk_columns[0]
        d = hist.select(
            *[F.col(c.name).alias(f"dim_{c.name}") for c in dim_spec.columns],
            "valid_from_index",
            "valid_to_index",
        )
        enriched = f.join(
            d,
            (F.col(fk_field) == F.col(f"dim_{dim_pk}"))
            & (F.col("valid_from_index") <= F.col("event_index"))
            & (
                (F.col("valid_to_index") > F.col("event_index"))
                | F.col("valid_to_index").isNull()
            ),
            "left",
        ).drop("valid_from_index", "valid_to_index")
        os.makedirs(out_dir, exist_ok=True)
        enriched.write.mode("append").parquet(out_dir)

    return after_earlier_routes(write)


def read_pit_enriched(spark, out_dir: str) -> DataFrame:
    """Replay-safe view over a ``pit_enrich_writer`` sink: appends are
    at-least-once, so duplicates are dropped on the replay-stable
    event_index (deterministic under the O10 contract — a re-delivered
    fact re-derives the identical enriched row)."""
    return spark.read.parquet(out_dir).dropDuplicates(["event_index"])


def _require_posix(store_dir: str, op_name: str) -> None:
    """The loud guard of every writer whose batch-commit probe and
    publish are os-level: on an object store a URI would silently
    disable replay detection and duplicate rows."""
    if "://" in store_dir:
        raise ValueError(
            f"{op_name}: the store dir must be a POSIX path "
            f"(got {store_dir!r}) — the batch-commit probe is os-level"
        )


def curation_stats_writer(
    stats_dir: str,
    table: str,
    id_field: str = "id",
    text_field: str = "text",
    flags_fn=None,
) -> Callable[[DataFrame, int], None]:
    """Per-batch CURATION FUNNEL statistics for a documents feed: how
    many docs arrived, how many passed the quality gate, and how many
    failed EACH rule — the monitoring table an operator of a streaming
    corpus pipeline watches for ingest-quality drift (a crawl source
    going bad shows up as a rule-level failure spike batches before it
    shows up in corpus size).

    One row per micro-batch in ``stats_dir`` PARTITIONED BY batch_id:
    each ``batch_id=K`` partition is published whole by
    ``maintenance.rewrite_dir``, so its presence with data files
    (``maintenance.batch_committed``) is the commit marker and
    at-least-once replays of a batch are no-ops, while a crash
    mid-write leaves nothing that reads as committed. Cost
    per batch: the flags are row-local column expressions (zero
    shuffle) and every count folds into ONE single-row aggregate — one
    driver action plus the 1-row write.

    ``stats_dir`` must be a POSIX path (the storage constraint of the
    incremental-aggregate state store too), and a URI is refused
    loudly: the commit check is an os-level directory probe; on an
    object store it would silently disable replay detection and
    duplicate rows.

    ``flags_fn`` defaults to ``gopher_quality_flags(..., with_rules=
    True)``; any replacement must emit a boolean ``keep`` plus
    ``pass_*`` rule columns over (doc_id, text).

    Deliberately NOT under the store routes' loud insert-only probe:
    this route maintains per-batch ARRIVAL counters, not a mirror of
    the table — an UPDATE/DELETE is simply not an arrival, ignoring it
    is the correct semantics, and a retraction cannot diverge a
    counter that never claimed to track current state.
    """
    from wing_binlog_go_spark.functions.text import gopher_quality_flags

    _require_posix(stats_dir, "curation_stats_writer")

    def write(env: DataFrame, batch_id: int) -> None:
        part_dir = os.path.join(stats_dir, f"batch_id={batch_id}")
        if batch_committed(part_dir):
            return  # replayed batch: stats row already committed
        docs = _insert_docs(env, table, id_field, text_field)
        flagged = (
            flags_fn(docs)
            if flags_fn is not None
            else gopher_quality_flags(docs, with_rules=True)
        )
        rule_cols = [c for c in flagged.columns if c.startswith("pass_")]
        if "keep" not in flagged.columns or not rule_cols:
            raise ValueError(
                "curation_stats_writer: flags_fn must emit 'keep' and "
                f"'pass_*' columns, got {flagged.columns}"
            )
        stats = flagged.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            *[
                F.sum((~F.col(c)).cast("long")).alias(c.replace("pass_", "fail_"))
                for c in rule_cols
            ],
        )
        # empty batches still write their row (n_docs=0): a silent gap
        # in the stats table would be indistinguishable from a stalled
        # route, and the no-silent-caps rule applies to monitoring too
        rewrite_dir(part_dir, stats.fillna(0))

    return write


def read_curation_stats(spark, stats_dir: str) -> DataFrame:
    """The per-batch funnel table maintained by ``curation_stats_writer``
    (one row per batch; batch_id partition pruning applies)."""
    return spark.read.parquet(stats_dir)


def containment_corpus_writer(
    store_dir: str,
    table: str,
    id_field: str = "id",
    text_field: str = "text",
    threshold: float = 0.8,
):
    """Route writer composing the CDC stream with incremental
    containment dedup (`operators.dedup.incremental_containment_dedup_
    apply`): INSERT envelopes of ``table`` become ingest increments and
    quote/snippet republications of anything already ingested are
    dropped — the EXACT directional companion to ``dedup_corpus_writer``
    (whose MinHash resemblance is blind to small-inside-big).
    Survivors' text rides in the store's ``sets/`` table (read it back
    with ``read_containment_corpus``); sets-append-last is the commit,
    so replays converge.

    INSERT-ONLY, enforced loudly: a retraction raises — a dropped
    DELETE would leave the doc's shingle sets suppressing future
    arrivals it contains. Offline retraction =
    ``operators.dedup.containment_corpus_delete``."""
    from wing_binlog_go_spark.operators.dedup import (
        incremental_containment_dedup_apply,
    )

    def write(env: DataFrame, batch_id: int) -> None:
        if not _insert_only_probe(
            env, table, "containment_corpus_writer",
            _docs_usable(id_field, text_field),
        ):
            return
        docs = _insert_docs(env, table, id_field, text_field)
        incremental_containment_dedup_apply(
            env.sparkSession, docs, store_dir, threshold=threshold
        )

    return write


def read_containment_corpus(spark, store_dir: str) -> DataFrame:
    """(doc_id, text) of the containment-deduped corpus."""
    import os

    return spark.read.parquet(os.path.join(store_dir, "sets")).select(
        F.col("doc").alias("doc_id"), F.col("_text").alias("text")
    )


def classifier_corpus_writer(
    store_dir: str,
    model_path: str,
    table: str,
    id_field: str = "id",
    text_field: str = "text",
    threshold: float = 0.5,
):
    """Route writer applying a FROZEN quality classifier to the CDC
    stream (`functions.classifier`): INSERT envelopes of ``table`` are
    scored with a model trained OFFLINE (`train_logreg` →
    `save_logreg`) and docs scoring ≥ ``threshold`` append to the
    curated store — the GPT-3-style "classifier-kept" feed as a
    streaming stage.

    The model is deliberately frozen, exactly the PQ/IVF-PQ
    frozen-quantizer contract: retraining inside the stream would make
    a doc's keep/drop verdict depend on WHEN it arrived relative to
    the retrain, so replays could disagree with the first pass.
    Refreshing the model = retrain offline, save to a new path, deploy
    a new route. Id-presence in the store is the per-row commit (same
    replay convergence as dedup_corpus_writer); read back with
    ``read_classifier_corpus``.

    INSERT-ONLY, enforced loudly: a retraction raises — a dropped
    DELETE would leave the doc's text in the curated corpus a training
    run reads.
    """
    from wing_binlog_go_spark.functions.classifier import (
        hashed_token_features,
        load_logreg,
        score_logreg,
    )

    w, dim = load_logreg(model_path)

    def write(env: DataFrame, batch_id: int) -> None:
        if not _insert_only_probe(
            env, table, "classifier_corpus_writer",
            _docs_usable(id_field, text_field),
        ):
            return
        docs = _insert_docs(env, table, id_field, text_field)
        if os.path.exists(store_dir):
            seen = env.sparkSession.read.parquet(store_dir).select(
                F.col("doc_id")
            )
            docs = docs.join(seen, "doc_id", "left_anti")
            mode = "append"
        else:
            mode = "errorifexists"
        if docs.isEmpty():
            return
        feats = hashed_token_features(docs, dim=dim)
        kept = (
            score_logreg(feats, w)
            .filter(F.col("score") >= threshold)
            .select(F.col("doc").alias("doc_id"), F.round("score", 6).alias("score"))
        )
        # survivors carry their score + text (the curated corpus is the
        # table a training run reads; losers are simply never appended,
        # and the id-level anti-join above makes replays no-ops)
        docs.join(kept, "doc_id").write.mode(mode).parquet(store_dir)

    return write


def read_classifier_corpus(spark, store_dir: str) -> DataFrame:
    """(doc_id, text, score) kept by ``classifier_corpus_writer``."""
    return spark.read.parquet(store_dir)


def novelty_stats_writer(
    store_dir: str,
    table: str,
    id_field: str = "id",
    text_field: str = "text",
    k: int = 3,
):
    """Route writer maintaining arrival-order n-gram novelty from the
    CDC stream (`functions.text.incremental_novelty_apply`): INSERT
    envelopes of ``table`` become ingest increments; each doc's
    novelty is scored against everything that arrived before it and
    appended to the store's ``novelty/`` table (read it back with
    ``read_novelty_stats``). Shingle-append-first with attribution
    riding in the store makes replays converge (see the operator's
    commit reasoning).

    INSERT-ONLY, enforced loudly: a retraction raises — a dropped
    DELETE would leave the doc's shingles depressing every later
    arrival's novelty score."""
    from wing_binlog_go_spark.functions.text import incremental_novelty_apply

    def write(env: DataFrame, batch_id: int) -> None:
        if not _insert_only_probe(
            env, table, "novelty_stats_writer",
            _docs_usable(id_field, text_field),
        ):
            return
        docs = _insert_docs(env, table, id_field, text_field)
        incremental_novelty_apply(env.sparkSession, docs, store_dir, k=k)

    return write


def read_novelty_stats(spark, store_dir: str) -> DataFrame:
    """(doc_id, n_shingles, n_novel, novelty) per arrived doc."""
    return spark.read.parquet(os.path.join(store_dir, "novelty"))



def _sketch_route(
    store_dir: str,
    table: str,
    op_name: str,
    usable: Callable,
    id_field: str,
    field: str,
    build: Callable[[DataFrame], DataFrame],
) -> Callable[[DataFrame, int], None]:
    """The route body of the mergeable-sketch store family (cms, mg,
    kmv, qdigest). The insert-only probe also yields the batch key, the
    batch's minimum doc id (stable under at-least-once replay). A batch
    whose ``bkey=`` partition is committed (``batch_committed``) or was
    absorbed by ``compact_sketch_store`` is a replay no-op: the
    manifest is written before any partition moves, so this OR is
    crash-safe across the whole compaction window. Otherwise ``build``
    sketches the batch's ``_insert_docs`` frame (doc_id, text) and
    ``rewrite_dir`` publishes the partition in one rename with its
    files, so a crash mid-write leaves nothing that reads as committed
    and the replay re-sketches the batch instead of skipping it."""
    _require_posix(store_dir, op_name)

    def write(env: DataFrame, batch_id: int) -> None:
        n, batch_key = _insert_only_probe(
            env, table, op_name, usable(),
            key_expr=F.element_at("event.data", id_field).cast("long"),
        )
        if not n:
            return
        part_dir = os.path.join(store_dir, f"bkey={batch_key}")
        if batch_committed(part_dir) or batch_key in absorbed_batch_keys(
            store_dir
        ):
            return  # replayed batch: already committed or absorbed
        rewrite_dir(part_dir, build(_insert_docs(env, table, id_field, field)))

    return write


def _tokens(docs: DataFrame) -> DataFrame:
    """One ``tok`` row per lower-cased, space-split token of the text."""
    return docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))


def cms_sketch_writer(
    store_dir: str,
    table: str,
    item_field: str = "text",
    id_field: str = "id",
    width: int = 1024,
    depth: int = 4,
):
    """Route writer maintaining a Count-Min token sketch from the CDC
    stream (`operators.stats.cms_build`): each micro-batch's INSERT
    docs tokenize and sketch into a PARTITION keyed by the batch's
    minimum doc id (an at-least-once-stable batch key). The partition
    appears ATOMICALLY (``_sketch_route``), so directory presence is a
    sound commit marker and a replayed batch is a no-op instead of a
    double-count, which matters precisely because sketches merge by
    ADDITION. Read the merged sketch back with ``read_cms_sketch``
    (cell-wise sum across partitions — the mergeability doing the
    work).

    INSERT-ONLY, enforced loudly: a retraction raises — a sketch can
    never subtract a deleted doc's tokens."""
    from wing_binlog_go_spark.operators.stats import cms_build

    return _sketch_route(
        store_dir, table, "cms_sketch_writer",
        lambda: _docs_usable(id_field, item_field), id_field, item_field,
        lambda docs: cms_build(_tokens(docs), "tok", width=width, depth=depth),
    )


def read_cms_sketch(spark, store_dir: str) -> DataFrame:
    """The merged (j, col, cnt) sketch: cell-wise sum over every
    committed batch partition."""
    return (
        spark.read.parquet(store_dir)
        .groupBy("j", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )


def mg_sketch_writer(
    store_dir: str,
    table: str,
    item_field: str = "text",
    id_field: str = "id",
    k: int = 64,
):
    """Route writer maintaining a Misra-Gries heavy-hitter summary from
    the CDC stream (`operators.stats.misra_gries_topk`): per batch the
    token summary lands in a partition keyed by the batch's min doc id,
    published atomically so partition-presence is a sound replay probe
    (the same commit shape as ``cms_sketch_writer`` — MG merges by
    summing partial estimates, so a replayed batch must not re-merge
    and a crashed half-written batch must not be skipped).
    ``read_mg_sketch`` returns the merged (item, est) table; the
    mergeable-summary theorem keeps the N/(k+1) undercount bound
    through the per-batch merge.

    INSERT-ONLY, enforced loudly — same contract and reason as
    ``cms_sketch_writer``."""
    from wing_binlog_go_spark.operators.stats import misra_gries_topk

    return _sketch_route(
        store_dir, table, "mg_sketch_writer",
        lambda: _docs_usable(id_field, item_field), id_field, item_field,
        lambda docs: misra_gries_topk(_tokens(docs), "tok", k=k),
    )


def read_mg_sketch(spark, store_dir: str) -> DataFrame:
    """The merged (item, est) heavy-hitter summary across committed
    batch partitions."""
    return (
        spark.read.parquet(store_dir)
        .groupBy("item")
        .agg(F.sum("est").alias("est"))
    )


def kmv_sketch_writer(
    store_dir: str,
    table: str,
    key_field: str = "id",
    id_field: str = "id",
    k: int = 256,
):
    """Route writer maintaining a KMV distinct-count sketch of
    ``key_field`` from the CDC stream (`operators.stats.kmv_bottom_k`)
    — the streaming "how many distinct users/keys has this table ever
    seen" estimator, third member of the mergeable-sketch store family
    (CMS counts frequencies, MG names the heavy items, KMV sizes the
    key space). Per batch the k smallest distinct mixed hashes land in
    a partition keyed by the batch's min doc id, published atomically —
    the identical commit shape and replay probe as
    ``cms_sketch_writer``, and for the same reason read through the
    merge: bottom-k over a union equals bottom-k of the parts'
    bottom-k's (closure under union IS the mergeability), so
    ``read_kmv_sketch`` just re-sketches the concatenated partitions —
    k·#batches rows, never the raw key stream.

    A REPLAYED batch here would actually be harmless to the merged
    value (bottom-k is idempotent under re-union, unlike the additive
    CMS/MG merges) — the probe exists to keep the store
    single-writer-per-batch and the family contract uniform.

    INSERT-ONLY, enforced loudly: a retraction raises — an order
    statistic cannot un-see a deleted key's hash."""
    from wing_binlog_go_spark.operators.stats import kmv_bottom_k, kmv_hash

    return _sketch_route(
        store_dir, table, "kmv_sketch_writer",
        lambda: _docs_usable(id_field, key_field), id_field, key_field,
        lambda docs: kmv_bottom_k(docs.select(kmv_hash("text").alias("h")), k),
    )


def read_kmv_sketch(spark, store_dir: str, k: int = 256) -> DataFrame:
    """(rnk, h, est_distinct): the merged KMV sketch — bottom-k over
    the union of every committed batch partition, plus the estimate."""
    from wing_binlog_go_spark.operators.stats import kmv_bottom_k, kmv_estimate

    return kmv_estimate(
        kmv_bottom_k(spark.read.parquet(store_dir).select("h"), k), k
    )


def qdigest_sketch_writer(
    store_dir: str,
    table: str,
    value_field: str = "value",
    id_field: str = "id",
    bits: int = 10,
    k: int = 64,
):
    """Route writer maintaining a Q-digest quantile sketch from the CDC
    stream (`operators.stats.qdigest_build`) — the fourth member of the
    mergeable-sketch store family (CMS frequency, MG heavy items, KMV
    cardinality, Q-digest QUANTILES): "what is the p99 of this column
    over everything the table has ever seen" without keeping the rows.
    Per batch the batch's digest lands in a partition keyed by the
    batch's min doc id under the family's atomic publish and
    parquet-presence replay probe. ``read_qdigest_sketch``
    merges by the sketch's own closure: union the partitions' count
    tables node-wise and recompress — the result is the digest of the
    concatenated batches (order-free, so replay ORDER can't change it
    either; the probe guards the ADDITIVE union, which would
    double-count a replayed batch like CMS/MG).

    INSERT-ONLY, enforced loudly: a retraction raises — a count on a
    dyadic range cannot un-see a deleted row's value.

    Non-numeric payloads are FILTERED, not clamped: ``qdigest_build``'s
    domain clamp is ``least(greatest(cast(v AS long), 0), cap)`` and
    Spark's ``greatest`` skips NULLs, so feeding it an uncast string
    column would silently count every unparseable row in bin 0 and skew
    the low quantiles (the ``drift_monitor_writer`` cast-and-filter
    rule, applied here). The usability predicate requires the cast to
    succeed, so the insert-only probe's count, the batch key, and the
    sketched rows all agree on which rows are usable."""
    from wing_binlog_go_spark.operators.stats import qdigest_build

    def usable():
        return (
            F.element_at("event.data", id_field).cast("long").isNotNull()
            & F.element_at("event.data", value_field).cast("long").isNotNull()
        )

    def build(docs: DataFrame) -> DataFrame:
        values = docs.select(
            "doc_id", F.col("text").cast("long").alias("_value")
        ).filter(F.col("_value").isNotNull())
        return qdigest_build(values, "_value", bits=bits, k=k).select(
            "id", "cnt"
        )

    return _sketch_route(
        store_dir, table, "qdigest_sketch_writer", usable, id_field,
        value_field, build,
    )


def drift_monitor_writer(
    store_dir: str,
    table: str,
    value_field: str = "value",
    group_field: str = "source",
    id_field: str = "id",
    bin_width: int = 50,
    cap: int = 1023,
):
    """Route writer monitoring per-source feature DRIFT from the CDC
    stream — the streaming form of q163's PSI: the FIRST batch freezes
    the corpus reference profile (fixed-width histogram over the
    clamped domain, atomic tmp+rename json — the centroids.json
    contract), and every batch appends one (source, n_docs, psi_r) row
    per arriving source plus an ``__all__`` total row, PSI of the
    batch's binned distribution against the frozen reference. An
    operator watches the table for a source whose psi_r crosses the
    0.25 line — the crawl-gone-bad alarm fires batches before the
    corpus-level stats move.

    Bins are a FIXED grid (cap//bin_width + 1 buckets over the clamped
    domain), so every batch's profile is comparable to the reference by
    construction and the binning stays a map-side expression; both
    distributions are Laplace-smoothed; the PSI sum folds a bin-ORDERED
    collected list (the q163 determinism contract). Commit: rows land
    in a ``bkey=`` partition published by ``maintenance.rewrite_dir``,
    so replays are no-ops (the sketch-family shape).

    Deliberately NOT under the store routes' loud insert-only probe —
    same reasoning as ``curation_stats_writer``: this route maintains
    per-batch ARRIVAL measurements, not a mirror; an UPDATE/DELETE is
    not an arrival and cannot diverge a measurement that never claimed
    to track current state."""
    _require_posix(store_dir, "drift_monitor_writer")
    n_bins = cap // bin_width + 1

    def write(env: DataFrame, batch_id: int) -> None:
        spark = env.sparkSession
        rows = (
            env.filter(
                (F.col("event_type") == "insert")
                & (F.concat_ws(".", "database", "table") == table)
            )
            .select(
                F.element_at("event.data", id_field).cast("long").alias("doc_id"),
                F.element_at("event.data", group_field).alias("source"),
                F.element_at("event.data", value_field).cast("long").alias("v"),
            )
            .filter(
                F.col("doc_id").isNotNull()
                & F.col("source").isNotNull()
                & F.col("v").isNotNull()
            )
            .dropDuplicates(["doc_id"])
            .withColumn(
                "bin",
                F.floor(
                    F.least(F.greatest("v", F.lit(0)), F.lit(cap)) / bin_width
                ).cast("long"),
            )
        )
        # one driver action doubles as the emptiness probe (min of an
        # empty frame is NULL) — the curation_stats one-agg budget
        batch_key = rows.agg(F.min("doc_id")).collect()[0][0]
        if batch_key is None:
            return
        part_dir = os.path.join(store_dir, "psi", f"bkey={batch_key}")
        if batch_committed(part_dir):
            return  # replayed batch

        ref_path = os.path.join(store_dir, "reference.json")
        if not os.path.exists(ref_path):
            # first batch IS the reference: freeze its global profile
            os.makedirs(store_dir, exist_ok=True)
            prof = {
                int(r.bin): int(r.c)
                for r in rows.groupBy("bin").agg(F.count("*").alias("c")).collect()
            }
            write_json(ref_path, {"bins": prof, "n": sum(prof.values()),
                                  "bin_width": bin_width, "cap": cap})
        with open(ref_path) as f:
            ref = json.load(f)
        ref_rows = [(int(b), int(c)) for b, c in ref["bins"].items()]
        ref_n = int(ref["n"])
        # the FIXED grid: every bucket of the clamped domain, with the
        # reference count (0 where the reference saw nothing)
        refc = {b: c for b, c in ref_rows}
        grid = spark.createDataFrame(
            [(b, refc.get(b, 0)) for b in range(n_bins)], "bin long, cg long"
        )

        groups = rows.select("source", "bin").unionByName(
            rows.select(F.lit("__all__").alias("source"), "bin")
        )
        scounts = groups.groupBy("source", "bin").agg(F.count("*").alias("cs"))
        stotals = groups.groupBy("source").agg(F.count("*").alias("ns"))
        full = (
            stotals.crossJoin(F.broadcast(grid))
            .join(scounts, ["source", "bin"], "left")
            .fillna(0, subset=["cs"])
        )
        p = (F.col("cs") + 1) / (F.col("ns") + n_bins)
        q = (F.col("cg") + 1) / (ref_n + n_bins)
        psi = (
            full.select(
                "source", "ns", "bin", ((p - q) * F.log(p / q)).alias("term")
            )
            .groupBy("source")
            .agg(
                F.max("ns").alias("n_docs"),
                F.round(
                    F.aggregate(
                        F.sort_array(F.collect_list(F.struct("bin", "term"))),
                        F.lit(0.0),
                        lambda acc, x: acc + x["term"],
                    ),
                    6,
                ).alias("psi_r"),
            )
        )
        rewrite_dir(part_dir, psi)

    return write


def read_drift_monitor(spark, store_dir: str) -> DataFrame:
    """(bkey, source, n_docs, psi_r): the per-batch drift table."""
    return spark.read.parquet(os.path.join(store_dir, "psi"))


def read_qdigest_sketch(
    spark, store_dir: str, bits: int = 10, k: int = 64
) -> DataFrame:
    """(id, cnt): the merged Q-digest — node-wise sum of every
    committed batch partition's count table, recompressed under the
    merged total's threshold (the merge IS the sketch's own compress,
    so accuracy degrades no worse than the bits/k bound)."""
    from wing_binlog_go_spark.operators.stats import qdigest_compress

    summed = (
        spark.read.parquet(store_dir)
        .groupBy("id")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return qdigest_compress(summed, bits=bits, k=k)
