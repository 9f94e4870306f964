"""Similarity search over the ``embeddings`` table (array<float> column).

Two paths (driver north star):

- ``brute_force_topk`` — exact cosine top-k. The query set is broadcast, so
  the corpus is scanned once with no shuffle; per-query top-k is a window
  over a corpus-partitioned intermediate. This is the *correctness
  baseline* (oracled against DuckDB's list_cosine_similarity) and is also
  the right plan whenever |queries| is small — at 100 TB the corpus scan
  dominates and is embarrassingly parallel.
- ``lsh_topk`` — random-hyperplane (sign) LSH with L independent tables:
  candidates = bucket collisions in any table, exact cosine re-rank on
  candidates only. The scale path when |queries| is large: both sides hash
  to (table, bucket) and the join is an equi-join instead of a cross join.

Hyperplanes are generated driver-side from a fixed seed (numpy
RandomState) and enter the plan as literals — deterministic, no RNG on
executors. All math is built-in higher-order functions (zip_with /
aggregate) on doubles; no Python UDFs.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from wing_binlog_go_spark.plans.relational import QuerySpec
from wing_binlog_go_spark.tables import read_table

logger = logging.getLogger(__name__)

QUERIES: dict[str, QuerySpec] = {}


def _name_sql(col) -> "str | None":
    """SQL fragment for a column argument: the raw name when it is a
    string (raw, so dotted alias paths keep F.col's multipart-name
    semantics), None for Column objects. String arguments take a
    single-F.expr fast path below: the Column-API lambda chains cost
    ~15-25 py4j round trips per call site to build, the parsed string
    ~1 ms — same construction-cost class as the r12 relation cache
    (driver wall-clock on every query build)."""
    return col if isinstance(col, str) else None


def as_double(vec) -> Column:
    name = _name_sql(vec)
    if name is not None:
        return F.expr(f"transform({name}, x -> CAST(x AS DOUBLE))")
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Pure-expression dot product: left-to-right fold of pairwise
    products.

    An Arrow-vectorized numpy twin (bit-exact: same IEEE-754 op
    sequence) was built and MEASURED in the r12 optimization round and
    REJECTED: on the q38 shape (20k pairs × 64 dims at sf0.1) the
    pandas-UDF form was ~40% slower end to end (noop 0.61 s → 0.86 s)
    — serializing two double-arrays per pair across the Arrow boundary
    costs more than the CodegenFallback interpreter it replaces, and
    the ratio is scale-independent (both sides linear in pairs × dim).
    Guide §1.1's "fresh implementation of the ideal plan is usually
    slower at first" in action; the expression stays."""
    an, bn = _name_sql(a), _name_sql(b)
    if an is not None and bn is not None:
        return F.expr(
            f"aggregate(zip_with({an}, {bn}, (x, y) -> x * y), 0.0D, "
            "(acc, x) -> acc + x)"
        )
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a) -> Column:
    name = _name_sql(a)
    if name is not None:
        return F.expr(
            f"sqrt(aggregate(transform({name}, x -> x * x), 0.0D, "
            "(acc, x) -> acc + x))"
        )
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine(a, b) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _adc_expr(codes, tbl, m: int, n_codes: int) -> Column:
    """ADC distance: sum over subspaces j of tbl[j*n_codes + codes[j]].

    Unrolled per-subspace element_at sum instead of the
    ``aggregate(zip_with(codes, sequence, lookup))`` fold: HOFs are
    CodegenFallback (interpreted, two array allocations per candidate
    pair), while GetArrayItem + ElementAt + double add whole-stage-
    codegen.  This runs once per (candidate row × query) — the hot
    expression of every PQ / IVF-PQ scan.  Micro A/B at 5M pairs, m=8,
    n_codes=16 (tools/ab_adc_micro.py, r12): net cost 0.36 s → 0.055 s
    (~6.5×).  Bit-identical: additions stay in subspace order seeded
    from 0.0, and the index arithmetic is the same integer expression.
    (The 64-element double dot product does NOT benefit — see ``dot``.)
    """
    cn, tn = _name_sql(codes), _name_sql(tbl)
    if cn is not None and tn is not None:
        # one parser call; the unrolled Column-API loop costs ~40 py4j
        # round trips per build (the r13 construction note in dedup.py)
        return F.expr(
            "0.0D + "
            + " + ".join(
                f"element_at({tn}, CAST((({j * n_codes} + {cn}[{j}]) + 1) AS INT))"
                for j in range(m)
            )
        )
    out = F.lit(0.0)
    for j in range(m):
        out = out + F.element_at(
            tbl, (F.lit(j * n_codes) + codes[j] + 1).cast("int")
        )
    return out


def _l2n(mat: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalize with a zero-norm clamp: an all-zero
    embedding stays the zero vector (it lands in a valid coarse list /
    code like any other point) instead of poisoning list assignments
    and codes with NaNs (ADVICE r5)."""
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for every row of ``queries``.

    ``queries`` must have columns (query_id_col, vec_col); it is broadcast.
    Self-matches (query_id == vec_id) are excluded.

    Norms are computed ONCE per side before the join: cosine(a,b) inside
    the |C|×|Q| pair stream would re-fold ‖a‖ and ‖b‖ per pair — three
    interpreted HOF folds per pair where one (the dot product) suffices.
    At 10^9 × 10^3 pairs that's the difference between 1 and 3 full
    passes of the fold interpreter over every vector element.
    """
    c = corpus.select(F.col(id_col), as_double(vec_col).alias("_cv")).withColumn(
        "_cn", norm("_cv")
    )
    q = queries.select(
        F.col(query_id_col), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", norm("_qv"))
    scored = (
        c.crossJoin(broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            (dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn"))).alias(
                "_sim"
            ),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            query_id_col,
            id_col,
            "rnk",
            F.round("_sim", 6).alias("sim_r"),
        )
    )


def _hyperplanes(dim: int, n_bits: int, table: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed + 1000 * table)
    return rng.randn(n_bits, dim).tolist()


def all_table_buckets(n_bits: int, n_tables: int, dim: int, seed: int = 42):
    """Arrow-vectorized bucket ids for ALL hash tables in one pass:
    vec → array<long>[n_tables].

    Why a pandas UDF when everything else is JVM-side: the expression
    form embeds n_tables × n_bits literal hyperplanes (→ thousands of
    Catalyst nodes, re-optimized on every query build — measured ~5 s of
    plan time per call at 8×4×64) and the per-row dot products are
    CodegenFallback-interpreted anyway. Here the planes live in ONE
    numpy (tables, bits, dim) tensor closed over by the UDF, the plan
    gets a single opaque node, and each Arrow batch is one einsum —
    the documented "dense linear algebra" exception to the
    built-ins-first rule. Sign convention: bit j set iff dot > 0.
    """
    from pyspark.sql.functions import pandas_udf

    planes = np.stack(
        [np.array(_hyperplanes(dim, n_bits, t, seed)) for t in range(n_tables)]
    )  # (tables, bits, dim)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])  # (n, dim)
        prod = np.einsum("tbd,nd->ntb", planes, mat)  # (n, tables, bits)
        ids = ((prod > 0) * weights).sum(axis=2)  # (n, tables)
        return pd.Series(list(ids))

    return buckets


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: union of bucket collisions across L tables,
    exact cosine re-rank on the (much smaller) candidate set.

    Tune n_bits to corpus size: collision recall per table falls as
    (1 - θ/π)^n_bits, so small corpora want few bits (4 ⇒ 16 buckets);
    at 10^9+ vectors use 16-24 bits so buckets stay bounded while the
    extra tables recover recall.
    """
    c = corpus.select(F.col(id_col), as_double(vec_col).alias("_cv")).withColumn(
        "_cn", norm("_cv")
    )
    q = queries.select(
        F.col(query_id_col), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", norm("_qv"))
    buckets = all_table_buckets(n_bits, n_tables, dim)

    def with_buckets(df, vcol, out_prefix):
        return df.select(
            "*",
            F.posexplode(buckets(F.col(vcol))).alias(
                f"{out_prefix}_tbl", f"{out_prefix}_bkt"
            ),
        )

    cb = with_buckets(c, "_cv", "c")
    qb = with_buckets(q, "_qv", "q")
    # norm columns ride along (functionally dependent on the vectors, so
    # the distinct is unchanged); cosine on candidates then reuses them
    # instead of re-folding ||a||,||b|| per candidate
    cand = (
        cb.join(
            broadcast(qb),
            (F.col("c_tbl") == F.col("q_tbl")) & (F.col("c_bkt") == F.col("q_bkt")),
        )
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, "_qv", "_cv", "_qn", "_cn")
        .distinct()
    )
    scored = cand.select(
        query_id_col,
        id_col,
        (dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn"))).alias("_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "rnk", F.round("_sim", 6).alias("sim_r"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF-style ANN: k-means coarse quantizer → inverted lists → probe.

    Corpus vectors are assigned to their nearest centroid (one pass, map
    side); each query probes its ``n_probe`` nearest centroids and ranks
    only those lists. At 10^9 vectors this reads n_probe/n_centroids of
    the corpus per query batch instead of all of it, and the centroid
    assignment is a broadcast join (centroids are tiny). Centroids come
    from Spark ML KMeans with a fixed seed — deterministic.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(F.col(id_col), as_double(vec_col).alias("_cv")).withColumn(
        "_cn", norm("_cv")
    )
    q = queries.select(
        F.col(query_id_col), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", norm("_qv"))

    train = c.select(array_to_vector("_cv").alias("features"))
    km = KMeans(k=n_centroids, seed=seed, maxIter=20).fit(train)
    cents = np.stack([np.asarray(ctr, dtype=np.float64) for ctr in km.clusterCenters()])
    cents_sq = (cents**2).sum(axis=1)

    def nearest_udf(n: int):
        """Arrow-vectorized n-nearest-centroid indices by squared L2.
        Same reasoning as all_table_buckets: the expression form carries
        n_centroids × dim literals through Catalyst per reference; here
        the centroid matrix rides inside one opaque UDF node. Ties break
        on the lower centroid index (stable argsort), matching the
        struct array_sort tie rule of the expression formulation."""
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<int>")
        def nearest(v: pd.Series) -> pd.Series:
            mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
            # ||x-c||² = ||x||² - 2·x·c + ||c||²; ||x||² is constant per
            # row so it can't change the argsort — one (n × k) GEMM, no
            # (n × k × dim) broadcast intermediate (with 10k-row Arrow
            # batches, 1024 centroids, 768 dims that intermediate would
            # be ~63 GB → executor OOM).
            d2 = cents_sq[None, :] - 2.0 * (mat @ cents.T)
            order = np.argsort(d2, axis=1, kind="stable")[:, :n].astype(np.int32)
            return pd.Series(list(order))

        return nearest

    assigned = c.select(
        id_col,
        "_cv",
        "_cn",
        F.element_at(nearest_udf(1)(F.col("_cv")), 1).alias("_list"),
    )
    probed = q.select(
        query_id_col,
        "_qv",
        "_qn",
        F.explode(nearest_udf(n_probe)(F.col("_qv"))).alias("_list"),
    )
    cand = assigned.join(broadcast(probed), "_list").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = cand.select(
        query_id_col,
        id_col,
        (dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn"))).alias("_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "rnk", F.round("_sim", 6).alias("sim_r"))
    )


def _pq_codebooks(
    sample: np.ndarray, m: int, n_codes: int, seed: int = 42, iters: int = 20
) -> np.ndarray:
    """Per-subspace Lloyd's k-means codebooks: (m, n_codes, dim//m).

    Plain numpy on a bounded driver-side sample — same training regime
    as IVF's coarse quantizer (codebooks are trained on a sample, used
    everywhere). Deterministic: seeded init by distinct-row choice,
    stable tie-break on argmin, empty clusters re-seeded from the
    largest cluster's farthest points.
    """
    n, dim = sample.shape
    sub = dim // m
    rng = np.random.RandomState(seed)
    books = np.empty((m, n_codes, sub))
    for j in range(m):
        x = sample[:, j * sub : (j + 1) * sub]
        # distinct starting points (k-means++ would also do; distinct
        # choice is enough for deterministic small codebooks)
        uniq = np.unique(x, axis=0)
        idx = rng.choice(len(uniq), size=min(n_codes, len(uniq)), replace=False)
        c = uniq[idx]
        if len(c) < n_codes:  # degenerate sample: pad with jittered repeats
            pad = c[rng.choice(len(c), n_codes - len(c))] + rng.randn(
                n_codes - len(c), sub
            ) * 1e-6
            c = np.vstack([c, pad])
        for _ in range(iters):
            d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for ci in range(n_codes):
                mask = assign == ci
                if mask.any():
                    c[ci] = x[mask].mean(axis=0)
        books[j] = c
    return books


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    train_cap: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Train the per-subspace codebooks on a bounded driver-side sample
    of L2-normalized corpus vectors. Returns (m, n_codes, dim//m)."""
    c = corpus.select(as_double(vec_col).alias("_cv"))
    train = np.stack(
        [np.asarray(r["_cv"], dtype=np.float64) for r in c.limit(train_cap).collect()]
    )
    train = _l2n(train)
    return _pq_codebooks(train, m, n_codes, seed)


def _pq_encoder(books: np.ndarray):
    """Arrow-vectorized corpus encoder for a trained codebook tensor."""
    from pyspark.sql.functions import pandas_udf

    m, n_codes, sub = books.shape
    books_sq = (books**2).sum(axis=2)

    @pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        mat = _l2n(mat)
        parts = mat.reshape(len(mat), m, sub)
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            d2 = books_sq[j][None, :] - 2.0 * (parts[:, j, :] @ books[j].T)
            codes[:, j] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def pq_encode(
    corpus: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, _cv, _cn, _codes): compressed codes + the full vector and
    its norm for the refine fetch — the disk layout of a real PQ system
    (codes are the in-memory scan structure; full vectors are only read
    for refine survivors)."""
    c = corpus.select(F.col(id_col), as_double(vec_col).alias("_cv"))
    encode = _pq_encoder(books)
    return c.withColumn("_codes", encode(F.col("_cv"))).withColumn(
        "_cn", norm("_cv")
    )


def persist_pq_index(
    corpus: DataFrame,
    store_dir: str,
    m: int = 16,
    n_codes: int = 16,
    train_cap: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Amortized path (same reasoning as the MinHash signature store):
    train + encode ONCE, reuse for every query batch until the corpus
    changes. Codes parquet + codebook JSON land under ``store_dir``."""
    import os as _os

    from wing_binlog_go_spark.streaming.maintenance import write_json

    books = pq_train(corpus, m, n_codes, train_cap, id_col, vec_col, seed)
    pq_encode(corpus, books, id_col, vec_col).write.mode("overwrite").parquet(
        _os.path.join(store_dir, "codes")
    )
    # codes first, codebooks LAST and atomically: the json's presence is
    # the founding commit (incremental_pq_index_apply keys on it), so a
    # crash mid-write must leave no truncated file a reader could load
    write_json(
        _os.path.join(store_dir, "codebooks.json"),
        {"m": m, "n_codes": n_codes, "books": books.tolist()},
    )


def incremental_pq_index_apply(
    spark: SparkSession,
    new_vectors: DataFrame,
    store_dir: str,
    m: int = 16,
    n_codes: int = 16,
    train_cap: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> dict:
    """Maintain the persisted PQ index incrementally — the vector-DB
    ingestion path: each embedding increment is encoded with the
    FROZEN codebooks and appended to the codes table, so recurring ANN
    query batches (`pq_topk(index=load_pq_index(...))`) always see the
    whole corpus without any retrain or re-encode of history.

    Same store-is-commit contract as the dedup stores: the first batch
    trains codebooks (bounded driver-side sample) and creates the
    store; later batches assign against the frozen books map-side
    (one Arrow pass over the INCREMENT only); rows whose id already
    exists are replay no-ops, so an at-least-once feed converges.
    ADC distances stay comparable across batches precisely BECAUSE the
    books are frozen — retraining per batch would silently re-scale
    the distance space under existing codes (the same reason
    ``incremental_semantic_dedup_apply`` freezes its centroids). When
    drift accumulates, rebuild with ``persist_pq_index`` as an offline
    compaction, like any vector-DB reindex.

    Returns {"batch": n, "replayed": r, "appended": a}.
    """
    import os as _os

    # in-batch id dedup (see incremental_dedup_apply in operators.dedup):
    # the anti-join only screens against the store and the first-batch
    # path encodes verbatim, so an in-batch duplicate would write the
    # same id's codes twice — permanent duplicate ANN candidates
    new_vectors = new_vectors.dropDuplicates([id_col])

    from wing_binlog_go_spark.streaming.maintenance import recover_swap

    codes_dir = _os.path.join(store_dir, "codes")
    # a pq_index_delete interrupted mid-swap leaves codes/ absent with
    # only its backup — roll it forward before probing the store
    recover_swap(codes_dir)
    if _os.path.exists(_os.path.join(store_dir, "codebooks.json")):
        _, books = load_pq_index(spark, store_dir)
        fresh = new_vectors.join(
            spark.read.parquet(codes_dir).select(id_col), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        n_batch = new_vectors.count()
        n_fresh = fresh.count()
        if n_fresh:
            pq_encode(fresh, books, id_col, vec_col).write.mode("append").parquet(
                codes_dir
            )
        return {"batch": n_batch, "replayed": n_batch - n_fresh,
                "appended": n_fresh}
    n_batch = new_vectors.count()
    persist_pq_index(
        new_vectors, store_dir, m, n_codes, train_cap, id_col, vec_col, seed
    )
    return {"batch": n_batch, "replayed": 0, "appended": n_batch}


def load_pq_index(spark: SparkSession, store_dir: str):
    """→ (coded_corpus, books) for ``pq_topk(index=...)``."""
    import json as _json
    import os as _os

    with open(_os.path.join(store_dir, "codebooks.json")) as f:
        meta = _json.load(f)
    books = np.asarray(meta["books"], dtype=np.float64)
    coded = spark.read.parquet(_os.path.join(store_dir, "codes"))
    return coded, books


def pq_topk(
    corpus: DataFrame | None,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    refine: int = 30,
    train_cap: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    index: tuple | None = None,
) -> DataFrame:
    """Product-quantization ANN: ADC (asymmetric distance) scan over
    compressed codes, exact cosine re-rank of the top ``refine``.

    The third ANN regime alongside LSH and IVF: at 10^9+ vectors the
    win is MEMORY — each vector stores as m log2(n_codes)-bit codes
    (here 8 bytes vs 256 for float32×64), so the scan works a ~32×
    smaller table and the full-precision vectors are only touched for
    the ``refine`` survivors per query.

    Mechanics (all deterministic, seeded):
    - vectors are L2-normalized first, so squared-L2 ADC order ==
      cosine order (‖a−b‖² = 2 − 2cos on the unit sphere);
    - per-subspace codebooks from a bounded driver-side sample
      (``_pq_codebooks``, the documented dense-algebra exception);
    - corpus encode = one Arrow pass → array<int>[m] codes;
    - per (query, code-cell) partial distances form the query's flat
      ADC table (array<double>[m·n_codes], broadcast with the query
      row); the scan is a pure JVM fold: code j indexes table slot
      j·n_codes + code. No Python in the per-corpus-row hot path;
    - top ``refine`` by ADC per query → exact cosine on originals.
    """
    from pyspark.sql.functions import pandas_udf

    if index is not None:
        coded, books = index
        m, n_codes = books.shape[0], books.shape[1]
    else:
        books = pq_train(corpus, m, n_codes, train_cap, id_col, vec_col, seed)
        coded = pq_encode(corpus, books, id_col, vec_col)
    sub = books.shape[2]
    books_sq = (books**2).sum(axis=2)  # (m, n_codes)
    q = queries.select(F.col(query_id_col), as_double(vec_col).alias("_qv"))

    @pandas_udf("array<double>")
    def adc_table(v: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        mat = _l2n(mat)
        parts = mat.reshape(len(mat), m, sub)
        tables = np.empty((len(mat), m, n_codes))
        for j in range(m):
            tables[:, j, :] = (
                books_sq[j][None, :]
                - 2.0 * (parts[:, j, :] @ books[j].T)
                + (parts[:, j, :] ** 2).sum(axis=1, keepdims=True)
            )
        return pd.Series(list(tables.reshape(len(mat), m * n_codes)))

    qt = q.withColumn("_tbl", adc_table(F.col("_qv"))).withColumn(
        "_qn", norm("_qv")
    )

    # ADC distance: unrolled per-subspace table lookup sum (codegen;
    # bit-identical to the former HOF fold — see _adc_expr).
    adc = _adc_expr("_codes", "_tbl", m, n_codes)

    cand = (
        coded.crossJoin(broadcast(qt))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col, "_cv", "_qv", "_cn", "_qn", adc.alias("_adc"))
    )
    w_adc = Window.partitionBy(query_id_col).orderBy(F.asc("_adc"), F.asc(id_col))
    refined = cand.withColumn("_arnk", F.row_number().over(w_adc)).filter(
        F.col("_arnk") <= refine
    )
    scored = refined.select(
        query_id_col,
        id_col,
        (dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn"))).alias("_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "rnk", F.round("_sim", 6).alias("sim_r"))
    )


def ivfpq_train(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    train_cap: int = 10000,
    vec_col: str = "embedding",
    seed: int = 42,
):
    """Train the IVF-PQ quantizer pair on a bounded driver-side sample:
    a full-dimension coarse codebook (the inverted-list assigner) plus
    per-subspace codebooks trained on RESIDUALS against each sample
    vector's assigned coarse centroid — residual PQ is what makes the
    combination beat either part alone (the residual distribution is
    centered and tight, so the same code budget quantizes it much
    finer than the raw vectors). Returns (coarse (n_centroids, dim),
    books (m, n_codes, dim//m)). ``_pq_codebooks`` with m=1 IS a
    full-dim k-means — reused for the coarse stage."""
    c = corpus.select(as_double(vec_col).alias("_cv"))
    train = np.stack(
        [np.asarray(r["_cv"], dtype=np.float64) for r in c.limit(train_cap).collect()]
    )
    train = _l2n(train)
    coarse = _pq_codebooks(train, 1, n_centroids, seed)[0]
    d2 = ((train**2).sum(axis=1, keepdims=True)
          - 2.0 * (train @ coarse.T)
          + (coarse**2).sum(axis=1)[None, :])
    resid = train - coarse[d2.argmin(axis=1)]
    books = _pq_codebooks(resid, m, n_codes, seed + 1)
    return coarse, books


def _ivfpq_encoder(coarse: np.ndarray, books: np.ndarray):
    """Arrow-vectorized corpus pass: one UDF computes the coarse list
    assignment AND the residual PQ codes — the corpus is read once."""
    from pyspark.sql.functions import pandas_udf

    m, n_codes, sub = books.shape
    coarse_sq = (coarse**2).sum(axis=1)
    books_sq = (books**2).sum(axis=2)

    @pandas_udf("struct<list:int, codes:array<int>>")
    def encode(v: pd.Series) -> pd.DataFrame:
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        mat = _l2n(mat)
        d2 = coarse_sq[None, :] - 2.0 * (mat @ coarse.T)
        lists = d2.argmin(axis=1)
        parts = (mat - coarse[lists]).reshape(len(mat), m, sub)
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            dj = books_sq[j][None, :] - 2.0 * (parts[:, j, :] @ books[j].T)
            codes[:, j] = dj.argmin(axis=1)
        return pd.DataFrame(
            {"list": lists.astype(np.int32), "codes": list(codes)}
        )

    return encode


def _ivfpq_prober(coarse: np.ndarray, books: np.ndarray, n_probe: int):
    """Per query: the ``n_probe`` nearest coarse lists, each with the
    ADC table of the query's residual AGAINST THAT LIST's centroid —
    IVF-PQ's distance is list-relative, so each probed list needs its
    own table (n_probe · m · n_codes doubles per query, broadcast with
    the query row exactly like ``pq_topk``'s single table)."""
    from pyspark.sql.functions import pandas_udf

    m, n_codes, sub = books.shape
    coarse_sq = (coarse**2).sum(axis=1)
    books_sq = (books**2).sum(axis=2)

    @pandas_udf("array<struct<list:int, tbl:array<double>>>")
    def probe(v: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        mat = _l2n(mat)
        d2 = coarse_sq[None, :] - 2.0 * (mat @ coarse.T)
        order = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
        out = []
        for i in range(len(mat)):
            entries = []
            for lst in order[i]:
                parts = (mat[i] - coarse[lst]).reshape(m, sub)
                tbl = (
                    books_sq
                    - 2.0 * np.einsum("js,jcs->jc", parts, books)
                    + (parts**2).sum(axis=1, keepdims=True)
                )
                entries.append(
                    {"list": int(lst), "tbl": tbl.reshape(-1).tolist()}
                )
            out.append(entries)
        return pd.Series(out)

    return probe


def ivfpq_encode(
    corpus: DataFrame,
    coarse: np.ndarray,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, _cv, _cn, _list, _codes): coarse list assignment + residual
    PQ codes in ONE Arrow pass, plus the full vector and its norm for
    the refine fetch — the disk layout of an IVF-PQ system."""
    c = corpus.select(F.col(id_col), as_double(vec_col).alias("_cv")).withColumn(
        "_cn", norm("_cv")
    )
    enc = _ivfpq_encoder(coarse, books)
    # coalesce makes the join key non-nullable so Catalyst doesn't
    # insert an IsNotNull filter on it — that filter would split the
    # Arrow stage and EVALUATE THE ENCODER TWICE over the corpus (the
    # big side; observed in explain before the coalesce). The UDF
    # never actually returns null.
    return c.withColumn("_e", enc(F.col("_cv"))).select(
        id_col, "_cv", "_cn",
        F.coalesce(F.col("_e.list"), F.lit(-1)).alias("_list"),
        F.col("_e.codes").alias("_codes"),
    )


def persist_ivfpq_index(
    corpus: DataFrame,
    store_dir: str,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    train_cap: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Amortized IVF-PQ path: train the quantizer pair + encode ONCE,
    reuse for every query batch. The codes table is PARTITIONED BY the
    inverted-list id, so a probe touching n_probe lists reads only
    those partitions from disk — the on-disk form of the inverted
    index (IVF's scan saving becomes an IO saving). Commits through
    the same staged-swap protocol as ``compact_ivfpq_index`` (the
    quantizers ride inside the codes dir), so a rebuild over an
    existing store can never pair new codes with old quantizers — and
    the embedded copy is refreshed WITH the codes, never left stale."""
    coarse, books = ivfpq_train(
        corpus, n_centroids, m, n_codes, train_cap, vec_col, seed
    )
    coded = ivfpq_encode(corpus, coarse, books, id_col, vec_col)
    _commit_ivfpq_store(coded, coarse, books, store_dir, n_centroids, m, n_codes)


def incremental_ivfpq_index_apply(
    spark: SparkSession,
    new_vectors: DataFrame,
    store_dir: str,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    train_cap: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> dict:
    """Maintain the persisted IVF-PQ index incrementally — the same
    contract as ``incremental_pq_index_apply``: first batch trains and
    creates the store; later batches encode the INCREMENT against the
    FROZEN quantizers map-side and append into the list-partitioned
    codes table (each append lands only in its lists' partitions);
    already-present ids are replay no-ops. Frozen quantizers keep ADC
    distances and list assignments comparable across batches; rebuild
    with ``persist_ivfpq_index`` as offline compaction when drift
    accumulates. Returns {"batch": n, "replayed": r, "appended": a}."""
    import os as _os

    # in-batch id dedup (see incremental_pq_index_apply)
    new_vectors = new_vectors.dropDuplicates([id_col])

    codes_dir = _os.path.join(store_dir, "codes")
    # heal an ivfpq_index_delete interrupted mid-partition-swap before
    # probing ids (a retired-but-never-promoted list would otherwise
    # read as absent and its ids would re-append as "fresh")
    if _os.path.isdir(codes_dir):
        _recover_partition_swaps(codes_dir)
        spark.catalog.refreshByPath(codes_dir)
    if _ivfpq_meta_path(store_dir) is not None:
        _, coarse, books = load_ivfpq_index(spark, store_dir)
        fresh = new_vectors.join(
            spark.read.parquet(codes_dir).select(id_col), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        n_batch = new_vectors.count()
        n_fresh = fresh.count()
        if n_fresh:
            ivfpq_encode(fresh, coarse, books, id_col, vec_col).write.mode(
                "append"
            ).partitionBy("_list").parquet(codes_dir)
        return {"batch": n_batch, "replayed": n_batch - n_fresh,
                "appended": n_fresh}
    n_batch = new_vectors.count()
    persist_ivfpq_index(
        new_vectors, store_dir, n_centroids, m, n_codes, train_cap,
        id_col, vec_col, seed,
    )
    return {"batch": n_batch, "replayed": 0, "appended": n_batch}


def _commit_ivfpq_store(
    coded: DataFrame,
    coarse,
    books,
    store_dir: str,
    n_centroids: int,
    m: int,
    n_codes: int,
) -> None:
    """The ONE commit path for a full (re)write of the IVF-PQ store:
    ``rewrite_dir`` of the list-partitioned codes WITH the quantizers
    embedded as underscore meta, then a durable refresh of the
    store-root convenience copy. A crash on either side of the swap
    leaves a consistent (codes, quantizers) pair — (old, old) or
    (new, new) — and the embedded copy can never be stale because it
    is only ever written together with the codes it encodes."""
    import os as _os

    from wing_binlog_go_spark.streaming.maintenance import (
        recover_swap,
        rewrite_dir,
        write_json,
    )

    codes_dir = _os.path.join(store_dir, "codes")
    _os.makedirs(store_dir, exist_ok=True)
    recover_swap(codes_dir)
    meta = {
        "n_centroids": n_centroids,
        "m": m,
        "n_codes": n_codes,
        "coarse": coarse.tolist(),
        "books": books.tolist(),
    }
    rewrite_dir(
        codes_dir,
        lambda staged: coded.write.partitionBy("_list").parquet(staged),
        {"_quantizers.json": meta},
    )
    write_json(_os.path.join(store_dir, "quantizers.json"), meta)


def pq_index_delete(
    spark: SparkSession,
    store_dir: str,
    ids: "list[int] | DataFrame",
    id_col: str = "vec_id",
) -> dict:
    """OFFLINE retraction for the PQ index store — the delete path
    ``pq_index_writer`` refuses online: without it a deleted vector's
    codes keep answering ANN queries forever (the r8 verdict's ghost).
    The codes table is flat (not list-partitioned), so retraction is
    one ``rewrite_dir`` minus the ids — ``recover_swap`` first, so an
    interrupted previous delete rolls forward; idempotent, so
    re-running after any crash converges. The frozen codebooks are
    untouched (codes of the survivors stay valid by construction).
    Same offline cost class as ``persist_pq_index``; the
    list-partitioned sibling (:func:`ivfpq_index_delete`) shows the
    bounded-IO form. Returns {"deleted_ids": n}."""
    import os as _os

    from wing_binlog_go_spark.streaming.maintenance import (
        recover_swap,
        rewrite_dir,
    )

    codes_dir = _os.path.join(store_dir, "codes")
    recover_swap(codes_dir)
    if isinstance(ids, DataFrame):
        ids_df = ids.select(F.col(ids.columns[0]).alias(id_col))
    else:
        ids_df = spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} long"
        )
    codes = spark.read.parquet(codes_dir)
    n = (
        codes.join(ids_df, id_col, "left_semi")
        .select(id_col).distinct().count()
    )
    if n == 0:
        return {"deleted_ids": 0}
    rewrite_dir(codes_dir, codes.join(ids_df, id_col, "left_anti"))
    # the swap happened behind Spark's file-listing cache — without the
    # refresh, the session's next read of this path lists vanished files
    spark.catalog.refreshByPath(codes_dir)
    return {"deleted_ids": n}


def _recover_partition_swaps(data_dir: str) -> None:
    """Heal an interrupted per-partition swap (:func:`ivfpq_index_delete`,
    :func:`semantic_corpus_delete`): a ``_staging/<part>.old`` whose
    live partition is ABSENT is the pre-delete copy retired by the
    first rename of a swap that never finished — restore it (re-running
    the delete then redoes the anti-join); one whose live partition
    exists is completed-swap debris — discard, along with any leftover
    stage dirs. Unlike the kNN edge partitions (pure functions of
    vectors/), these partitions are SOURCE data: losing a partition's
    untouched rows to a crash window is not recoverable by a rebuild,
    hence the explicit restore."""
    import os as _os
    import shutil as _shutil

    staging = _os.path.join(data_dir, "_staging")
    if not _os.path.isdir(staging):
        return
    for name in sorted(_os.listdir(staging)):
        path = _os.path.join(staging, name)
        if name.endswith(".old"):
            final = _os.path.join(data_dir, name[: -len(".old")])
            if _os.path.isdir(final):
                _shutil.rmtree(path)  # completed swap: debris
            else:
                _os.rename(path, final)  # interrupted swap: restore
        else:
            _shutil.rmtree(path)  # half-written stage: discard


def ivfpq_index_delete(
    spark: SparkSession,
    store_dir: str,
    ids: "list[int] | DataFrame",
    id_col: str = "vec_id",
) -> dict:
    """OFFLINE retraction for the LIST-PARTITIONED IVF-PQ store — the
    bounded-IO form: only the inverted-list partitions that actually
    contain the ids are rewritten (stage → retire → promote per
    partition, the kNN edge-swap dance plus an explicit
    ``_recover_partition_swaps`` restore because codes are source data, not
    a rebuildable function). A list left empty loses its partition.
    The embedded ``_quantizers.json`` rides in the codes dir root and
    is untouched. Idempotent. Returns {"deleted_ids": n,
    "lists_rewritten": [...]}."""
    import os as _os

    codes_dir = _os.path.join(store_dir, "codes")
    _recover_partition_swaps(codes_dir)
    if isinstance(ids, DataFrame):
        ids_df = ids.select(F.col(ids.columns[0]).alias(id_col))
    else:
        ids_df = spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} long"
        )
    codes = spark.read.parquet(codes_dir).withColumn(
        "_list", F.col("_list").cast("int")
    )
    doomed = (
        codes.join(ids_df, id_col, "left_semi")
        .select(id_col, "_list")
        .localCheckpoint(eager=True)  # outlives the partition swaps
    )
    n = doomed.select(id_col).distinct().count()
    if n == 0:
        return {"deleted_ids": 0, "lists_rewritten": []}
    touched = [r._list for r in doomed.select("_list").distinct().collect()]

    _rewrite_partitions_minus_ids(
        spark, codes_dir, "_list", touched, ids_df, id_col
    )
    return {"deleted_ids": n, "lists_rewritten": sorted(touched)}


def _rewrite_partitions_minus_ids(
    spark: SparkSession,
    data_dir: str,
    part_col: str,
    touched: list,
    ids_df: DataFrame,
    id_col: str,
) -> None:
    """Rewrite each touched ``part_col=value`` partition of ``data_dir``
    minus ``ids_df``'s ids — the bounded-IO retraction core shared by
    the IVF-PQ index and the semantic corpus: stage → retire → promote
    per partition under the :func:`_recover_partition_swaps` restore
    contract; a partition left empty is removed; the listing cache is
    refreshed at the end (the renames bypass it)."""
    import os as _os
    import shutil as _shutil

    for p in sorted(touched):
        keep = (
            spark.read.parquet(data_dir)
            .filter(F.col(part_col) == p)  # partition-pruned read
            .join(ids_df, id_col, "left_anti")
            .drop(part_col)
            .localCheckpoint(eager=True)  # read fully BEFORE the swap
        )
        stage = _os.path.join(data_dir, "_staging", f"{part_col}={p}")
        old = _os.path.join(data_dir, "_staging", f"{part_col}={p}.old")
        final = _os.path.join(data_dir, f"{part_col}={p}")
        for leftover in (stage, old):
            if _os.path.isdir(leftover):
                _shutil.rmtree(leftover)
        if keep.isEmpty():
            if _os.path.isdir(final):
                _shutil.rmtree(final)  # partition fully retracted
            continue
        keep.write.mode("overwrite").parquet(stage)
        if _os.path.isdir(final):
            _os.rename(final, old)   # retire (restorable by recover)
            _os.rename(stage, final)  # promote
            _shutil.rmtree(old)
        else:
            _os.rename(stage, final)
    spark.catalog.refreshByPath(data_dir)  # renames bypass the listing cache


def _ivfpq_meta_path(store_dir: str) -> str | None:
    """The store's quantizer file. Prefers ``codes/_quantizers.json``
    (written by compaction INSIDE the codes dir so the atomic dir swap
    commits codes and quantizers together — Spark hides underscore
    files from the parquet scan) over the store-root ``quantizers.json``
    (initial creation, and refreshed as a convenience copy after each
    compaction swap)."""
    import os as _os

    embedded = _os.path.join(store_dir, "codes", "_quantizers.json")
    if _os.path.exists(embedded):
        return embedded
    outer = _os.path.join(store_dir, "quantizers.json")
    return outer if _os.path.exists(outer) else None


def load_ivfpq_index(spark: SparkSession, store_dir: str):
    """→ (coded_corpus, coarse, books) for ``ivfpq_topk(index=...)``."""
    import json as _json
    import os as _os

    meta_path = _ivfpq_meta_path(store_dir)
    if meta_path is None:
        raise FileNotFoundError(f"no IVF-PQ quantizers under {store_dir}")
    with open(meta_path) as f:
        meta = _json.load(f)
    coarse = np.asarray(meta["coarse"], dtype=np.float64)
    books = np.asarray(meta["books"], dtype=np.float64)
    coded = spark.read.parquet(_os.path.join(store_dir, "codes")).withColumn(
        "_list", F.col("_list").cast("int")
    )
    return coded, coarse, books


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    refine: int = 30,
    train_cap: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    index=None,
) -> DataFrame:
    """IVF-PQ ANN: inverted lists (IVF) over residual-quantized codes
    (PQ) — the regime real billion-scale vector systems run, because
    the two savings COMPOSE: per query batch the scan touches
    n_probe/n_centroids of the corpus (IVF) and what it touches is the
    ~32×-compressed code table, not the vectors (PQ). The full-
    precision vectors are only read for the ``refine`` exact-cosine
    survivors.

    Plan shape (the part that must survive 100×): candidates come from
    an EQUI-JOIN on the list id with the exploded probed-query side
    broadcast — never a cross join — and the ADC distance is the same
    pure-JVM fold as ``pq_topk`` (codes index the query's flat table);
    Python appears only in the two Arrow-batched quantizer passes
    (corpus encode once, queries probe once). All determinism rules of
    the sibling regimes hold: seeded training, stable argsort ties,
    (distance, id) window ties.

    ``index=(coded, coarse, books)`` (from ``load_ivfpq_index``) skips
    training and corpus encoding — the amortized recurring-query path;
    ``corpus`` may then be None.
    """
    if index is not None:
        coded, coarse, books = index
        m, n_codes = books.shape[0], books.shape[1]
    else:
        coarse, books = ivfpq_train(
            corpus, n_centroids, m, n_codes, train_cap, vec_col, seed
        )
        coded = ivfpq_encode(corpus, coarse, books, id_col, vec_col)
    q = queries.select(
        F.col(query_id_col), as_double(vec_col).alias("_qv")
    ).withColumn("_qn", norm("_qv"))
    probe = _ivfpq_prober(coarse, books, n_probe)
    probed = q.select(
        query_id_col, "_qv", "_qn", F.explode(probe(F.col("_qv"))).alias("_p")
    ).select(
        query_id_col, "_qv", "_qn",
        F.coalesce(F.col("_p.list"), F.lit(-2)).alias("_list"),
        F.col("_p.tbl").alias("_tbl"),
    )
    cand = coded.join(broadcast(probed), "_list").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    adc = _adc_expr("_codes", "_tbl", m, n_codes)
    cand = cand.select(
        query_id_col, id_col, "_cv", "_qv", "_cn", "_qn", adc.alias("_adc")
    )
    w_adc = Window.partitionBy(query_id_col).orderBy(F.asc("_adc"), F.asc(id_col))
    refined = cand.withColumn("_arnk", F.row_number().over(w_adc)).filter(
        F.col("_arnk") <= refine
    )
    scored = refined.select(
        query_id_col,
        id_col,
        (dot("_qv", "_cv") / (F.col("_qn") * F.col("_cn"))).alias("_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "rnk", F.round("_sim", 6).alias("sim_r"))
    )


def embedding_near_dup_lsh(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_bits: int | None = 8,
    n_tables: int | None = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs via hyperplane-LSH buckets (the scale path for
    embedding_near_dup_pairs): only vectors sharing a bucket in some
    table are compared, so the join is equi on (table, bucket) — near
    dups at cos≥0.95 (θ≤18°) collide in one of 6 8-bit tables with
    p ≈ 1-(1-(1-18/180)^8)^6 ≈ 0.98.

    Pass ``n_bits``/``n_tables`` as None to auto-size from the corpus
    (:func:`auto_lsh_params`); the sizing count() runs on the
    localCheckpoint'ed frame, so an uncached derived corpus's input
    pipeline still executes exactly once per call."""
    from wing_binlog_go_spark.operators.dedup import _widen_for_verify

    c = corpus.select(F.col(id_col), as_double(vec_col).alias("_v")).withColumn(
        "_n", norm("_v")
    ).localCheckpoint(eager=True)  # bucket explode + both verify rejoins
    if n_bits is None or n_tables is None:
        auto_b, auto_l = auto_lsh_params(c.count(), threshold)
        n_bits = auto_b if n_bits is None else n_bits
        n_tables = auto_l if n_tables is None else n_tables
    buckets = all_table_buckets(n_bits, n_tables, dim)
    b = c.select(
        F.col(id_col).alias("_id"),
        F.posexplode(buckets(F.col("_v"))).alias("tbl", "bkt"),
    )
    # ids-only candidates: a vector collides in MANY tables, and carrying
    # the vectors through the distinct() would shuffle each duplicate
    # candidate's full payload (measured: a 10-near-copy corpus put
    # hundreds of GB through this distinct). Dedup the (id, id) pairs
    # first, re-spread (AQE coalesces the tiny-bytes pair shuffle), THEN
    # rejoin the vectors once per surviving pair for the exact verify.
    cand = (
        b.alias("a")
        .join(b.alias("bb"), ["tbl", "bkt"])
        .filter(F.col("a._id") < F.col("bb._id"))
        .select(F.col("a._id").alias("id_a"), F.col("bb._id").alias("id_b"))
        .distinct()
    )
    cand = _widen_for_verify(cand, "id_a", "id_b")
    va = c.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"),
                  F.col("_n").alias("_na"))
    vb = c.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"),
                  F.col("_n").alias("_nb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                dot("_va", "_vb") / (F.col("_na") * F.col("_nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def auto_lsh_params(
    n: int,
    threshold: float,
    miss_bound: float = 1e-7,
    target_bucket: int = 32,
    max_bits: int = 16,
    max_tables: int = 96,
) -> "tuple[int, int]":
    """(n_bits, n_tables) sized to the corpus: bucket occupancy drives
    candidate volume QUADRATICALLY (buckets hold ~n/2^b vectors, pairs
    per bucket ~(n/2^b)²/2), so a fixed b stops pruning as n grows —
    measured: b=4 at a 10× corpus put ~200M candidate pairs through the
    verify. b = ceil(log2(n / target_bucket)) keeps per-bucket pairs
    bounded; L then comes from the recall bound — a true pair at
    cos = threshold agrees on one hyperplane with p = 1 - θ/π, on a
    whole table with p^b, and misses every table with (1 - p^b)^L ≤
    miss_bound. At n=200/t=0.95 this yields exactly the old (4, 16)
    defaults, so small-corpus behavior is unchanged. ``max_bits`` caps
    signature growth: past ~2^16 buckets per table, move to the IVF /
    IVF-PQ paths (list-partitioned probe IO) instead of ever-wider LSH.
    ``max_tables`` caps the posexplode fan-out symmetrically: once bits
    saturate, LOOSER thresholds blow the recall-derived L up without
    bound (threshold 0.8 at large n → ~620 tables, 0.7 → thousands),
    multiplying per-vector work past anything the bucketing saves. The
    default (96) clears every tight-threshold regime the engine
    commits to (t ≥ 0.95 needs ≤ 81 tables even at n = 10⁹ with bits
    saturated) so their 1e-7 recall contract is never silently
    weakened; only the loose-threshold blowups hit the clamp, and the
    clamp is LOUD — it logs the achieved miss bound at the capped L so
    callers can see the recall contract weakened and move to the
    IVF/IVF-PQ handoff above instead.
    """
    import math

    n_bits = max(4, min(max_bits, math.ceil(math.log2(max(n, 1) / target_bucket))
                        if n > target_bucket else 4))
    p_plane = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    p_table = p_plane ** n_bits
    if p_table >= 1.0:
        return n_bits, 1
    n_tables = max(1, math.ceil(math.log(miss_bound) / math.log(1.0 - p_table)))
    if n_tables > max_tables:
        achieved = (1.0 - p_table) ** max_tables
        logger.warning(
            "auto_lsh_params: recall bound %g at threshold=%g/n=%d wants "
            "L=%d tables (> max_tables=%d); clamping to %d with per-pair "
            "miss probability %.2e — for loose thresholds at this scale "
            "use the IVF/IVF-PQ paths instead of wider LSH",
            miss_bound, threshold, n, n_tables, max_tables, max_tables,
            achieved,
        )
        n_tables = max_tables
    return n_bits, n_tables


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int | None = None,
    n_tables: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold — LSH-bucketed
    candidates, exact cosine verification. The 100 TB shape end-to-end:
    the only join is equi on (table, bucket), never corpus×corpus
    (plan-gated in test_plans.py), and every surviving pair carries its
    EXACT cosine, so the output is a subset of the brute-force answer
    with per-pair miss probability (1-(1-θ/π)^b)^L ≤ 1e-7 — far below
    one expected miss per 10^6 true pairs. The q38c driver oracle AND a
    local two-scale test both assert exact set equality with
    :func:`embedding_near_dup_bruteforce` on the fixture corpora.

    ``n_bits``/``n_tables`` default to CORPUS-SIZED values
    (:func:`auto_lsh_params` — one count() when either is None): bucket
    occupancy drives candidate volume quadratically, so the fixed b=4
    the fixtures used stops pruning as the corpus grows, while the
    table count re-derives from the recall bound so the miss
    probability holds at every size. At the fixture scales the auto
    values reproduce the old (4, 16) defaults exactly. Pass both
    explicitly to pin a signature (e.g. for a persisted store). The
    sizing count() runs INSIDE :func:`embedding_near_dup_lsh` on its
    localCheckpoint'ed frame, so a derived (uncached) corpus's input
    pipeline executes once per call, not once per action.
    """
    return embedding_near_dup_lsh(
        corpus, threshold, n_bits=n_bits, n_tables=n_tables, dim=dim,
        id_col=id_col, vec_col=vec_col,
    )


def embedding_near_dup_bruteforce(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact near-duplicate pairs by cosine ≥ threshold (brute-force
    cross join) — the correctness baseline the LSH-bucketed
    :func:`embedding_near_dup_pairs` is equality-tested against. Use
    only for tests/audits at bounded scale; production goes through
    the bucketed path.
    """
    a = corpus.select(
        F.col(id_col).alias("id_a"), as_double(vec_col).alias("_va")
    ).withColumn("_na", norm("_va"))
    b = corpus.select(
        F.col(id_col).alias("id_b"), as_double(vec_col).alias("_vb")
    ).withColumn("_nb", norm("_vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot("_va", "_vb") / (F.col("_na") * F.col("_nb")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def train_centroids(
    corpus: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
) -> list[list[float]]:
    """K-means centroids (fixed seed, Spark ML) as plain driver-side
    lists — the shared quantizer for :func:`assign_clusters` and the
    persisted-store incremental path."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(array_to_vector(as_double(vec_col)).alias("features"))
    if train.isEmpty():
        # KMeans.fit on zero rows dies with an opaque MLlib error; say
        # what actually happened
        raise ValueError("train_centroids: corpus is empty, nothing to cluster")
    km = KMeans(k=n_clusters, seed=seed, maxIter=20).fit(train)
    return [list(map(float, ctr)) for ctr in km.clusterCenters()]


def assign_to_centroids(
    df: DataFrame, cents: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Nearest-centroid assignment as a map-side column expression: the
    centroids enter the plan as literals, so there is no shuffle and no
    UDF. Adds ``_cluster`` (int). Assignment is a deterministic function
    of the vector, so identical vectors always land in the same cluster
    regardless of which batch they arrive in."""
    c = df.withColumn("_dv", as_double(vec_col))
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("_dv"),
                        F.array(*[F.lit(x) for x in ctr]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, ctr in enumerate(cents)
        ]
    )
    return c.withColumn(
        "_cluster", F.element_at(F.array_sort(dists), 1)["i"]
    ).drop("_dv")


def assign_clusters(
    corpus: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Nearest-KMeans-centroid assignment as a map-side column.

    Centroids (fixed seed, Spark ML over the corpus) are pulled to the
    driver and broadcast as literals, so assignment is a pure column
    expression — no shuffle, no UDF. Adds ``_cluster`` (int). Shared by
    :func:`diversity_sample` and :func:`semantic_dedup`.
    """
    return assign_to_centroids(
        corpus, train_centroids(corpus, n_clusters, vec_col, seed), vec_col
    )


def diversity_sample(
    corpus: DataFrame,
    per_cluster: int = 100,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cluster diversity downsampling: cap each semantic
    cluster at ``per_cluster`` docs, so over-represented modes (boiler-
    plate, templates) can't dominate a training mix.

    Mechanics: nearest-centroid assignment (map side, no shuffle —
    :func:`assign_clusters`) → one window per cluster keeping the
    ``per_cluster`` smallest xxhash64(seed, id) values — a deterministic
    pseudo-random sample, so replays/audits reproduce the exact mix.
    Output adds the `_cluster` column for mix accounting. The only
    shuffle is the per-cluster window, keyed by cluster (bounded
    cardinality, AQE-skew-safe).
    """
    assigned = assign_clusters(corpus, n_clusters, vec_col, seed)
    w = Window.partitionBy("_cluster").orderBy(
        F.xxhash64(F.lit(seed), F.col(id_col)), F.col(id_col)
    )
    return (
        assigned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_cluster)
        .drop("_rn")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.97,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Semantic deduplication: drop documents whose embeddings are
    near-identical to a kept document — the SemDeDup scheme (Abbas et
    al. 2023, arXiv:2303.09540): cluster the embedding space with
    k-means, compare pairs only WITHIN a cluster, and keep one
    representative per near-duplicate group.

    Scale shape: the pairwise comparison is an equi-join on the cluster
    id — never a corpus×corpus cross product. With C clusters the
    candidate set is Σ|cluster|²/2 ≈ N²/(2C); C grows with the corpus
    (SemDeDup used 11k clusters for LAION-440M) so per-cluster lists
    stay bounded, and each cluster's pairs co-locate under one shuffle
    key. Identical vectors always share a cluster (assignment is a
    deterministic function of the vector), so exact duplicates can
    never be split across clusters and survive both.

    Survivor rule: a row is dropped iff some SMALLER-id row in the same
    cluster is within the threshold — deterministic, order-free, one
    left-anti join. (The paper keeps the member farthest from the
    centroid; min-id keeps results stable under re-runs and replays,
    which matters more in an incremental corpus build.)

    Returns survivors with their ``_cluster`` for mix accounting.
    """
    assigned = assign_clusters(corpus, n_clusters, vec_col, seed)
    # localCheckpoint: the self-join below would otherwise re-run KMeans
    # assignment (array_sort over n_clusters structs) once per side
    sides = (
        assigned.select(
            F.col(id_col), "_cluster", as_double(vec_col).alias("_v")
        )
        .withColumn("_n", norm("_v"))
        .localCheckpoint(eager=True)
    )
    lhs = sides.select(
        F.col(id_col).alias("_id_keep"),
        "_cluster",
        F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    rhs = sides.select(
        F.col(id_col).alias("_id_drop"),
        "_cluster",
        F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    dropped = (
        lhs.join(rhs, "_cluster")
        .filter(F.col("_id_keep") < F.col("_id_drop"))
        .filter(
            dot("_va", "_vb") / (F.col("_na") * F.col("_nb"))
            >= F.lit(threshold)
        )
        .select(F.col("_id_drop").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti")


def incremental_semantic_dedup_apply(
    spark: SparkSession,
    new_docs: DataFrame,
    store_dir: str,
    threshold: float = 0.97,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    payload_cols: "list[str] | None" = None,
    seed: int = 42,
    collect_stats: bool = True,
) -> "tuple[DataFrame, dict]":
    """Streaming SemDeDup: dedupe an embedding ingest increment against
    the ENTIRE corpus history via a persisted centroid + vector store —
    the embedding-modality sibling of
    ``operators.dedup.incremental_dedup_apply`` (same store-is-commit
    contract, same min-id survivor rule, same 2-driver-action budget
    with ``collect_stats=False``).

    Store layout under ``store_dir``:

    - ``centroids.json`` — k-means centroids trained ONCE on the first
      batch and frozen (atomic tmp+rename write). Every later batch
      assigns to these FIXED centroids map-side, so cluster ids mean
      the same thing across the stream's lifetime; identical vectors
      always share a cluster no matter which batch carried them.
    - ``vectors/`` parquet — (id, _v, _n, _cluster, *payload_cols) of
      every survivor: history is probed by cluster equi-join (never
      corpus×history cross product), reading only rows in the
      increment's own clusters once partition-pruned by ``_cluster``.

    Replay-safe by id: incoming rows whose id already exists in the
    store are no-ops; presence of an id in the store IS the per-row
    commit, so an at-least-once feed converges and a crash between
    append and downstream sink re-processes exactly the unlanded rows.

    Drop rule: a fresh doc is dropped iff (a) any history row in its
    cluster is within ``threshold`` cosine, or (b) a smaller-id doc in
    the same batch and cluster is within ``threshold``.

    Scale shape: centroid training is one bounded first-batch job;
    assignment is a literal-expression map stage; both dedup joins are
    equi on ``_cluster`` (bounded-cardinality shuffle key, AQE-skew
    safe); the append writes |survivors| rows partitioned by cluster.
    """
    import json as _json
    import os as _os

    from wing_binlog_go_spark.streaming.maintenance import write_json

    # heal a semantic_corpus_delete interrupted mid-partition-swap
    # before probing ids (a retired-but-never-promoted cluster would
    # otherwise read as absent and its ids would re-append as fresh)
    if _os.path.isdir(_os.path.join(store_dir, "vectors")):
        _recover_partition_swaps(_os.path.join(store_dir, "vectors"))
        spark.catalog.refreshByPath(_os.path.join(store_dir, "vectors"))

    # in-batch id dedup (see incremental_dedup_apply in operators.dedup):
    # equal ids never pair under the smaller-id rule, so an in-batch
    # duplicate would survive twice and append twice to the vector store
    new_docs = new_docs.dropDuplicates([id_col])

    cents_path = _os.path.join(store_dir, "centroids.json")
    vec_dir = _os.path.join(store_dir, "vectors")
    if _os.path.exists(cents_path):
        with open(cents_path) as f:
            cents = _json.load(f)["centroids"]
    else:
        cents = train_centroids(new_docs, n_clusters, vec_col, seed)
        _os.makedirs(store_dir, exist_ok=True)
        write_json(cents_path, {"n_clusters": n_clusters, "seed": seed,
                                "centroids": cents})

    new_sigs = (
        assign_to_centroids(
            new_docs.select(id_col, vec_col, *(payload_cols or [])),
            cents,
            vec_col,
        )
        .select(
            id_col,
            as_double(vec_col).alias("_v"),
            "_cluster",
            *(payload_cols or []),
        )
        .withColumn("_n", norm("_v"))
        .localCheckpoint(eager=collect_stats)
    )
    if collect_stats:
        n_batch = new_sigs.count()
        stats = {"batch": n_batch, "replayed": 0, "dup_vs_history": 0,
                 "dup_in_batch": 0, "appended": 0}
    else:
        stats = {"batch": None, "replayed": None, "dup_vs_history": None,
                 "dup_in_batch": None, "appended": 0}

    hist = None
    if _os.path.exists(vec_dir):
        hist = spark.read.parquet(vec_dir)
        fresh = new_sigs.join(
            hist.select(id_col), id_col, "left_anti"
        ).localCheckpoint(eager=collect_stats)
        if collect_stats:
            stats["replayed"] = n_batch - fresh.count()
    else:
        fresh = new_sigs

    dropped = None
    if hist is not None:
        dup_hist = (
            fresh.alias("a")
            .join(
                hist.select(
                    F.col("_cluster"),
                    F.col("_v").alias("_vh"),
                    F.col("_n").alias("_nh"),
                ).alias("b"),
                "_cluster",
            )
            .filter(
                dot("a._v", "_vh") / (F.col("a._n") * F.col("_nh"))
                >= F.lit(threshold)
            )
            .select(F.col(f"a.{id_col}").alias(id_col))
            .distinct()
        )
        dropped = dup_hist
        if collect_stats:
            stats["dup_vs_history"] = dup_hist.count()

    lhs = fresh.select(
        F.col(id_col).alias("_id_keep"), "_cluster",
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    rhs = fresh.select(
        F.col(id_col).alias("_id_drop"), "_cluster",
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    dup_batch = (
        lhs.join(rhs, "_cluster")
        .filter(F.col("_id_keep") < F.col("_id_drop"))
        .filter(
            dot("_va", "_vb") / (F.col("_na") * F.col("_nb"))
            >= F.lit(threshold)
        )
        .select(F.col("_id_drop").alias(id_col))
        .distinct()
    )
    if collect_stats:
        stats["dup_in_batch"] = dup_batch.count()
    dropped = (
        dup_batch if dropped is None
        else dropped.unionByName(dup_batch).distinct()
    )

    survivors_sigs = fresh.join(dropped, id_col, "left_anti")
    survivors = new_docs.join(survivors_sigs.select(id_col), id_col, "left_semi")
    stats["appended"] = survivors_sigs.count()
    if stats["appended"]:
        survivors_sigs.write.mode("append").partitionBy("_cluster").parquet(vec_dir)
    return survivors, stats


def semantic_corpus_delete(
    spark: SparkSession,
    store_dir: str,
    ids: "list[int] | DataFrame",
    id_col: str = "vec_id",
) -> dict:
    """OFFLINE retraction for the semantic-dedup corpus store — the
    delete path ``semantic_dedup_corpus_writer`` refuses online. The
    vector store is PARTITIONED BY ``_cluster``, so only the clusters
    that contain the ids are rewritten
    (:func:`_rewrite_partitions_minus_ids` — stage/retire/promote with
    the explicit restore; the frozen ``centroids.json`` is untouched).
    Idempotent; crash-healable via :func:`_recover_partition_swaps`,
    which the next stream increment also runs.

    Semantics honesty: removing a survivor does NOT resurrect the
    near-duplicates it suppressed — the store only ever kept survivors,
    so the suppressed docs are gone from the feed's perspective.
    Retraction here means "this doc must stop existing / deduping
    future arrivals", which the survivor-store contract supports; a
    deployment that must re-admit suppressed history replays the feed.
    Returns {"deleted_ids": n, "clusters_rewritten": [...]}."""
    import os as _os

    vec_dir = _os.path.join(store_dir, "vectors")
    _recover_partition_swaps(vec_dir)
    if isinstance(ids, DataFrame):
        ids_df = ids.select(F.col(ids.columns[0]).alias(id_col))
    else:
        ids_df = spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} long"
        )
    vecs = spark.read.parquet(vec_dir)
    doomed = (
        vecs.join(ids_df, id_col, "left_semi")
        .select(id_col, "_cluster")
        .localCheckpoint(eager=True)  # outlives the partition swaps
    )
    n = doomed.select(id_col).distinct().count()
    if n == 0:
        return {"deleted_ids": 0, "clusters_rewritten": []}
    touched = [r._cluster for r in doomed.select("_cluster").distinct().collect()]
    _rewrite_partitions_minus_ids(
        spark, vec_dir, "_cluster", touched, ids_df, id_col
    )
    return {"deleted_ids": n, "clusters_rewritten": sorted(touched)}


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


def _first_k_queries(emb: DataFrame, n: int = 10) -> DataFrame:
    """The n smallest-vec_id rows as the ANN query set, materialized via
    a TakeOrderedAndProject job behind a localCheckpoint barrier.

    Why the barrier (r12 plan audit): projections applied ABOVE an
    ``orderBy().limit()`` are pushed underneath the limit by the
    optimizer, which un-matches the TakeOrderedAndProject pattern and
    plans a full range-Exchange + global Sort of the corpus just to pick
    n query rows (plans/r12/q38_ann_brute_force_before.txt nodes 5-14).
    Behind the barrier the query side is a n-row ExistingRDD: the
    corpus-wide sort disappears and downstream norm/bucket projections
    run on exactly n rows — at 100 TB that is the difference between a
    full-corpus shuffle and a per-partition top-n heap scan."""
    return (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(n)
        .localCheckpoint(eager=True)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def _q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    q = _first_k_queries(emb)
    return brute_force_topk(emb, q, k=5).orderBy("query_id", "rnk")


_ANN_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings ORDER BY vec_id LIMIT 10
), c AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
), s AS (
  SELECT query_id, vec_id, list_cosine_similarity(qv, cv) AS sim
  FROM q CROSS JOIN c WHERE vec_id != query_id
), r AS (
  SELECT query_id, vec_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, vec_id) AS INTEGER) AS rnk,
         ROUND(sim, 6) AS sim_r
  FROM s
)
SELECT query_id, vec_id, rnk, sim_r FROM r WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    q = _first_k_queries(emb)
    # 3 bits × 16 tables measured ≥0.96 recall@5 vs q38 at sf0.001 AND
    # sf0.01 (the two-scale recall gate in test_dedup_similarity.py);
    # the earlier 4×8 default sat at ~0.7
    return lsh_topk(emb, q, k=5, n_bits=3, n_tables=16).orderBy("query_id", "rnk")


def _q_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LSH-bucketed + exact verify; still oracle-checked against the
    # brute-force SQL because the miss bound (~5e-8/pair) makes the
    # candidate set complete on any realistic corpus — verified exactly
    # at both test scales in test_dedup_similarity.py.
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.95).orderBy("id_a", "id_b")


_NEAR_DUP_ORACLE = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.dv, b.dv), 6) AS cos_sim
FROM v a JOIN v b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.dv, b.dv), 6) >= 0.95
ORDER BY id_a, id_b
"""

def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    q = _first_k_queries(emb)
    # 10/16 probes measured 0.96-0.98 recall@5 vs q38 at both test
    # scales (two-scale gate). A 500-vector corpus is far below IVF's
    # operating regime — 10/16 lists is the honest tuned point HERE;
    # at real scale n_centroids grows with the corpus and n_probe/
    # n_centroids falls, which is where IVF's scan savings come from.
    return ivf_topk(emb, q, k=5, n_probe=10).orderBy("query_id", "rnk")


def _q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    q = _first_k_queries(emb)
    # m=16 subspaces × 16 codes on 64 dims. refine=100 measured (r7)
    # recall@5 vs q38: avg 0.96 / min 0.8 at sf0.001 and 1.0/1.0 at
    # sf0.01 — the r6 registered refine=60 sat at min 0.6@sf0.001, the
    # one regime below the ≥0.8 per-query floor its siblings hold
    # (VERDICT r6 #3). At this corpus size the exact re-rank depth
    # dominates; at real scale the knobs trade memory (m·log2 n_codes
    # bits per vector) against how many full vectors the refine step
    # fetches per query.
    return pq_topk(emb, q, k=5, m=16, refine=100).orderBy("query_id", "rnk")


def _q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    q = _first_k_queries(emb)
    # Tuned point for the near-orthogonal fixture embeddings (max
    # pairwise cos ~0.51 — weak neighbor signal, the hardest case for
    # residual quantization): 14/16 probes + refine=150 measured 0.94
    # recall@5 at sf0.001 and 1.0 at sf0.01 (two-scale gate); the
    # siblings' tuned points (10 probes / refine=60) sat at 0.78. At
    # real scale n_centroids grows with the corpus while n_probe/
    # n_centroids falls, and the probed lists are scanned as 8-byte
    # code rows — the two savings multiply.
    return ivfpq_topk(emb, q, k=5, n_probe=14, m=16, refine=150).orderBy(
        "query_id", "rnk"
    )


def load_frozen_centroids(name: str = "centroids_q38e") -> list[list[float]]:
    """Centroids from the committed quantizer store (a versioned JSON
    under ``wing_binlog_go_spark/resources/``) — the production shape:
    quantizers are trained ONCE, frozen, and shipped with the pipeline,
    because retraining per run re-scales the space under existing
    assignments (the same reason the incremental PQ/semantic-dedup
    stores freeze theirs). Frozen floats are also what makes
    cluster assignment SQL-expressible: the model enters both engines
    as the same literals."""
    import json as _json
    import os as _os

    path = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "resources", f"{name}.json",
    )
    with open(path) as f:
        return [[float(x) for x in c] for c in _json.load(f)["centroids"]]


def diversity_sample_frozen(
    corpus: DataFrame,
    cents: list[list[float]],
    per_cluster: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """:func:`diversity_sample` against FROZEN centroids with a
    cross-engine sampling draw: nearest-centroid assignment as literal
    column expressions (no shuffle, no UDF), then one window per
    cluster keeping the ``per_cluster`` smallest md5 draws (the q120
    sample_key scheme — replayable in ANSI SQL, unlike xxhash64).
    Deterministic given (centroids, seed): replays, audits, and the
    DuckDB oracle reproduce the exact mix."""
    from wing_binlog_go_spark.functions.mixing import sample_key

    assigned = assign_to_centroids(corpus, cents, vec_col)
    w = Window.partitionBy("_cluster").orderBy(
        sample_key(id_col, seed), F.col(id_col)
    )
    return (
        assigned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_cluster)
        .drop("_rn")
    )


_Q38E_SEED = 42
_Q38E_PER_CLUSTER = 10


def _q_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen-quantizer diversity sampling (oracle-backed since r8: the
    committed centroid store enters both engines as literals, and the
    md5 draw replaces xxhash64, so the whole assignment + per-cluster
    cap chain hash-checks against DuckDB)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        diversity_sample_frozen(
            emb, load_frozen_centroids(),
            per_cluster=_Q38E_PER_CLUSTER, seed=_Q38E_SEED,
        )
        .select("vec_id", F.col("_cluster").cast("int").alias("cluster"))
        .orderBy("vec_id")
    )


def _frozen_dist_cols(vec: str = "embedding") -> list[str]:
    """SQL expressions d0..d{k-1}: L2^2 distance of ``vec`` to each
    frozen centroid, folded left-to-right exactly as Spark's zip_with
    + aggregate does (bit-identical doubles, so even would-be ties
    agree)."""
    cents = load_frozen_centroids()
    dist_cols = []
    for i, c in enumerate(cents):
        lit = "[" + ", ".join(repr(x) for x in c) + "]::DOUBLE[]"
        dist_cols.append(
            f"list_reduce(list_transform(range(1, len({vec}) + 1),"
            f" i -> ({vec}[i]::DOUBLE - ({lit})[i])"
            f" * ({vec}[i]::DOUBLE - ({lit})[i])),"
            f" (a, b) -> a + b) AS d{i}"
        )
    return dist_cols


def _sql_exact_norm(vec: str) -> str:
    """SQL replay of Spark's :func:`norm`: sqrt of the left-to-right
    sum-of-squares fold (DuckDB's list_reduce starts from the first
    element, Spark's aggregate from 0.0 — identical doubles, since
    0.0 + x == x exactly)."""
    return (
        f"sqrt(list_reduce(list_transform(range(1, len({vec}) + 1),"
        f" i -> {vec}[i] * {vec}[i]), (a, b) -> a + b))"
    )


def _sql_exact_dot(u: str, v: str) -> str:
    """SQL replay of Spark's :func:`dot` — the same sequential fold."""
    return (
        f"list_reduce(list_transform(range(1, len({u}) + 1),"
        f" i -> {u}[i] * {v}[i]), (a, b) -> a + b)"
    )


def _frozen_assign_cte() -> str:
    """The ``d`` + ``assigned`` CTE pair shared by the frozen-centroid
    oracles (q38e, q153): argmin of the :func:`_frozen_dist_cols`
    distances; lowest index wins ties via the sequential CASE."""
    dist_cols = _frozen_dist_cols()
    k = len(load_frozen_centroids())
    case = "CASE\n"
    for i in range(k - 1):
        conds = " AND ".join(f"d{i} <= d{j}" for j in range(k) if j != i)
        case += f"    WHEN {conds} THEN {i}\n"
    case += f"    ELSE {k - 1} END"
    dist_block = ",\n         ".join(dist_cols)
    return f"""
WITH d AS MATERIALIZED (
  SELECT vec_id,
         {dist_block}
  FROM embeddings
), assigned AS MATERIALIZED (
  SELECT vec_id,
         {case} AS cluster
  FROM d
)"""


def _diversity_oracle() -> str:
    """Frozen assignment (see :func:`_frozen_assign_cte`) + the q120
    md5 sampling scheme."""
    return _frozen_assign_cte() + f""", ranked AS (
  SELECT vec_id, cluster,
         ROW_NUMBER() OVER (
           PARTITION BY cluster
           ORDER BY substring(md5('{_Q38E_SEED}:' || CAST(vec_id AS VARCHAR)), 1, 8),
                    vec_id) AS rn
  FROM assigned
)
SELECT vec_id, cluster FROM ranked
WHERE rn <= {_Q38E_PER_CLUSTER}
ORDER BY vec_id
"""


def knn_graph_clustered(
    corpus: DataFrame,
    cents: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-within-cluster kNN graph against FROZEN centroids:
    (src, dst, rnk, sim, cluster) with each node's top-k cosine
    neighbors among its own cluster — the SemDeDup candidate bound
    applied to graph building. Where :func:`knn_graph` buckets by
    LSH collision (better recall for cross-cluster neighbors, Spark
    murmur3 → rows-only evidence), this variant's candidates are the
    cluster equi-self-join and the frozen quantizer makes the WHOLE
    graph SQL-replayable (q153). n_clusters must grow with the corpus
    so per-cluster lists stay bounded — same prescription as
    semantic_dedup's."""
    assigned = (
        assign_to_centroids(
            corpus.select(F.col(id_col), as_double(vec_col).alias("_v")),
            cents, "_v",
        )
        .withColumn("_n", norm("_v"))
        # referenced twice (both self-join sides); the barrier also
        # stops CollapseProject from duplicating the HOF assignment
        .localCheckpoint(eager=True)
    )
    lhs = assigned.select(
        F.col(id_col).alias("src"), F.col("_cluster").alias("cluster"),
        F.col("_v").alias("_sv"), F.col("_n").alias("_sn"),
    )
    rhs = assigned.select(
        F.col(id_col).alias("dst"), F.col("_cluster").alias("cluster"),
        F.col("_v").alias("_dv"), F.col("_n").alias("_dn"),
    )
    scored = (
        lhs.join(rhs, "cluster")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "cluster", "src", "dst",
            (dot("_sv", "_dv")
             / (F.col("_sn") * F.col("_dn"))).alias("_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("_sim"), F.asc("dst"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("src", "dst", "rnk", F.col("_sim").alias("sim"), "cluster")
    )


def coreset_by_degree(
    corpus: DataFrame,
    cents: list[list[float]],
    k: int = 5,
    per_cluster: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Degree-based coreset selection over the clustered kNN graph —
    the consumer that proves the graph substrate: a node's IN-degree
    (how often it lands in other nodes' top-k) is a local-density
    proxy, so keeping the ``per_cluster`` LOWEST in-degree nodes per
    cluster selects the sparse-region representatives a diverse
    training coreset wants (redundant prototype-dense points are
    exactly the high in-degree ones). Zero in-degree nodes — never
    anyone's neighbor — are the most isolated and select first.

    Scale shape: graph build as :func:`knn_graph_clustered`; then one
    dst-keyed count (≤ N·k edge rows) and one per-cluster window.
    Output (vec_id, cluster, in_degree) ordered by vec_id."""
    assigned = assign_to_centroids(
        corpus.select(F.col(id_col), as_double(vec_col).alias("_v")), cents, "_v"
    ).select(F.col(id_col), F.col("_cluster").alias("cluster"))
    edges = knn_graph_clustered(corpus, cents, k=k, id_col=id_col, vec_col=vec_col)
    deg = edges.groupBy("dst").agg(F.count("*").alias("in_degree"))
    w = Window.partitionBy("cluster").orderBy(
        F.asc("in_degree"), F.asc(id_col)
    )
    return (
        assigned.join(deg, assigned[id_col] == deg["dst"], "left")
        .select(
            F.col(id_col), "cluster",
            F.coalesce(F.col("in_degree"), F.lit(0)).cast("long").alias("in_degree"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_cluster)
        .drop("_rn")
    )


_Q153_K = 5
_Q153_PER_CLUSTER = 10


def _q_knn_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN-graph consumer (r7 verdict ask #6): frozen-quantizer
    clustered kNN graph → in-degree → low-density coreset, the whole
    chain hash-checked against DuckDB."""
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        coreset_by_degree(
            emb, load_frozen_centroids(), k=_Q153_K,
            per_cluster=_Q153_PER_CLUSTER,
        )
        .orderBy("vec_id")
    )


def _knn_coreset_oracle() -> str:
    """Frozen assignment + within-cluster exact kNN + in-degree window.
    The ranking key replays Spark's EXACT fold (sequential dot over
    per-row norms, :func:`_sql_exact_dot` / :func:`_sql_exact_norm`) —
    bit-identical doubles, so top-k membership can never flip on a
    ulp-level divergence the way a list_cosine_similarity key could
    at another corpus or scale."""
    return _frozen_assign_cte() + f""", av AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, CAST(e.embedding AS DOUBLE[]) AS v,
         {_sql_exact_norm("CAST(e.embedding AS DOUBLE[])")} AS n
  FROM assigned a JOIN embeddings e USING (vec_id)
), edges AS MATERIALIZED (
  SELECT s.cluster, s.vec_id AS src, t.vec_id AS dst,
         {_sql_exact_dot("s.v", "t.v")} / (s.n * t.n) AS sim
  FROM av s JOIN av t ON s.cluster = t.cluster AND s.vec_id != t.vec_id
), topk AS MATERIALIZED (
  SELECT cluster, src, dst FROM (
    SELECT cluster, src, dst,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY sim DESC, dst) AS rnk
    FROM edges
  ) WHERE rnk <= {_Q153_K}
), deg AS MATERIALIZED (
  SELECT dst, COUNT(*)::BIGINT AS in_degree FROM topk GROUP BY dst
), sel AS (
  SELECT a.vec_id, a.cluster, COALESCE(g.in_degree, 0) AS in_degree,
         ROW_NUMBER() OVER (PARTITION BY a.cluster
                            ORDER BY COALESCE(g.in_degree, 0), a.vec_id) AS rn
  FROM assigned a LEFT JOIN deg g ON a.vec_id = g.dst
)
SELECT vec_id, cluster, in_degree FROM sel
WHERE rn <= {_Q153_PER_CLUSTER}
ORDER BY vec_id
"""


def probe_centroids(
    df: DataFrame,
    cents: list[list[float]],
    n_probe: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Explode each row to its ``n_probe`` nearest frozen centroids
    (adds ``_cluster``) — the IVF probe side. Ties break on the lower
    centroid index (array_sort on struct(d, i)), matching the oracle's
    ORDER BY dist, cluster."""
    c = df.withColumn("_dv", as_double(vec_col))
    dists = F.array(
        *[
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("_dv"),
                        F.array(*[F.lit(x) for x in ctr]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, ctr in enumerate(cents)
        ]
    )
    return (
        c.withColumn("_probe", F.slice(F.array_sort(dists), 1, n_probe))
        .select("*", F.explode(F.col("_probe")["i"]).alias("_cluster"))
        .drop("_dv", "_probe")
    )


def ivf_topk_frozen(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN against FROZEN coarse centroids: each query probes its
    ``n_probe`` nearest centroid lists and exact-ranks only those —
    the same probe-pruning as :func:`ivf_topk`, but with the quantizer
    from the committed store, which makes the ENTIRE index+search
    path SQL-replayable (q38j): list assignment, probe selection, and
    the pruned ranking all hash-check against DuckDB, evidence the
    trained-on-the-fly form can only approximate with recall bounds.

    Scale shape: corpus assignment is map-side literals; the
    candidate join is an equi-join on the list id (reads
    n_probe/n_centroids of the corpus per query batch); ranking is a
    per-query window over the pruned candidates only."""
    assigned = (
        assign_to_centroids(
            corpus.select(F.col(id_col), as_double(vec_col).alias("_v")),
            cents, "_v",
        )
        .withColumn("_n", norm("_v"))
        .select(
            F.col(id_col), F.col("_cluster").alias("cluster"),
            F.col("_v"), F.col("_n"),
        )
    )
    probed = probe_centroids(
        queries.select(F.col(query_id_col), as_double(vec_col).alias("_qv")),
        cents, n_probe=n_probe, vec_col="_qv",
    ).select(
        F.col(query_id_col), F.col("_cluster").alias("cluster"),
        F.col("_qv"), norm("_qv").alias("_qn"),
    )
    scored = (
        probed.join(assigned, "cluster")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            query_id_col, id_col,
            (dot("_qv", "_v")
             / (F.col("_qn") * F.col("_n"))).alias("_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            query_id_col, id_col, "rnk", F.round("_sim", 6).alias("sim_r")
        )
    )


def label_propagation_knn(
    corpus: DataFrame,
    cents: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """One-hop label propagation over the clustered kNN graph — the
    second graph-substrate consumer (after degree coresets): each
    node's predicted label is the MAJORITY label of its top-k cosine
    neighbors (ties: higher vote count, then smaller label), the
    standard kNN-classifier / semi-supervised bootstrap over an
    embedding space. Output (vec_id, label, pred_label, n_votes,
    agree) — `agree` against the node's own label is the
    neighborhood-consistency signal a labeling-quality audit reads
    (mislabeled or boundary points disagree with their neighborhood).

    Scale shape: the edge table is the :func:`knn_graph_clustered`
    equi-join; voting is one (src, neighbor-label) agg ≤ N·k rows and
    one per-src window."""
    edges = knn_graph_clustered(corpus, cents, k=k, id_col=id_col, vec_col=vec_col)
    labels = corpus.select(F.col(id_col), F.col(label_col).alias("_lbl"))
    votes = (
        edges.join(labels.withColumnRenamed(id_col, "dst"), "dst")
        .groupBy("src", "_lbl")
        .agg(F.count("*").alias("n_votes"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("n_votes"), F.asc("_lbl"))
    pred = (
        votes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("src").alias(id_col),
            F.col("_lbl").alias("pred_label"),
            F.col("n_votes").cast("long").alias("n_votes"),
        )
    )
    return labels.join(pred, id_col).select(
        F.col(id_col), F.col("_lbl").alias(label_col), "pred_label",
        "n_votes", (F.col("_lbl") == F.col("pred_label")).alias("agree"),
    )


def _q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return label_propagation_knn(
        emb, load_frozen_centroids(), k=_Q153_K
    ).orderBy("vec_id")


def _label_prop_oracle() -> str:
    # ranking key = Spark's exact fold (see _knn_coreset_oracle)
    return _frozen_assign_cte() + f""", av AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, CAST(e.embedding AS DOUBLE[]) AS v, e.label,
         {_sql_exact_norm("CAST(e.embedding AS DOUBLE[])")} AS n
  FROM assigned a JOIN embeddings e USING (vec_id)
), edges AS MATERIALIZED (
  SELECT s.vec_id AS src, t.vec_id AS dst, t.label AS nlbl,
         {_sql_exact_dot("s.v", "t.v")} / (s.n * t.n) AS sim
  FROM av s JOIN av t ON s.cluster = t.cluster AND s.vec_id != t.vec_id
), topk AS MATERIALIZED (
  SELECT src, nlbl FROM (
    SELECT src, nlbl,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY sim DESC, dst) AS rnk
    FROM edges
  ) WHERE rnk <= {_Q153_K}
), votes AS MATERIALIZED (
  SELECT src, nlbl, COUNT(*)::BIGINT AS n_votes FROM topk GROUP BY src, nlbl
), pred AS (
  SELECT src AS vec_id, nlbl AS pred_label, n_votes FROM (
    SELECT src, nlbl, n_votes,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY n_votes DESC, nlbl) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT e.vec_id, e.label, p.pred_label, p.n_votes,
       e.label = p.pred_label AS agree
FROM embeddings e JOIN pred p USING (vec_id)
ORDER BY e.vec_id
"""


def incremental_knn_graph_apply(
    spark: SparkSession,
    new_vectors: DataFrame,
    store_dir: str,
    cents: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "tuple[DataFrame, dict]":
    """kNN-graph maintenance as an ingest increment — the streaming
    form of :func:`knn_graph_clustered`. Store layout:

        vectors/            (id, vector, cluster) — the corpus so far
        edges/cluster=N/    (src, dst, rnk, sim) — per-cluster edges

    A new vector can only create or displace edges INSIDE its frozen
    cluster (assignment is a pure function of the vector — the reason
    the quantizer must be frozen), so each batch rebuilds exactly the
    clusters it touches from the updated vector store: cluster-bounded
    recompute, never a whole-graph rebuild.

    Commit protocol: fresh vectors append FIRST (ids already present
    are replay no-ops); then every cluster NAMED BY THE BATCH — by a
    fresh or a replayed row — is rebuilt from vectors/ and swapped in
    atomically (stage + ``os.rename``, the sketch-writer pattern).
    Rebuilding batch-named rather than fresh-named clusters is what
    heals the crash window between the vector append and the edge
    swap: the replayed batch re-names the same clusters and the
    rebuild is a pure function of vectors/, so replays converge.

    Returns (edges of the touched clusters, stats)."""
    import os as _os

    from wing_binlog_go_spark.streaming.maintenance import recover_swap

    vec_dir = _os.path.join(store_dir, "vectors")
    edge_dir = _os.path.join(store_dir, "edges")
    # an offline knn_graph_delete interrupted mid-swap leaves vectors/
    # absent with only its backup — without this the exists() probe
    # below would misread the store as brand-new and orphan history
    recover_swap(vec_dir)

    assigned = assign_to_centroids(
        new_vectors.select(F.col(id_col), as_double(vec_col).alias("_v")),
        cents, "_v",
    ).select(
        F.col(id_col), F.col("_v").alias("vector"),
        F.col("_cluster").cast("int").alias("cluster"),
    # in-batch dedup: the left_anti below only screens against the
    # STORE, and the first-batch path appends verbatim — an
    # at-least-once CDC feed can deliver the same INSERT twice inside
    # one micro-batch, which without this would write duplicate vector
    # rows permanently (duplicate nodes/edges in every later rebuild,
    # diverging from the batch build)
    ).dropDuplicates([id_col]).localCheckpoint(eager=True)
    n_batch = assigned.count()
    touched = [r.cluster for r in assigned.select("cluster").distinct().collect()]

    if _os.path.exists(vec_dir):
        known = spark.read.parquet(vec_dir).select(id_col)
        fresh = assigned.join(known, id_col, "left_anti").localCheckpoint(
            eager=True
        )
        n_fresh = fresh.count()
        if n_fresh:
            fresh.write.mode("append").parquet(vec_dir)
    else:
        n_fresh = n_batch
        assigned.write.parquet(vec_dir)

    edges = _rebuild_knn_clusters(spark, vec_dir, edge_dir, touched, k, id_col)
    return edges, {
        "batch": n_batch,
        "replayed": n_batch - n_fresh,
        "appended": n_fresh,
        "clusters_rebuilt": sorted(touched),
    }


def _rebuild_knn_clusters(
    spark: SparkSession,
    vec_dir: str,
    edge_dir: str,
    touched: list,
    k: int,
    id_col: str,
) -> DataFrame:
    """Rebuild the edge partitions of ``touched`` clusters from the
    CURRENT vector store and swap each in atomically — the shared back
    half of graph maintenance (ingest increments AND offline
    retraction): a pure function of ``vectors/``, which is what makes
    replays and re-run deletes converge. A touched cluster with no
    remaining vectors has its partition REMOVED (an empty live
    partition and an absent one read identically, but absent keeps the
    directory listing honest)."""
    import os as _os
    import shutil as _shutil

    corpus = (
        spark.read.parquet(vec_dir)
        .filter(F.col("cluster").isin(touched))
        .withColumn("_n", norm("vector"))
        .localCheckpoint(eager=True)  # two self-join sides below
    )
    lhs = corpus.select(
        F.col(id_col).alias("src"), "cluster",
        F.col("vector").alias("_sv"), F.col("_n").alias("_sn"),
    )
    rhs = corpus.select(
        F.col(id_col).alias("dst"), "cluster",
        F.col("vector").alias("_dv"), F.col("_n").alias("_dn"),
    )
    w = Window.partitionBy("src").orderBy(F.desc("_sim"), F.asc("dst"))
    edges = (
        lhs.join(rhs, "cluster")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "cluster", "src", "dst",
            (dot("_sv", "_dv")
             / (F.col("_sn") * F.col("_dn"))).alias("_sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("cluster", "src", "dst", "rnk", F.col("_sim").alias("sim"))
        .localCheckpoint(eager=True)
    )
    nonempty = {
        r.cluster for r in corpus.select("cluster").distinct().collect()
    }
    for c in touched:
        stage = _os.path.join(edge_dir, "_staging", f"cluster={c}")
        # the retired copy ALSO lives under _staging: a crash mid-swap
        # must never leave a non-partition directory (cluster=N.old)
        # next to live partitions, where Spark's partition discovery
        # would misparse it
        old = _os.path.join(edge_dir, "_staging", f"cluster={c}.old")
        final = _os.path.join(edge_dir, f"cluster={c}")
        for leftover in (stage, old):
            if _os.path.isdir(leftover):
                _shutil.rmtree(leftover)  # crashed earlier attempt
        if c not in nonempty:
            if _os.path.isdir(final):
                _shutil.rmtree(final)  # cluster fully retracted
            continue
        part = edges.filter(F.col("cluster") == c).drop("cluster")
        part.write.mode("overwrite").parquet(stage)
        _os.makedirs(edge_dir, exist_ok=True)
        if _os.path.isdir(final):
            # swap: retire the old partition, promote the staged one;
            # a crash between the renames leaves final absent and is
            # healed by the batch-named rebuild on replay
            _os.rename(final, old)
            _os.rename(stage, final)
            _shutil.rmtree(old)
        else:
            _os.rename(stage, final)
    if _os.path.isdir(edge_dir):
        # partition swaps bypass Spark's file-listing cache
        spark.catalog.refreshByPath(edge_dir)
    return edges


def knn_graph_delete(
    spark: SparkSession,
    store_dir: str,
    ids: "list[int] | DataFrame",
    k: int = 5,
    id_col: str = "vec_id",
) -> dict:
    """OFFLINE retraction for the maintained kNN-graph store — the
    delete path ``knn_graph_writer`` deliberately refuses online (its
    insert-only probe raises on DELETE envelopes): run this as a
    maintenance job over the retracted ids, then resume the stream.

    Mechanics: the edge rebuild is a pure function of ``vectors/``, so
    retraction = rewrite the vector store minus the ids
    (``maintenance.rewrite_dir``, like the upsert; ``recover_swap``
    first, so an interrupted previous delete rolls forward) and rebuild
    exactly the clusters the removed vectors lived in
    (:func:`_rebuild_knn_clusters`, the batch-named template; a cluster
    left empty has its partition removed). Idempotent: re-running the
    same delete removes nothing and rebuilds the same pure-function
    partitions, so a crash anywhere is healed by re-running.

    Scale shape: the vector-store rewrite is one scan (the same cost
    class as ``compact_ivfpq_index``'s offline rewrite — at 100 TB both
    belong in the maintenance window, not the hot path); the edge
    rebuild stays cluster-bounded. Returns
    {"deleted": n, "clusters_rebuilt": [...]}."""
    import os as _os

    from wing_binlog_go_spark.streaming.maintenance import (
        recover_swap,
        rewrite_dir,
    )

    vec_dir = _os.path.join(store_dir, "vectors")
    edge_dir = _os.path.join(store_dir, "edges")
    recover_swap(vec_dir)

    if isinstance(ids, DataFrame):
        doomed_ids = ids.select(F.col(ids.columns[0]).alias(id_col))
    else:
        doomed_ids = spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} long"
        )
    vecs = spark.read.parquet(vec_dir)
    doomed = (
        vecs.join(doomed_ids, id_col, "left_semi")
        .select(id_col, "cluster")
        .localCheckpoint(eager=True)  # outlives the vector-store swap
    )
    n_deleted = doomed.count()
    if n_deleted == 0:
        return {"deleted": 0, "clusters_rebuilt": []}
    touched = [r.cluster for r in doomed.select("cluster").distinct().collect()]

    rewrite_dir(vec_dir, vecs.join(doomed_ids, id_col, "left_anti"))
    spark.catalog.refreshByPath(vec_dir)  # swap bypasses the listing cache

    _rebuild_knn_clusters(spark, vec_dir, edge_dir, touched, k, id_col)
    return {"deleted": n_deleted, "clusters_rebuilt": sorted(touched)}


def read_knn_graph(spark: SparkSession, store_dir: str) -> DataFrame:
    """(src, dst, rnk, sim, cluster) — the maintained graph."""
    import os as _os

    return spark.read.parquet(_os.path.join(store_dir, "edges"))


def _q_incremental_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental graph exercised as two ingest increments into a
    fresh store (low-id half, then high-id half + replays of ten
    batch-1 vectors, which must be no-ops); the FINAL maintained edge
    table must equal the batch build — and the batch build is the q153
    oracle chain, so the whole incremental path is hash-checked, not
    just rows-counted (contrast q38h, whose trained-on-batch-1
    quantizer has no SQL replay; the frozen store removes that
    excuse)."""
    import shutil
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = load_frozen_centroids()
    mid = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
    b1 = emb.filter(F.col("vec_id") < mid)
    b2 = emb.filter(F.col("vec_id") >= mid).unionByName(
        emb.orderBy("vec_id").limit(10)  # replays: already-known ids
    )
    store = tempfile.mkdtemp(prefix="knn_graph_store_")
    try:
        incremental_knn_graph_apply(spark, b1, store, cents, k=_Q153_K)
        incremental_knn_graph_apply(spark, b2, store, cents, k=_Q153_K)
        out = (
            read_knn_graph(spark, store)
            .select(
                "src", "dst", "rnk", F.round("sim", 6).alias("sim_r"),
                F.col("cluster").cast("int").alias("cluster"),
            )
            .orderBy("src", "rnk")
            .localCheckpoint(eager=True)  # outlives the tempdir teardown
        )
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return out


def _incremental_knn_oracle() -> str:
    """The batch-built graph (the q153 chain's edge CTEs) — what the
    incremental store must converge to. Ranking key = Spark's exact
    fold (see _knn_coreset_oracle); sim_r additionally rounds to 6dp
    for the output column."""
    return _frozen_assign_cte() + f""", av AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, CAST(e.embedding AS DOUBLE[]) AS v,
         {_sql_exact_norm("CAST(e.embedding AS DOUBLE[])")} AS n
  FROM assigned a JOIN embeddings e USING (vec_id)
), edges AS MATERIALIZED (
  SELECT s.cluster, s.vec_id AS src, t.vec_id AS dst,
         {_sql_exact_dot("s.v", "t.v")} / (s.n * t.n) AS sim
  FROM av s JOIN av t ON s.cluster = t.cluster AND s.vec_id != t.vec_id
)
SELECT src, dst, rnk, sim_r, cluster FROM (
  SELECT cluster, src, dst,
         CAST(ROW_NUMBER() OVER (PARTITION BY src
                                 ORDER BY sim DESC, dst) AS INTEGER) AS rnk,
         ROUND(sim, 6) AS sim_r
  FROM edges
) WHERE rnk <= {_Q153_K}
ORDER BY src, rnk
"""


def load_frozen_pq_books(name: str = "pq_books_q38l") -> list[list[list[float]]]:
    """(m, n_codes, sub) PQ codebooks from the committed quantizer
    store — same contract as :func:`load_frozen_centroids`."""
    import json as _json
    import os as _os

    path = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "resources", f"{name}.json",
    )
    with open(path) as f:
        return [
            [[float(x) for x in cent] for cent in book]
            for book in _json.load(f)["books"]
        ]


def _subdist(vec: F.Column, j: int, sub: int, cent: list[float]) -> F.Column:
    """L2^2 of subvector j of ``vec`` against a literal centroid,
    folded left-to-right from 0.0 — the exact fold both engines run."""
    return F.aggregate(
        F.zip_with(
            F.slice(vec, j * sub + 1, sub),
            F.array(*[F.lit(float(x)) for x in cent]),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode_frozen(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, j, code): PQ codes against FROZEN codebooks as pure column
    expressions — per subvector, argmin of the literal-centroid
    distances (ties → lowest code, array_sort on struct(d, c) —
    matching the oracle's ORDER BY d, c). The expression form exists
    for the SQL replay; the production encode path (`pq_encode`) keeps
    the Arrow/numpy batch kernel."""
    sub = len(books[0][0])
    v = as_double(vec_col)
    code_structs = []
    for j, book in enumerate(books):
        dists = F.array(
            *[
                F.struct(
                    _subdist(v, j, sub, cent).alias("d"),
                    F.lit(c).alias("c"),
                )
                for c, cent in enumerate(book)
            ]
        )
        code_structs.append(
            F.struct(
                F.lit(j).alias("j"),
                F.element_at(F.array_sort(dists), 1)["c"].alias("code"),
            )
        )
    return corpus.select(
        F.col(id_col), F.explode(F.array(*code_structs)).alias("_jc")
    ).select(id_col, F.col("_jc.j").alias("j"), F.col("_jc.code").alias("code"))


def _q_ann_pq_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN with frozen codebooks, hash-matched end-to-end — the
    last ANN strategy to join the cross-engine family (brute q38,
    IVF q38j, LSH q38k, PQ q38l): corpus encode (argmin per
    subvector), the per-query ADC lookup tables, and the ADC-ranked
    scan all replay in DuckDB. The ADC estimate is
    Σ_j d2(qsub_j, book_j[code_j(v)]) — computed here as a broadcast
    equi-join of the (query, j, c) distance table against the
    (vec, j, code) code table, grouped per (query, vec): the
    table-lookup structure of a real ADC scan, expressed relationally
    (never a query x corpus cross join in the plan)."""
    books = load_frozen_pq_books()
    m, n_codes, sub = len(books), len(books[0]), len(books[0][0])
    emb = read_table(spark, sf_dir, "embeddings")
    codes = pq_encode_frozen(emb, books)
    q10 = _first_k_queries(emb).select(
        "query_id", as_double("embedding").alias("_qv")
    )
    # per-query ADC tables via a literal (j, c, centroid) explode — no
    # cartesian node, and the fold is the same sequential _subdist
    bt = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), F.lit(c).alias("c"),
                _subdist(F.col("_qv"), j, sub, books[j][c]).alias("d"),
            )
            for j in range(m)
            for c in range(n_codes)
        ]
    )
    qd = q10.select("query_id", F.explode(bt).alias("_b")).select(
        "query_id", F.col("_b.j").alias("j"), F.col("_b.c").alias("c"),
        F.col("_b.d").alias("d"),
    )
    adc = (
        codes.join(
            F.broadcast(qd),
            (codes["j"] == qd["j"]) & (codes["code"] == qd["c"]),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("_adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_adc"), F.asc("vec_id"))
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "query_id", "vec_id", F.col("rnk").cast("int").alias("rnk"),
            F.round("_adc", 6).alias("adc_r"),
        )
        .orderBy("query_id", "rnk")
    )


def _pq_frozen_oracle() -> str:
    books = load_frozen_pq_books()
    m, n_codes, sub = len(books), len(books[0]), len(books[0][0])
    values = ",\n    ".join(
        f"({j}, {c}, [{', '.join(repr(float(x)) for x in books[j][c])}]::DOUBLE[])"
        for j in range(m)
        for c in range(n_codes)
    )
    dist = (
        f"list_reduce(list_transform(range(1, {sub} + 1),"
        f" i -> (embedding[bt.j * {sub} + i]::DOUBLE - bt.cent[i])"
        f" * (embedding[bt.j * {sub} + i]::DOUBLE - bt.cent[i])),"
        f" (a, b) -> a + b)"
    )
    return f"""
WITH bt (j, c, cent) AS MATERIALIZED (
  VALUES
    {values}
), cd AS MATERIALIZED (
  SELECT e.vec_id, bt.j, bt.c, {dist} AS d
  FROM embeddings e CROSS JOIN bt
), codes AS MATERIALIZED (
  SELECT vec_id, j, c AS code FROM (
    SELECT vec_id, j, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
    FROM cd
  ) WHERE rn = 1
), q AS MATERIALIZED (
  SELECT vec_id AS query_id, embedding
  FROM embeddings ORDER BY vec_id LIMIT 10
), qd AS MATERIALIZED (
  SELECT q.query_id, bt.j, bt.c, {dist} AS d
  FROM q CROSS JOIN bt
), adc AS MATERIALIZED (
  SELECT qd.query_id, codes.vec_id, SUM(qd.d) AS a
  FROM codes JOIN qd ON codes.j = qd.j AND codes.code = qd.c
  WHERE codes.vec_id != qd.query_id
  GROUP BY qd.query_id, codes.vec_id
)
SELECT query_id, vec_id, rnk, adc_r FROM (
  SELECT query_id, vec_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY a, vec_id) AS INTEGER) AS rnk,
         ROUND(a, 6) AS adc_r
  FROM adc
) WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def _residual_expr(vec: F.Column, cents: list[list[float]]) -> F.Column:
    """vector − coarse_centroid[_cluster] as a column expression: the
    centroid matrix enters as a literal array-of-arrays indexed by the
    row's cluster — element-wise subtraction order matches the SQL
    replay exactly."""
    cent2d = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in cents]
    )
    return F.zip_with(
        vec,
        F.element_at(cent2d, F.col("_cluster").cast("int") + 1),
        lambda a, b: a - b,
    )


_Q38M_N_PROBE = 2


def _q_ann_ivfpq_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with both quantizers frozen — the LAST ANN variant to get
    a hash-matched sibling (q38i's production form trains per-run):
    corpus rows assign to the frozen coarse list and PQ-encode their
    RESIDUAL against the frozen residual codebooks; each query probes
    its n_probe nearest lists and ADC-scans only those, with a
    PER-LIST distance table built from the query's residual against
    that list's centroid (the property that makes residual PQ finer
    than raw-vector PQ). Everything — assignment, probe selection,
    residual encode, per-list ADC — replays in DuckDB."""
    coarse = load_frozen_centroids()
    books = load_frozen_pq_books("pq_resid_books_q38m")
    m, n_codes, sub = len(books), len(books[0]), len(books[0][0])
    emb = read_table(spark, sf_dir, "embeddings")

    base = assign_to_centroids(
        emb.select("vec_id", as_double("embedding").alias("_v")), coarse, "_v"
    ).withColumn("_rv", _residual_expr(F.col("_v"), coarse)).select(
        "vec_id", F.col("_cluster").alias("cluster"), "_rv"
    ).localCheckpoint(eager=True)  # encode explodes m rows per vec
    code_structs = []
    for j, book in enumerate(books):
        dists = F.array(
            *[
                F.struct(
                    _subdist(F.col("_rv"), j, sub, cent).alias("d"),
                    F.lit(c).alias("c"),
                )
                for c, cent in enumerate(book)
            ]
        )
        code_structs.append(
            F.struct(
                F.lit(j).alias("j"),
                F.element_at(F.array_sort(dists), 1)["c"].alias("code"),
            )
        )
    codes = base.select(
        "vec_id", "cluster", F.explode(F.array(*code_structs)).alias("_jc")
    ).select(
        "vec_id", "cluster", F.col("_jc.j").alias("j"),
        F.col("_jc.code").alias("code"),
    )

    q10 = _first_k_queries(emb).select(
        "query_id", as_double("embedding").alias("_qv")
    )
    probed = probe_centroids(q10, coarse, n_probe=_Q38M_N_PROBE, vec_col="_qv")
    probed = probed.withColumn(
        "_qrv", _residual_expr(F.col("_qv"), coarse)
    ).select("query_id", F.col("_cluster").alias("cluster"), "_qrv")
    bt = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), F.lit(c).alias("c"),
                _subdist(F.col("_qrv"), j, sub, books[j][c]).alias("d"),
            )
            for j in range(m)
            for c in range(n_codes)
        ]
    )
    qd = probed.select(
        "query_id", "cluster", F.explode(bt).alias("_b")
    ).select(
        "query_id", "cluster", F.col("_b.j").alias("j"),
        F.col("_b.c").alias("c"), F.col("_b.d").alias("d"),
    )
    adc = (
        codes.join(
            F.broadcast(qd),
            (codes["cluster"] == qd["cluster"])
            & (codes["j"] == qd["j"])
            & (codes["code"] == qd["c"]),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("_adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_adc"), F.asc("vec_id"))
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "query_id", "vec_id", F.col("rnk").cast("int").alias("rnk"),
            F.round("_adc", 6).alias("adc_r"),
        )
        .orderBy("query_id", "rnk")
    )


def _ivfpq_frozen_oracle() -> str:
    coarse = load_frozen_centroids()
    books = load_frozen_pq_books("pq_resid_books_q38m")
    m, n_codes, sub = len(books), len(books[0]), len(books[0][0])
    ct_values = ",\n    ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(coarse)
    )
    bt_values = ",\n    ".join(
        f"({j}, {c}, [{', '.join(repr(float(x)) for x in books[j][c])}]::DOUBLE[])"
        for j in range(m)
        for c in range(n_codes)
    )
    rdist = (
        f"list_reduce(list_transform(range(1, {sub} + 1),"
        f" i -> (rv[bt.j * {sub} + i] - bt.cent[i])"
        f" * (rv[bt.j * {sub} + i] - bt.cent[i])),"
        f" (a, b) -> a + b)"
    )
    q_dists = ",\n         ".join(_frozen_dist_cols("qv"))
    unpivot = "\n  UNION ALL\n".join(
        f"  SELECT query_id, {i} AS cluster, d{i} AS dist FROM qdist"
        for i in range(len(coarse))
    )
    return _frozen_assign_cte() + f""", ct (cluster, cent) AS MATERIALIZED (
  VALUES
    {ct_values}
), bt (j, c, cent) AS MATERIALIZED (
  VALUES
    {bt_values}
), av AS MATERIALIZED (
  SELECT a.vec_id, a.cluster,
         list_transform(range(1, len(e.embedding) + 1),
                        i -> e.embedding[i]::DOUBLE - ct.cent[i]) AS rv
  FROM assigned a
  JOIN embeddings e USING (vec_id)
  JOIN ct USING (cluster)
), cd AS MATERIALIZED (
  SELECT av.vec_id, av.cluster, bt.j, bt.c, {rdist} AS d
  FROM av CROSS JOIN bt
), codes AS MATERIALIZED (
  SELECT vec_id, cluster, j, c AS code FROM (
    SELECT vec_id, cluster, j, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
    FROM cd
  ) WHERE rn = 1
), q AS MATERIALIZED (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings ORDER BY vec_id LIMIT 10
), qdist AS MATERIALIZED (
  SELECT query_id,
         {q_dists}
  FROM q
), unpv AS MATERIALIZED (
{unpivot}
), probed AS MATERIALIZED (
  SELECT query_id, cluster FROM (
    SELECT query_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dist, cluster) AS rn
    FROM unpv
  ) WHERE rn <= {_Q38M_N_PROBE}
), qr AS MATERIALIZED (
  SELECT p.query_id, p.cluster,
         list_transform(range(1, len(q.qv) + 1),
                        i -> q.qv[i] - ct.cent[i]) AS rv
  FROM probed p JOIN q USING (query_id) JOIN ct USING (cluster)
), qd AS MATERIALIZED (
  SELECT qr.query_id, qr.cluster, bt.j, bt.c, {rdist.replace("rv[", "qr.rv[")} AS d
  FROM qr CROSS JOIN bt
), adc AS MATERIALIZED (
  SELECT qd.query_id, codes.vec_id, SUM(qd.d) AS a
  FROM codes
  JOIN qd ON codes.cluster = qd.cluster AND codes.j = qd.j
         AND codes.code = qd.c
  WHERE codes.vec_id != qd.query_id
  GROUP BY qd.query_id, codes.vec_id
)
SELECT query_id, vec_id, rnk, adc_r FROM (
  SELECT query_id, vec_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY a, vec_id) AS INTEGER) AS rnk,
         ROUND(a, 6) AS adc_r
  FROM adc
) WHERE rnk <= 5
ORDER BY query_id, rnk
"""


_Q38J_N_PROBE = 2

# q38k (frozen-LSH oracle form): small deliberately — the bucket bits
# are EXPRESSION folds (left-to-right, bit-identical to the SQL
# replay), and the expression form costs plan size per plane. The
# production path (q38b/q150) keeps the einsum UDF, whose pairwise
# numpy summation could flip a boundary sign vs a sequential fold and
# is therefore not oracle-replayable.
_Q38K_BITS = 3
_Q38K_TABLES = 4


def _lsh_frozen_planes(
    n_bits: int = _Q38K_BITS, n_tables: int = _Q38K_TABLES, dim: int = 64
) -> list[list[list[float]]]:
    """The q38b/q150 hyperplane family at the q38k config — same
    deterministic seeds (`_hyperplanes`), exposed as plain floats so
    both engines receive identical literals."""
    return [_hyperplanes(dim, n_bits, t) for t in range(n_tables)]


def lsh_bucket_exprs(
    vec: F.Column, planes: list[list[list[float]]]
) -> list[F.Column]:
    """One bucket id per table as a pure column expression: bit j set
    iff dot(v, plane_j) > 0, dot folded left-to-right from 0.0 — the
    exact fold the SQL oracle replays (einsum's pairwise summation
    could disagree on a boundary sign; a sequential fold cannot)."""
    out = []
    for tbl in planes:
        b = F.lit(0).cast("long")
        for j, plane in enumerate(tbl):
            d = dot(vec, F.array(*[F.lit(float(x)) for x in plane]))
            b = b + F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
        out.append(b)
    return out


def _q_ann_lsh_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with frozen hyperplanes in expression form — completes
    the hash-matched ANN family (q38 brute, q38j IVF, q38k LSH):
    bucket math, multi-table candidate union, and the exact rerank all
    replay in DuckDB. Candidates are per-table equi-joins (the scale
    shape q38b proves at production size)."""
    planes = _lsh_frozen_planes()
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", as_double("embedding").alias("_v")
    )
    bcols = lsh_bucket_exprs(F.col("_v"), planes)
    corpus = base.select(
        "vec_id", "_v", *[b.alias(f"_b{t}") for t, b in enumerate(bcols)]
    ).withColumn("_n", norm("_v")).localCheckpoint(eager=True)
    q = (
        corpus.orderBy("vec_id").limit(10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("_v").alias("_qv"), F.col("_n").alias("_qn"),
            *[F.col(f"_b{t}").alias(f"_qb{t}") for t in range(len(planes))],
        )
    )
    cand = None
    for t in range(len(planes)):
        c = q.join(
            corpus, F.col(f"_qb{t}") == F.col(f"_b{t}")
        ).filter(F.col("query_id") != F.col("vec_id")).select(
            "query_id", "vec_id"
        )
        cand = c if cand is None else cand.unionByName(c)
    cand = cand.distinct()
    # pure (query_id, vec_id) pairs: re-spread before the per-row dot
    # verify (AQE coalesces the tiny-bytes pair shuffle — see
    # operators.dedup._widen_for_verify for the measured failure mode)
    from wing_binlog_go_spark.operators.dedup import _widen_for_verify

    cand = _widen_for_verify(cand, "query_id", "vec_id")
    qv = q.select("query_id", "_qv", "_qn")
    cv = corpus.select("vec_id", "_v", "_n")
    scored = (
        cand.join(qv, "query_id")
        .join(cv, "vec_id")
        .select(
            "query_id", "vec_id",
            (dot("_qv", "_v")
             / (F.col("_qn") * F.col("_n"))).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "vec_id",
                F.col("rnk").cast("int").alias("rnk"),
                F.round("_sim", 6).alias("sim_r"))
        .orderBy("query_id", "rnk")
    )


def _lsh_frozen_oracle() -> str:
    planes = _lsh_frozen_planes()

    def bucket_sql(vec: str, t: int) -> str:
        terms = []
        for j, plane in enumerate(planes[t]):
            lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]::DOUBLE[]"
            terms.append(
                f"(CASE WHEN list_reduce(list_transform("
                f"range(1, len({vec}) + 1),"
                f" i -> {vec}[i]::DOUBLE * ({lit})[i]), (a, b) -> a + b) > 0"
                f" THEN {1 << j} ELSE 0 END)"
            )
        return " + ".join(terms)

    n_t = len(planes)
    corpus_buckets = ",\n         ".join(
        f"{bucket_sql('embedding', t)} AS b{t}" for t in range(n_t)
    )
    cand_union = "\n  UNION\n".join(
        f"  SELECT q.query_id, c.vec_id FROM qb q JOIN cb c"
        f" ON q.b{t} = c.b{t} AND q.query_id != c.vec_id"
        for t in range(n_t)
    )
    return f"""
WITH cb AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {corpus_buckets}
  FROM embeddings
), qb AS MATERIALIZED (
  SELECT vec_id AS query_id, v AS qv,
         {", ".join(f"b{t}" for t in range(n_t))}
  FROM cb ORDER BY vec_id LIMIT 10
), cand AS MATERIALIZED (
{cand_union}
), s AS (
  SELECT d.query_id, d.vec_id, list_cosine_similarity(q.qv, c.v) AS sim
  FROM cand d JOIN qb q USING (query_id) JOIN cb c USING (vec_id)
), r AS (
  SELECT query_id, vec_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, vec_id) AS INTEGER) AS rnk,
         ROUND(sim, 6) AS sim_r
  FROM s
)
SELECT query_id, vec_id, rnk, sim_r FROM r WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def _q_ann_ivf_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    q = _first_k_queries(emb)
    return ivf_topk_frozen(
        emb, q, load_frozen_centroids(), k=5, n_probe=_Q38J_N_PROBE
    ).orderBy("query_id", "rnk")


def _ivf_frozen_oracle() -> str:
    """Frozen corpus assignment + per-query probe selection (unpivot
    the centroid distances, top-n_probe by dist then index) + pruned
    exact ranking — the q38 ranking precedent applies to the sim
    ordering."""
    k_cents = len(load_frozen_centroids())
    q_dists = ",\n         ".join(_frozen_dist_cols("qv"))
    unpivot = "\n  UNION ALL\n".join(
        f"  SELECT query_id, {i} AS cluster, d{i} AS dist FROM qd"
        for i in range(k_cents)
    )
    return _frozen_assign_cte() + f""", q AS MATERIALIZED (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings ORDER BY vec_id LIMIT 10
), qd AS MATERIALIZED (
  SELECT query_id,
         {q_dists}
  FROM q
), unpv AS MATERIALIZED (
{unpivot}
), probed AS MATERIALIZED (
  SELECT query_id, cluster FROM (
    SELECT query_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY dist, cluster) AS rn
    FROM unpv
  ) WHERE rn <= {_Q38J_N_PROBE}
), cv AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, CAST(e.embedding AS DOUBLE[]) AS v
  FROM assigned a JOIN embeddings e USING (vec_id)
), s AS (
  SELECT p.query_id, c.vec_id, list_cosine_similarity(q.qv, c.v) AS sim
  FROM probed p
  JOIN cv c USING (cluster)
  JOIN q USING (query_id)
  WHERE c.vec_id != p.query_id
), r AS (
  SELECT query_id, vec_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, vec_id) AS INTEGER) AS rnk,
         ROUND(sim, 6) AS sim_r
  FROM s
)
SELECT query_id, vec_id, rnk, sim_r FROM r WHERE rnk <= 5
ORDER BY query_id, rnk
"""


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        semantic_dedup(emb, threshold=0.97, n_clusters=8)
        .select("vec_id", "_cluster")
        .orderBy("vec_id")
    )


def _q_incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming semantic dedup exercised as two ingest increments into
    a fresh store: batch 1 = the low-id half of the corpus (also trains
    the frozen centroids), batch 2 = the high-id half PLUS exact copies
    of ten batch-1 vectors under new ids. The copies near-match history
    (cosine 1.0) and must be dropped; every genuine vector survives
    (the fixture corpus is near-orthogonal, max cosine ~0.51).
    Deterministic: fixed k-means seed, no RNG, fresh store per run.
    Rows-only driver check by design (k-means has no SQL oracle); the
    planted cross-batch/replay semantics carry their own e2e test."""
    import shutil
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mid = emb.approxQuantile("vec_id", [0.5], 0.0)[0]
    b1 = emb.filter(F.col("vec_id") < mid)
    copies = (
        b1.orderBy("vec_id")
        .limit(10)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    b2 = emb.filter(F.col("vec_id") >= mid).unionByName(copies)
    store = tempfile.mkdtemp(prefix="semdedup_store_")
    try:
        # stats off: the driver checks rows, not stats — saves ~6 count
        # jobs per run of this key
        s1, _ = incremental_semantic_dedup_apply(
            spark, b1, store, threshold=0.97, n_clusters=8, collect_stats=False
        )
        n1 = s1.select("vec_id").localCheckpoint(eager=True)
        s2, _ = incremental_semantic_dedup_apply(
            spark, b2, store, threshold=0.97, n_clusters=8, collect_stats=False
        )
        n2 = s2.select("vec_id").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store, ignore_errors=True)
    return (
        n1.withColumn("batch", F.lit(1))
        .unionByName(n2.withColumn("batch", F.lit(2)))
        .orderBy("vec_id")
    )


QUERIES["q38_ann_brute_force"] = QuerySpec(_q_ann_brute, _ANN_ORACLE)
QUERIES["q38b_ann_lsh"] = QuerySpec(_q_ann_lsh, None)  # recall property-test
QUERIES["q38c_embedding_near_dup"] = QuerySpec(_q_near_dup, _NEAR_DUP_ORACLE)
QUERIES["q38d_ann_ivf"] = QuerySpec(_q_ann_ivf, None)  # recall property-test
QUERIES["q38e_diversity_sample"] = QuerySpec(_q_diversity_sample, _diversity_oracle())  # frozen-quantizer store → SQL-expressible
QUERIES["q38g_semantic_dedup"] = QuerySpec(_q_semantic_dedup, None)  # KMeans — no SQL oracle; planted-dup test
QUERIES["q38h_incremental_semantic_dedup"] = QuerySpec(_q_incremental_semantic_dedup, None)  # KMeans + store — no SQL oracle; cross-batch e2e test
QUERIES["q38f_ann_pq"] = QuerySpec(_q_ann_pq, None)  # recall property-test (codebooks — no SQL oracle)
QUERIES["q38i_ann_ivfpq"] = QuerySpec(_q_ann_ivfpq, None)  # recall property-test (quantizers — no SQL oracle)


def compact_ivfpq_index(
    spark: SparkSession,
    store_dir: str,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    train_cap: int = 10000,
    id_col: str = "vec_id",
    seed: int = 42,
) -> dict:
    """Offline compaction for the incremental IVF-PQ store: RETRAIN the
    coarse+residual quantizers on the full accumulated corpus and
    re-encode every vector — the drift-recovery step the frozen-
    quantizer contract defers (increments encoded against founding-
    batch quantizers assign progressively worse as the distribution
    moves; `incremental_ivfpq_index_apply` docstring).

    The codes table already carries each full vector (`_cv`, the
    refine fetch), so compaction needs NO access to the original
    source: read ids+vectors back, train fresh, rewrite the
    list-partitioned layout through ``_commit_ivfpq_store`` (a crash
    restores the old index). Returns {"vectors": n, "n_lists": lists in
    new index}.
    """
    import os as _os

    from wing_binlog_go_spark.streaming.maintenance import recover_swap

    codes_dir = _os.path.join(store_dir, "codes")
    recover_swap(codes_dir)
    corpus = (
        spark.read.parquet(codes_dir)
        .select(F.col(id_col), F.col("_cv").alias("embedding"))
        .localCheckpoint(eager=True)  # sever lineage from the dir we replace
    )
    n = corpus.count()
    coarse, books = ivfpq_train(
        corpus, n_centroids, m, n_codes, train_cap, "embedding", seed
    )
    coded = ivfpq_encode(corpus, coarse, books, id_col, "embedding")
    # one shared commit path with persist_ivfpq_index: codes +
    # embedded quantizers swap atomically (see _commit_ivfpq_store)
    _commit_ivfpq_store(coded, coarse, books, store_dir, n_centroids, m, n_codes)
    n_lists = len(
        [d for d in _os.listdir(codes_dir) if d.startswith("_list=")]
    )
    return {"vectors": n, "n_lists": n_lists}


def feature_hash_embed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    normalize: bool = True,
) -> DataFrame:
    """(id, embedding): deterministic text embeddings by the hashing
    trick (feature hashing, Weinberger et al. ICML'09) — each token
    adds ±1 to the cell ``xxhash64(token) mod dim`` (sign from an
    independent hash bit). Lexically similar docs land near each other
    in cosine, which is exactly what the ANN / semantic-dedup family
    consumes: this operator bridges raw text into ``semantic_dedup``,
    ``*_topk`` and the vector stores with NO external model, and its
    output is reproducible across runs/engines (hash-defined).

    All JVM built-ins, two combiner-friendly shuffles (token cells →
    per-doc vectors); the dense vector materializes from the sparse
    cell map via one transform over 0..dim-1. L2-normalized by default
    so downstream cosine = dot product.
    """
    from wing_binlog_go_spark.operators.dedup import tokens

    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("_t")
    )
    pos = F.pmod(F.xxhash64(F.lit(0), F.col("_t")), F.lit(dim)).cast("int")
    sign = F.when(
        F.pmod(F.xxhash64(F.lit(1), F.col("_t")), F.lit(2)) == 0, F.lit(1.0)
    ).otherwise(F.lit(-1.0))
    cells = (
        tok.groupBy(id_col, pos.alias("_p"))
        .agg(F.sum(sign).alias("_v"))
    )
    vec = (
        cells.groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("_p", "_v"))).alias("_m"))
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.element_at("_m", i), F.lit(0.0)),
            ).alias("embedding"),
        )
    )
    if not normalize:
        return vec
    nrm = F.sqrt(
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)
    )
    safe = F.greatest(nrm, F.lit(1e-12))  # all-zero vector guard
    return vec.select(
        id_col,
        F.transform("embedding", lambda x: x / safe).alias("embedding"),
    )


def knn_graph(
    corpus: DataFrame,
    k: int = 5,
    n_bits: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Directed k-nearest-neighbor graph over the corpus itself:
    (src, dst, rnk, sim_r) with each node's top-k cosine neighbors —
    the dataset-cartography substrate (duplicate-cluster maps, label
    propagation over neighbors, coreset selection, kNN-LM retrieval
    graphs all start from this table).

    The all-pairs trap is the same as dedup's, and so is the cure:
    candidates come from hyperplane-LSH bucket collisions, an EQUI
    self-join on (table, bucket) — corpus x corpus never materializes.
    Unlike ``lsh_topk`` (bounded query side, broadcast), BOTH sides
    here are the corpus, so the join shuffles both on the bucket key
    and per-bucket fan-out is the quadratic unit — n_bits must grow
    with corpus size exactly as the lsh_topk docstring prescribes, and
    AQE's skew split handles hot buckets.

    Candidate ids are deduped BEFORE vectors rejoin (ids are small;
    carrying two dim-wide vectors through the distinct would blow the
    shuffle), then vectors attach via two id-keyed joins against the
    corpus and the exact cosine ranks the survivors.
    """
    c = corpus.select(F.col(id_col), as_double(vec_col).alias("_v")).withColumn(
        "_n", norm("_v")
    ).localCheckpoint(eager=True)  # referenced 3x (both join sides + vectors):
    # cut lineage so the scan + HOF norm fold run once, the same cure
    # dedup.py prescribes for this shape
    buckets = all_table_buckets(n_bits, n_tables, dim)
    b = c.select(
        F.col(id_col).alias("_id"),
        F.posexplode(buckets(F.col("_v"))).alias("_tbl", "_bkt"),
    )
    cand = (
        b.alias("a")
        .join(
            b.alias("bb"),
            (F.col("a._tbl") == F.col("bb._tbl"))
            & (F.col("a._bkt") == F.col("bb._bkt")),
        )
        .filter(F.col("a._id") != F.col("bb._id"))
        .select(F.col("a._id").alias("src"), F.col("bb._id").alias("dst"))
        .distinct()
    )
    # pure (src, dst) pairs: re-spread before the per-row dot verify
    # (AQE coalesces the tiny-bytes pair shuffle — see
    # operators.dedup._widen_for_verify for the measured failure mode)
    from wing_binlog_go_spark.operators.dedup import _widen_for_verify

    cand = _widen_for_verify(cand, "src", "dst")
    sv = c.select(F.col(id_col).alias("src"), F.col("_v").alias("_sv"),
                  F.col("_n").alias("_sn"))
    dv = c.select(F.col(id_col).alias("dst"), F.col("_v").alias("_dv"),
                  F.col("_n").alias("_dn"))
    scored = (
        cand.join(sv, "src")
        .join(dv, "dst")
        .select(
            "src",
            "dst",
            (dot("_sv", "_dv") / (F.col("_sn") * F.col("_dn"))).alias("_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("_sim"), F.asc("dst"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("src", "dst", "rnk", F.round("_sim", 6).alias("sim_r"))
    )


def _q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered kNN-graph form over the fixture embeddings at the
    recall-audited params (RECALL artifact: avg/min 1.0 @k5). Rows-only
    by design — hyperplane buckets have no SQL replay; the recall row
    and the structure/plan test carry the value evidence."""
    emb = read_table(spark, sf_dir, "embeddings")
    return knn_graph(emb, k=5, n_bits=3, n_tables=32).orderBy("src", "rnk")


QUERIES["q150_knn_graph"] = QuerySpec(_q_knn_graph, None)  # LSH buckets — no SQL oracle; recall-audited
QUERIES["q153_knn_coreset"] = QuerySpec(_q_knn_coreset, _knn_coreset_oracle())
QUERIES["q38j_ann_ivf_frozen"] = QuerySpec(_q_ann_ivf_frozen, _ivf_frozen_oracle())
QUERIES["q154_label_propagation"] = QuerySpec(_q_label_propagation, _label_prop_oracle())
QUERIES["q38k_ann_lsh_frozen"] = QuerySpec(_q_ann_lsh_frozen, _lsh_frozen_oracle())
QUERIES["q155_incremental_knn_graph"] = QuerySpec(
    _q_incremental_knn_graph, _incremental_knn_oracle()
)
QUERIES["q38l_ann_pq_frozen"] = QuerySpec(_q_ann_pq_frozen, _pq_frozen_oracle())
QUERIES["q38m_ann_ivfpq_frozen"] = QuerySpec(
    _q_ann_ivfpq_frozen, _ivfpq_frozen_oracle()
)


def semantic_dedup_frozen(
    corpus: DataFrame,
    cents: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`semantic_dedup` against the FROZEN committed quantizer —
    the oracle-able form of the SemDeDup scheme, closing the family's
    last evidence gap (r8 verdict ask #3): with centroids entering both
    engines as literals and the cosine computed by the exact sequential
    fold, the whole cluster→prune chain is SQL-replayable, where
    q38g/q38h's in-run k-means has no SQL twin.

    Same survivor rule as :func:`semantic_dedup` (drop iff a SMALLER-id
    row in the same cluster is within ``threshold``) and the same scale
    shape: assignment is a map-side literal expression, the only
    shuffles are the cluster equi-self-join (Σ|c|²/2 candidate bound)
    and the final anti-join. Returns (id, cluster) survivors."""
    assigned = (
        assign_to_centroids(
            corpus.select(F.col(id_col), as_double(vec_col).alias("_v")),
            cents, "_v",
        )
        .select(
            F.col(id_col),
            F.col("_cluster").cast("int").alias("cluster"),
            "_v",
        )
        .withColumn("_n", norm("_v"))
        # referenced three times (both join sides + the survivor base)
        .localCheckpoint(eager=True)
    )
    lhs = assigned.select(
        F.col(id_col).alias("_id_keep"), "cluster",
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    rhs = assigned.select(
        F.col(id_col).alias("_id_drop"), "cluster",
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    dropped = (
        lhs.join(rhs, "cluster")
        .filter(F.col("_id_keep") < F.col("_id_drop"))
        .filter(
            dot("_va", "_vb") / (F.col("_na") * F.col("_nb"))
            >= F.lit(float(threshold))
        )
        .select(F.col("_id_drop").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti").select(id_col, "cluster")


# The fixture corpus is random-normal (near-orthogonal: max
# within-cluster cosine ~0.47, p99 ~0.32 at both test scales), so the
# production 0.95 would never fire and the driver would be hashing a
# trivially-empty prune. 0.30 sits just under p99: a few hundred pairs
# cross it at both scales, so the drop set, the min-id survivor rule,
# and the anti-join are all genuinely exercised.
_Q38N_THRESHOLD = 0.30


def _q_semantic_dedup_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        semantic_dedup_frozen(
            emb, load_frozen_centroids(), threshold=_Q38N_THRESHOLD
        )
        .orderBy("vec_id")
    )


def _semantic_dedup_frozen_oracle() -> str:
    """Frozen assignment + within-cluster smaller-id prune. The
    threshold compares the UNROUNDED sim, safe because both engines
    run the identical sequential fold (bit-equal doubles — the
    q153/q154/q155 ranking-key argument, applied to a predicate)."""
    return _frozen_assign_cte() + f""", av AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, CAST(e.embedding AS DOUBLE[]) AS v,
         {_sql_exact_norm("CAST(e.embedding AS DOUBLE[])")} AS n
  FROM assigned a JOIN embeddings e USING (vec_id)
), dropped AS MATERIALIZED (
  SELECT DISTINCT t.vec_id
  FROM av s JOIN av t ON s.cluster = t.cluster AND s.vec_id < t.vec_id
  WHERE {_sql_exact_dot("s.v", "t.v")} / (s.n * t.n) >= {_Q38N_THRESHOLD}
)
SELECT a.vec_id, a.cluster FROM assigned a
WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
ORDER BY a.vec_id
"""


QUERIES["q38n_semantic_dedup_frozen"] = QuerySpec(
    _q_semantic_dedup_frozen, _semantic_dedup_frozen_oracle()
)


def knn_graph_update(
    spark: SparkSession,
    store_dir: str,
    new_vectors: DataFrame,
    cents: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """OFFLINE update for the maintained kNN-graph store — the r8
    advice's "reassign the vector and rebuild both its old and new
    clusters", composed from the two primitives: retract the ids
    (:func:`knn_graph_delete` — rebuilds the OLD clusters without them)
    then re-ingest the new vectors (:func:`incremental_knn_graph_apply`
    — frozen assignment places them, rebuilding the NEW clusters).
    Both halves are idempotent and crash-healable, so re-running the
    whole update after any crash converges; an id unknown to the store
    degrades to a plain insert (delete is a no-op on it). Returns
    {"deleted": d, "clusters_retracted": [...], "appended": a,
    "clusters_rebuilt": [...]}."""
    dstats = knn_graph_delete(
        spark, store_dir, new_vectors.select(id_col), k=k, id_col=id_col
    )
    _, astats = incremental_knn_graph_apply(
        spark, new_vectors, store_dir, cents, k=k,
        id_col=id_col, vec_col=vec_col,
    )
    return {
        "deleted": dstats["deleted"],
        "clusters_retracted": dstats["clusters_rebuilt"],
        "appended": astats["appended"],
        "clusters_rebuilt": astats["clusters_rebuilt"],
    }


def pq_index_update(
    spark: SparkSession,
    store_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **apply_kwargs,
) -> dict:
    """OFFLINE update for the PQ index store — the UPDATE-envelope
    story for the route that refuses updates online
    (``pq_index_writer``'s insert-only probe): retract the ids
    (:func:`pq_index_delete` — one staged rewrite minus the ids) then
    re-encode the new embeddings against the FROZEN codebooks
    (:func:`incremental_pq_index_apply` — the anti-join sees the ids
    gone, so they re-enter as fresh). Both halves idempotent, so
    re-running the whole update after any crash converges; an id
    unknown to the store degrades to a plain insert, and an update
    against a store that does not exist yet is a pure first-batch
    ingest. Codes of untouched vectors stay valid by construction (the
    books never move — the frozen-quantizer contract). Returns
    {"deleted": d, "appended": a, "replayed": r}."""
    import os as _os

    from wing_binlog_go_spark.streaming.maintenance import recover_swap

    codes_dir = _os.path.join(store_dir, "codes")
    recover_swap(codes_dir)  # roll an interrupted delete forward first
    if _os.path.isdir(codes_dir):
        dstats = pq_index_delete(
            spark, store_dir, new_vectors.select(id_col), id_col=id_col
        )
    else:
        dstats = {"deleted_ids": 0}
    astats = incremental_pq_index_apply(
        spark, new_vectors, store_dir, id_col=id_col, vec_col=vec_col,
        **apply_kwargs,
    )
    return {
        "deleted": dstats["deleted_ids"],
        "appended": astats["appended"],
        "replayed": astats["replayed"],
    }


def ivfpq_index_update(
    spark: SparkSession,
    store_dir: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **apply_kwargs,
) -> dict:
    """OFFLINE update for the LIST-PARTITIONED IVF-PQ store — same
    composition as :func:`pq_index_update` but both halves are
    partition-bounded: the delete rewrites only the inverted lists that
    hold the ids (:func:`ivfpq_index_delete`), and the re-ingest
    appends only into the lists the frozen coarse quantizer assigns the
    new embeddings to (:func:`incremental_ivfpq_index_apply`) — a
    vector whose update moves it across lists leaves its old list and
    lands in its new one, exactly the kNN-graph update's
    cluster-crossing shape. Idempotent halves ⇒ crash-healable whole.
    Returns {"deleted": d, "lists_retracted": [...], "appended": a,
    "replayed": r}."""
    import os as _os

    if _os.path.isdir(_os.path.join(store_dir, "codes")):
        dstats = ivfpq_index_delete(
            spark, store_dir, new_vectors.select(id_col), id_col=id_col
        )
    else:
        dstats = {"deleted_ids": 0, "lists_rewritten": []}
    astats = incremental_ivfpq_index_apply(
        spark, new_vectors, store_dir, id_col=id_col, vec_col=vec_col,
        **apply_kwargs,
    )
    return {
        "deleted": dstats["deleted_ids"],
        "lists_retracted": dstats["lists_rewritten"],
        "appended": astats["appended"],
        "replayed": astats["replayed"],
    }


def semantic_corpus_update(
    spark: SparkSession,
    store_dir: str,
    new_docs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **apply_kwargs,
) -> "tuple[DataFrame, dict]":
    """OFFLINE update for the semantic-dedup corpus — retract the ids
    (:func:`semantic_corpus_delete`, cluster-bounded rewrite) then
    re-ingest the new embeddings
    (:func:`incremental_semantic_dedup_apply`, frozen-centroid
    assignment). Semantics follow the survivor-store contract: the
    updated doc re-enters dedup AS IF FRESH, so if its new embedding
    now near-matches surviving history it is (correctly) dropped and
    the update returns it in neither the survivors nor the store —
    an "update" that turns a doc into a duplicate removes it, the
    same way the batch operator would have. Updates never resurrect
    docs the old version suppressed (see ``semantic_corpus_delete``'s
    semantics-honesty note). Returns the apply's
    ``(survivor_docs, stats)`` with ``stats["deleted"]`` added."""
    import os as _os

    if _os.path.isdir(_os.path.join(store_dir, "vectors")):
        dstats = semantic_corpus_delete(
            spark, store_dir, new_docs.select(id_col), id_col=id_col
        )
    else:
        dstats = {"deleted_ids": 0, "clusters_rewritten": []}
    survivors, astats = incremental_semantic_dedup_apply(
        spark, new_docs, store_dir, id_col=id_col, vec_col=vec_col,
        **apply_kwargs,
    )
    astats = dict(astats)
    astats["deleted"] = dstats["deleted_ids"]
    return survivors, astats


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal rank fusion (q162)
# ---------------------------------------------------------------------------

_RRF_C = 60  # the standard RRF constant (Cormack et al. 2009)


def rrf_hybrid_topk(
    docs: DataFrame,
    emb: DataFrame,
    n_queries: int = 10,
    k_side: int = 20,
    out_k: int = 10,
    shingle_k: int = 3,
    rrf_c: int = _RRF_C,
) -> DataFrame:
    """Hybrid retrieval by reciprocal rank fusion: fuse a LEXICAL
    ranking (word-shingle Jaccard, the q37c family) with a DENSE
    ranking (exact cosine over the embedding column) via
    RRF(d) = Σ_lists 1/(c + rank_list(d)) — the standard score-free
    fusion for heterogeneous retrievers (lexical scores and cosines are
    not on a common scale; ranks are). This is the retrieval shape a
    training-data pipeline runs for targeted curation: "find documents
    like these seed docs" where neither sparse nor dense alone recalls
    the paraphrases AND the verbatim quotes.

    Determinism: both ranks are integers from ROW_NUMBER with id
    tiebreaks; the dense ordering key is the UNROUNDED sequential
    cosine fold, replayed exactly by the oracle (the q153/q155
    ranking-key contract), and the lexical key is a ratio of small
    integers — bit-equal in both engines. The fused score is a sum of
    at most two exact reciprocals, rounded 6dp for display only (the
    final order ties-break by doc id after score).

    AUDIT-ONLY at scale (the q38-brute-force convention): the dense
    leg is an EXACT cosine over the whole corpus, so runtime scales
    with corpus size — measured 1.8 s at sf0.1 → 57 s at the synthetic
    sf1 decade (SCALE.md table 2). The PRODUCTION hybrid route is
    :func:`rrf_bm25_ann` (q167): BM25 over the inverted index +
    the frozen-IVF ANN leg, probing index partitions instead of
    scanning vectors. This form remains first-class as q167's exact
    audit twin — same fusion stage, exhaustive legs — for recall
    audits at bounded scale.

    Scale shape (of this audit form): the query side is ``n_queries``
    rows — broadcast; the lexical candidate rule (share ≥1 shingle)
    and the dense scan are one pass over the corpus each, Q·N work
    with Q fixed, no corpus self-join anywhere. At index scale the
    lexical side swaps in the inverted-index/BM25 route (q135) and the
    dense side an ANN regime (q38j/k/l/m) — the fusion stage is
    unchanged, which is the point: RRF only consumes
    (query, doc, rank) lists."""
    from wing_binlog_go_spark.operators.dedup import word_shingles

    base = docs.select(
        F.col("doc_id"),
        F.array_distinct(word_shingles("text", shingle_k)).alias("_sh"),
    ).join(
        emb.select(
            F.col("vec_id").alias("doc_id"),
            as_double("embedding").alias("_v"),
        ),
        "doc_id",
    ).withColumn("_n", norm("_v"))
    q = base.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("query_id"),
        F.col("_sh").alias("_qsh"),
        F.col("_v").alias("_qv"),
        F.col("_n").alias("_qn"),
    )
    pairs = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("doc_id") != F.col("query_id"))
        .localCheckpoint(eager=True)  # scored twice (lex + dense)
    )

    common = F.size(F.array_intersect("_sh", "_qsh"))
    jac = common / (F.size("_sh") + F.size("_qsh") - common)
    w_lex = Window.partitionBy("query_id").orderBy(
        F.col("_jac").desc(), "doc_id"
    )
    lex = (
        pairs.withColumn("_c", common)
        .filter(F.col("_c") > 0)
        .withColumn("_jac", jac)
        .withColumn("lex_rank", F.row_number().over(w_lex).cast("int"))
        .filter(F.col("lex_rank") <= k_side)
        .select("query_id", "doc_id", "lex_rank")
    )
    w_den = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), "doc_id"
    )
    dense = (
        pairs.withColumn(
            "_sim", dot("_v", "_qv") / (F.col("_n") * F.col("_qn"))
        )
        .withColumn("dense_rank", F.row_number().over(w_den).cast("int"))
        .filter(F.col("dense_rank") <= k_side)
        .select("query_id", "doc_id", "dense_rank")
    )

    fused = (
        lex.join(dense, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "_rrf",
            F.coalesce(1.0 / (F.lit(rrf_c) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_c) + F.col("dense_rank")), F.lit(0.0)),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.col("_rrf").desc(), "doc_id"
                )
            )
            .cast("int"),
        )
        .filter(F.col("rnk") <= out_k)
    )
    return fused.select(
        "query_id",
        "doc_id",
        "rnk",
        F.round("_rrf", 6).alias("rrf_r"),
        F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
        F.coalesce("dense_rank", F.lit(0)).alias("dense_rank"),
    )


def _q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    return rrf_hybrid_topk(docs, emb).orderBy("query_id", "rnk")


def _rrf_oracle(
    n_queries: int = 10, k_side: int = 20, out_k: int = 10, rrf_c: int = _RRF_C
) -> str:
    # word_shingles at k=3, the q37c oracle form; DuckDB slices are
    # inclusive, so t[i:i+2] is 3 tokens
    sh = """CASE WHEN len(t) >= 3
                THEN list_distinct(list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' ')))
                ELSE [array_to_string(t, ' ')] END"""
    return f"""
WITH base AS MATERIALIZED (
  SELECT d.doc_id, {sh} AS sh,
         CAST(e.embedding AS DOUBLE[]) AS v,
         {_sql_exact_norm("CAST(e.embedding AS DOUBLE[])")} AS n
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents) d
  JOIN embeddings e ON e.vec_id = d.doc_id
), q AS MATERIALIZED (
  SELECT doc_id AS query_id, sh AS qsh, v AS qv, n AS qn FROM base
  WHERE doc_id < {n_queries}
), pairs AS MATERIALIZED (
  SELECT b.doc_id, b.sh, b.v, b.n, q.query_id, q.qsh, q.qv, q.qn
  FROM base b CROSS JOIN q WHERE b.doc_id <> q.query_id
), lex AS MATERIALIZED (
  SELECT query_id, doc_id, lex_rank FROM (
    SELECT query_id, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
             CAST(len(list_intersect(sh, qsh)) AS DOUBLE)
               / (len(sh) + len(qsh) - len(list_intersect(sh, qsh))) DESC,
             doc_id) AS INTEGER) AS lex_rank
    FROM pairs WHERE len(list_intersect(sh, qsh)) > 0
  ) WHERE lex_rank <= {k_side}
), dense AS MATERIALIZED (
  SELECT query_id, doc_id, dense_rank FROM (
    SELECT query_id, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
             {_sql_exact_dot("v", "qv")} / (n * qn) DESC,
             doc_id) AS INTEGER) AS dense_rank
    FROM pairs
  ) WHERE dense_rank <= {k_side}
), fused AS (
  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         COALESCE(l.doc_id, d.doc_id) AS doc_id,
         l.lex_rank, d.dense_rank,
         COALESCE(1.0 / ({rrf_c} + l.lex_rank), 0.0)
           + COALESCE(1.0 / ({rrf_c} + d.dense_rank), 0.0) AS rrf
  FROM lex l FULL OUTER JOIN dense d
    ON l.query_id = d.query_id AND l.doc_id = d.doc_id
)
SELECT query_id, doc_id, rnk, ROUND(rrf, 6) AS rrf_r,
       COALESCE(lex_rank, 0) AS lex_rank,
       COALESCE(dense_rank, 0) AS dense_rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY rrf DESC, doc_id) AS INTEGER) AS rnk
  FROM fused
) WHERE rnk <= {out_k}
ORDER BY query_id, rnk
"""


QUERIES["q162_rrf_hybrid"] = QuerySpec(_q_rrf_hybrid, _rrf_oracle())


# ---------------------------------------------------------------------------
# Index-scale hybrid retrieval: BM25 + frozen-IVF ANN under RRF (q167)
# ---------------------------------------------------------------------------

_Q167_TERMS = ("hash", "stream", "spark")


def rrf_bm25_ann(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: "list[str]",
    cents: "list[list[float]]",
    k_side: int = 20,
    out_k: int = 10,
    n_probe: int = 2,
    rrf_c: int = _RRF_C,
) -> DataFrame:
    """The index-scale form of :func:`rrf_hybrid_topk` — the swap-in
    its docstring promises, materialized: the LEXICAL list is real
    Okapi BM25 over the query terms (q125's scorer — inverted-index
    shape, term filter before any shuffle) and the DENSE list is
    frozen-IVF ANN expansion (q38j's probe-pruned search) seeded by the
    TOP BM25 HIT's embedding — classic pseudo-relevance feedback:
    sparse retrieval finds the anchor, dense retrieval pulls in its
    paraphrase neighborhood, RRF fuses the two rankings.

    Determinism: the lexical ordering key is the ROUNDED BM25 (6dp,
    exactly the value q125 hash-proves cross-engine; doc_id tiebreak),
    the dense key is the q38j exact-fold contract, and the fusion is
    rank-only. The seed never enters the dense list (IVF excludes
    self) but keeps its lexical rank, so it fuses at the top on the
    lexical signal alone — which is correct: it IS the best lexical
    answer."""
    from wing_binlog_go_spark.functions.text import bm25_scores

    lex_all = bm25_scores(docs, list(query_terms)).filter(F.col("bm25") > 0)
    w_lex = Window.orderBy(F.round("bm25", 6).desc(), F.asc("doc_id"))
    lex = (
        lex_all.withColumn("lex_rank", F.row_number().over(w_lex).cast("int"))
        .filter(F.col("lex_rank") <= k_side)
        .select("doc_id", "lex_rank")
        .localCheckpoint(eager=True)  # seed lookup + fusion both read it
    )
    seed_q = (
        lex.filter(F.col("lex_rank") == 1)
        .join(emb, lex["doc_id"] == emb["vec_id"])
        .select(F.col("doc_id").alias("query_id"), "embedding")
    )
    dense = ivf_topk_frozen(
        emb, seed_q, cents, k=k_side, n_probe=n_probe
    ).select(
        F.col("vec_id").alias("doc_id"), F.col("rnk").alias("dense_rank")
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .withColumn(
            "_rrf",
            F.coalesce(1.0 / (F.lit(rrf_c) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(rrf_c) + F.col("dense_rank")), F.lit(0.0)),
        )
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.col("_rrf").desc(), "doc_id"))
            .cast("int"),
        )
        .filter(F.col("rnk") <= out_k)
    )
    return fused.select(
        "doc_id",
        "rnk",
        F.round("_rrf", 6).alias("rrf_r"),
        F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
        F.coalesce("dense_rank", F.lit(0)).alias("dense_rank"),
    )


def _q_rrf_bm25_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wing_binlog_go_spark.tables import read_table as _rt

    docs = _rt(spark, sf_dir, "documents")
    emb = _rt(spark, sf_dir, "embeddings")
    return rrf_bm25_ann(
        docs, emb, list(_Q167_TERMS), load_frozen_centroids()
    ).orderBy("rnk")


def _rrf_bm25_ann_oracle(
    k_side: int = 20, out_k: int = 10, n_probe: int = _Q38J_N_PROBE,
    rrf_c: int = _RRF_C,
) -> str:
    terms = ", ".join(f"'{t}'" for t in _Q167_TERMS)
    k_cents = len(load_frozen_centroids())
    q_dists = ",\n         ".join(_frozen_dist_cols("qv"))
    unpivot = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS cluster, d{i} AS dist FROM qd"
        for i in range(k_cents)
    )
    return _frozen_assign_cte() + f""", tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), dlen AS (
  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
), hit AS (
  SELECT * FROM tok WHERE term IN ({terms})
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM hit GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, term FROM hit) GROUP BY term
), consts AS (
  SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n_docs,
         (SELECT AVG(dl) FROM dlen) AS avgdl
), bscore AS MATERIALIZED (
  SELECT tf.doc_id,
         ROUND(SUM(
           ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * 2.2)
           / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
         ), 6) AS bm25
  FROM tf
  JOIN dfreq ON tf.term = dfreq.term
  JOIN dlen ON tf.doc_id = dlen.doc_id
  CROSS JOIN consts
  GROUP BY tf.doc_id
  HAVING SUM(tf) > 0
), lex AS MATERIALIZED (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
             AS lex_rank
    FROM bscore WHERE bm25 > 0
  ) WHERE lex_rank <= {k_side}
), q AS MATERIALIZED (
  SELECT l.doc_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qv
  FROM lex l JOIN embeddings e ON e.vec_id = l.doc_id
  WHERE l.lex_rank = 1
), qd AS MATERIALIZED (
  SELECT {q_dists} FROM q
), unpv AS MATERIALIZED (
{unpivot}
), probed AS MATERIALIZED (
  SELECT cluster FROM (
    SELECT cluster, ROW_NUMBER() OVER (ORDER BY dist, cluster) AS rn
    FROM unpv
  ) WHERE rn <= {n_probe}
), cv AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, CAST(e.embedding AS DOUBLE[]) AS v,
         {_sql_exact_norm("CAST(e.embedding AS DOUBLE[])")} AS n
  FROM assigned a JOIN embeddings e USING (vec_id)
), dense AS MATERIALIZED (
  SELECT doc_id, dense_rank FROM (
    SELECT c.vec_id AS doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY
             {_sql_exact_dot("c.v", "q.qv")}
               / (c.n * {_sql_exact_norm("q.qv")}) DESC,
             c.vec_id) AS INTEGER) AS dense_rank
    FROM cv c JOIN probed p ON c.cluster = p.cluster
    CROSS JOIN q
    WHERE c.vec_id <> (SELECT query_id FROM q)
  ) WHERE dense_rank <= {k_side}
), fused AS (
  SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
         l.lex_rank, d.dense_rank,
         COALESCE(1.0 / ({rrf_c} + l.lex_rank), 0.0)
           + COALESCE(1.0 / ({rrf_c} + d.dense_rank), 0.0) AS rrf
  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
)
SELECT doc_id, rnk, ROUND(rrf, 6) AS rrf_r,
       COALESCE(lex_rank, 0) AS lex_rank,
       COALESCE(dense_rank, 0) AS dense_rank
FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER)
    AS rnk
  FROM fused
) WHERE rnk <= {out_k}
ORDER BY rnk
"""


QUERIES["q167_rrf_bm25_ann"] = QuerySpec(_q_rrf_bm25_ann, _rrf_bm25_ann_oracle())
