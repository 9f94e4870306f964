"""Metadata-only table statistics via parquet aggregate pushdown.

At 100 TB, ``SELECT min(x), max(x), count(*)`` answered by scanning is
a full-table read; answered from parquet ROW-GROUP FOOTER STATS it is
an O(#row-groups) metadata read — the same stats Z-order data skipping
consumes (`operators/clustering.py`), surfaced as a query. Spark's DSv2
parquet reader implements exactly this (`PushedAggregation` in the
scan) but only on the v2 path with ``spark.sql.parquet.
aggregatePushdown`` on; the repo's default reader is v1 (the
`useV1SourceList` default), so this operator opens the table through an
ISOLATED child session (``spark.newSession()`` — shared SparkContext,
separate SQL conf) rather than mutating the caller's session: flipping
``useV1SourceList`` globally would silently change every other query's
scan path.

Pushdown preconditions (enforced loudly): no filters before the
aggregate, top-level non-nested columns, MIN/MAX/COUNT only — the
DSv2 rule set. Values are EXACT (footer stats are exact per row group),
so the result is DuckDB-oracled like any other query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wing_binlog_go_spark.plans.relational import QuerySpec

QUERIES: dict[str, QuerySpec] = {}


def footer_stats_agg(
    spark: SparkSession,
    path: str,
    min_cols: list[str] = (),
    max_cols: list[str] = (),
    with_count: bool = True,
) -> DataFrame:
    """min/max/count over a parquet table, answerable from footers.

    Returns one row with columns ``min_<c>``/``max_<c>``/``n``. The
    returned DataFrame is bound to a child session whose conf enables
    the v2 reader + aggregate pushdown; collecting it from the parent
    works as usual (same SparkContext). A plan gate asserts the
    aggregation actually reached the scan (``test_plans.py``).
    """
    if not (min_cols or max_cols or with_count):
        raise ValueError("footer_stats_agg: nothing to aggregate")
    child = spark.newSession()
    child.conf.set("spark.sql.sources.useV1SourceList", "")
    child.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    df = child.read.parquet(path)
    aggs = (
        [F.min(c).alias(f"min_{c}") for c in min_cols]
        + [F.max(c).alias(f"max_{c}") for c in max_cols]
        + ([F.count(F.lit(1)).alias("n")] if with_count else [])
    )
    return df.agg(*aggs)


def _q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return footer_stats_agg(
        spark,
        f"{sf_dir}/lineitem.parquet",
        min_cols=["l_quantity", "l_extendedprice"],
        max_cols=["l_quantity", "l_discount"],
    )


_TABLE_STATS_ORACLE = """
SELECT MIN(l_quantity) AS min_l_quantity,
       MIN(l_extendedprice) AS min_l_extendedprice,
       MAX(l_quantity) AS max_l_quantity,
       MAX(l_discount) AS max_l_discount,
       COUNT(*) AS n
FROM lineitem
"""

QUERIES["q119_table_stats"] = QuerySpec(_q_table_stats, _TABLE_STATS_ORACLE)


# ---------------------------------------------------------------------------
# chunk-wise table checksums (replica divergence detection)
# ---------------------------------------------------------------------------


def table_checksum(
    df: DataFrame,
    key_col: str,
    cols: list[str],
    n_chunks: int = 64,
    chunk=None,
) -> DataFrame:
    """(chunk, n_rows, checksum): order-insensitive chunk-wise content
    checksums — the pt-table-checksum pattern for CDC replicas. Compare
    source and replica checksums chunk-by-chunk (``checksum_diff``) and
    re-sync ONLY diverged chunks: divergence detection costs one scan
    per side + an n_chunks-row exchange, never a row-level join.

    Row hash = first 48 bits of md5 over the '|'-joined column values
    (NULLs → a sentinel BEFORE joining: concat_ws silently skips NULLs,
    which would make ('a',NULL,'b') collide with ('a','b',NULL)).
    md5-on-strings is engine-portable (same function in Spark, DuckDB,
    MySQL — so the SOURCE database can compute its side of the
    comparison in SQL); SUM of 48-bit hashes is order- and
    partition-insensitive and overflows nothing below ~2^15 rows per
    chunk times 2^48. Chunk = key % n_chunks, aligned on both sides by
    construction. Callers pick ``cols`` with engine-stable string forms
    (integers/strings — float and timestamp FORMATTING differs across
    engines; cast those upstream to a canonical form first).
    """
    # ``chunk``: optional Column overriding the numeric-key modulo —
    # align chunks with a replica's bucket fn (pmod(xxhash64(_pk), B))
    # so the diff's worklist IS the bucket list to repair.
    sentinel = "\x00null\x00"
    canon = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit(sentinel)) for c in cols]
    )
    row_hash = F.conv(F.substring(F.md5(canon), 1, 12), 16, 10).cast("long")
    chunk_expr = chunk if chunk is not None else F.col(key_col) % n_chunks
    return (
        df.groupBy(chunk_expr.alias("chunk"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(row_hash).alias("checksum"),
        )
        .select("chunk", "n_rows", "checksum")
    )


def checksum_diff(source: DataFrame, replica: DataFrame) -> DataFrame:
    """Chunks where source and replica disagree (missing chunks count
    as diverged): full-outer join on chunk over two n_chunks-row
    frames — the repair worklist."""
    s = source.select(
        F.col("chunk"),
        F.col("n_rows").alias("src_rows"),
        F.col("checksum").alias("src_checksum"),
    )
    r = replica.select(
        F.col("chunk"),
        F.col("n_rows").alias("rep_rows"),
        F.col("checksum").alias("rep_checksum"),
    )
    return s.join(r, "chunk", "full_outer").filter(
        ~(
            F.col("src_rows").eqNullSafe(F.col("rep_rows"))
            & F.col("src_checksum").eqNullSafe(F.col("rep_checksum"))
        )
    )


def _q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wing_binlog_go_spark.tables import read_table

    orders = read_table(spark, sf_dir, "orders")
    return table_checksum(
        orders,
        "o_orderkey",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        n_chunks=64,
    ).orderBy("chunk")


_TABLE_CHECKSUM_ORACLE = """
SELECT o_orderkey % 64 AS chunk,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST('0x' || substring(md5(concat_ws('|',
             CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
             o_orderstatus, o_orderpriority)), 1, 12) AS BIGINT)) AS BIGINT)
         AS checksum
FROM orders
GROUP BY 1
ORDER BY 1
"""

QUERIES["q122_table_checksum"] = QuerySpec(_q_table_checksum, _TABLE_CHECKSUM_ORACLE)


def repair_chunks(
    spark: SparkSession,
    replica_dir: str,
    source: DataFrame,
    key_col: str,
    diverged_chunks: list[int],
    n_chunks: int = 64,
) -> None:
    """Re-sync the replica's diverged chunks from source — the repair
    step after ``checksum_diff``: replica rows in those chunks are
    replaced wholesale by the source's rows (chunk membership is
    ``key % n_chunks`` on BOTH sides, so the swap is exact by
    construction). Untouched chunks are carried over unmodified.

    Commits through ``maintenance.rewrite_dir``, like
    ``upsert_parquet``. This form rewrites the whole table file-set; at
    100 TB use ``pipeline.repair_buckets`` so only diverged buckets
    rewrite (``maintenance.rewrite_buckets``, chunk == bucket).
    """
    from wing_binlog_go_spark.streaming.maintenance import (
        recover_swap,
        rewrite_dir,
    )

    if not diverged_chunks:
        return
    recover_swap(replica_dir)
    chunk = F.col(key_col) % n_chunks
    kept = spark.read.parquet(replica_dir).filter(~chunk.isin(diverged_chunks))
    fresh = source.filter(chunk.isin(diverged_chunks))
    rewrite_dir(replica_dir, kept.unionByName(fresh))


# ---------------------------------------------------------------------------
# column profiling (ingest validation / ANALYZE-style statistics)
# ---------------------------------------------------------------------------


def profile_columns(
    df: DataFrame, cols: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """One row PER COLUMN: (col_name, n_rows, n_nonnull, ndv, n_uncast,
    min_s, max_s) — the ANALYZE/profiling pass a pipeline runs on every
    new ingest partition before trusting it (null explosions,
    cardinality drift, out-of-range values).

    Scale shape: ONE scan. All per-column aggregates evaluate in a
    single ``agg`` (Spark plans the multi-DISTINCT via Expand — rows ×
    #profiled-columns, map-side partial before the single shuffle);
    with ``approx=True`` the Expand disappears entirely because
    approx_count_distinct is a mergeable HLL sketch, the right call at
    100 TB. The wide 1-row result is unpivoted to the tall shape with
    ``stack`` — pure JVM projection, no collect, no second scan.

    min/max are canonicalized to strings per dtype so heterogeneous
    columns fit one schema: fractional types go through DECIMAL(28,6)
    (stable textual form in both Spark and DuckDB — raw double→string
    diverges on scientific-notation thresholds), everything else casts
    directly.  The decimal cast null-skips values it can't represent
    (NaN/±inf/|x|≥1e22) — exactly the explosions a profiler must NOT
    hide — so ``n_uncast`` counts them per column: non-zero means the
    min_s/max_s bounds are understated and the column needs a look.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    if not cols:
        raise ValueError("profile_columns: no columns to profile")
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    ndv_fn = F.approx_count_distinct if approx else F.count_distinct
    for c in cols:
        if dtypes[c] in ("double", "float"):
            canon = F.col(c).cast("decimal(28,6)")
        else:
            canon = F.col(c)
        aggs += [
            F.count(c).alias(f"nn__{c}"),
            ndv_fn(F.col(c)).alias(f"ndv__{c}"),
            (F.count(c) - F.count(canon)).alias(f"uc__{c}"),
            F.min(canon).cast("string").alias(f"min__{c}"),
            F.max(canon).cast("string").alias(f"max__{c}"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `nn__{c}`, `ndv__{c}`, `uc__{c}`, `min__{c}`, `max__{c}`"
        for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_nonnull, ndv, n_uncast, min_s, max_s)"
        ),
        "n_rows",
    ).select(
        "col_name", "n_rows", "n_nonnull", "ndv", "n_uncast", "min_s", "max_s"
    )


def _q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # read_table, not spark.read.parquet: the driver calls builders
    # with ITS session — read_table pins UTC/ANSI-off so the timestamp
    # min/max strings match the oracle regardless of caller conf
    from wing_binlog_go_spark.tables import read_table

    return profile_columns(read_table(spark, sf_dir, "orders")).orderBy("col_name")


_PROFILE_ORACLE = """
WITH p AS (
  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
         COUNT(o_orderkey) AS n_nonnull, COUNT(DISTINCT o_orderkey) AS ndv,
         CAST(0 AS BIGINT) AS n_uncast,
         CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
         CAST(MAX(o_orderkey) AS VARCHAR) AS max_s
  FROM orders
  UNION ALL
  SELECT 'o_custkey', COUNT(*), COUNT(o_custkey), COUNT(DISTINCT o_custkey),
         CAST(0 AS BIGINT),
         CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
         COUNT(DISTINCT o_orderstatus), CAST(0 AS BIGINT),
         MIN(o_orderstatus), MAX(o_orderstatus)
  FROM orders
  UNION ALL
  SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
         COUNT(DISTINCT o_totalprice),
         COUNT(o_totalprice)
           - COUNT(TRY_CAST(o_totalprice AS DECIMAL(28,6))),
         CAST(MIN(TRY_CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR),
         CAST(MAX(TRY_CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', COUNT(*), COUNT(o_orderdate),
         COUNT(DISTINCT o_orderdate), CAST(0 AS BIGINT),
         CAST(MIN(o_orderdate) AS VARCHAR), CAST(MAX(o_orderdate) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority),
         COUNT(DISTINCT o_orderpriority), CAST(0 AS BIGINT),
         MIN(o_orderpriority), MAX(o_orderpriority)
  FROM orders
)
SELECT * FROM p ORDER BY col_name
"""

QUERIES["q126_column_profile"] = QuerySpec(_q_profile, _PROFILE_ORACLE)


def fk_orphans(
    child: DataFrame, parent: DataFrame, fk_col: str, pk_col: str
) -> DataFrame:
    """Child rows whose foreign key has no parent — the referential-
    integrity half of replica verification (a CDC apply bug that drops
    or reorders parent rows shows up as orphans long before a full
    checksum run finds it).  NULL FKs are not orphans (SQL FK
    semantics).  Left-anti equi-join: one shuffle, no broadcast hint —
    AQE broadcasts a small parent at runtime.
    """
    return child.filter(F.col(fk_col).isNotNull()).join(
        parent.select(F.col(pk_col).alias(fk_col)).distinct(),
        fk_col,
        "left_anti",
    )


def _q_ri_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan counts for the two fact→dim edges of the TPC-H-ish
    schema, one row per edge (0 on clean data — the audit asserts the
    join paths, not just this corpus)."""
    from wing_binlog_go_spark.tables import read_table

    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    lineitem = read_table(spark, sf_dir, "lineitem")
    a = fk_orphans(orders, customer, "o_custkey", "c_custkey").agg(
        F.lit("orders->customer").alias("edge"),
        F.count("*").alias("n_orphans"),
    )
    b = fk_orphans(lineitem, orders, "l_orderkey", "o_orderkey").agg(
        F.lit("lineitem->orders").alias("edge"),
        F.count("*").alias("n_orphans"),
    )
    return a.unionByName(b).orderBy("edge")


_RI_AUDIT_ORACLE = """
SELECT * FROM (
  SELECT 'orders->customer' AS edge, COUNT(*) AS n_orphans
  FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
  UNION ALL
  SELECT 'lineitem->orders', COUNT(*)
  FROM lineitem l
  WHERE l.l_orderkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
) ORDER BY edge
"""

QUERIES["q131_ri_audit"] = QuerySpec(_q_ri_audit, _RI_AUDIT_ORACLE)


# ---------------------------------------------------------------------------
# snapshot diff (replica reconciliation without a changelog)
# ---------------------------------------------------------------------------


def snapshot_diff(
    old: DataFrame, new: DataFrame, pk: str, cols: list[str]
) -> DataFrame:
    """Row-level diff of two table snapshots keyed on ``pk``:
    (pk, change ∈ {insert, delete, update}) — what changed between two
    points in time when no changelog exists (bootstrap validation, or
    reconciling a replica against a source dump; the reference's users
    do this manually with mysqldump diffs).

    One full-outer equi-join on the key; change detection compares the
    '|'-joined canonical string of ``cols`` (NULL → sentinel, the
    table_checksum convention, so NULL shifts can't alias).  Scale
    shape: the join shuffles both snapshots on pk once — at 100 TB
    pre-bucket both snapshots on pk and the shuffle disappears.
    """
    sentinel = "\x00null\x00"

    def canon(df: DataFrame) -> Column:
        return F.concat_ws(
            "|",
            *[F.coalesce(F.col(c).cast("string"), F.lit(sentinel)) for c in cols],
        )

    o = old.select(F.col(pk), canon(old).alias("_old_v"))
    n = new.select(F.col(pk), canon(new).alias("_new_v"))
    joined = o.join(n, pk, "full_outer")
    return joined.select(
        pk,
        F.when(F.col("_old_v").isNull(), F.lit("insert"))
        .when(F.col("_new_v").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("change"),
    ).filter(
        F.col("change").isin("insert", "delete")
        | (F.col("_old_v") != F.col("_new_v"))
    )


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized second snapshot (deterministic, mirrored in SQL):
    keys %13==0 change status, %17==0 are deleted, and a shifted copy
    of keys %19==0 is inserted."""
    from wing_binlog_go_spark.tables import read_table

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    changed = orders.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    kept = changed.filter(F.col("o_orderkey") % 17 != 0)
    inserted = orders.filter(F.col("o_orderkey") % 19 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderstatus",
        "o_orderpriority",
    )
    new = kept.unionByName(inserted)
    return snapshot_diff(
        orders, new, "o_orderkey", ["o_orderstatus", "o_orderpriority"]
    ).orderBy("o_orderkey")


_SNAPSHOT_DIFF_ORACLE = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 13 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         o_orderpriority
  FROM orders WHERE o_orderkey % 17 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, o_orderstatus, o_orderpriority
  FROM orders WHERE o_orderkey % 19 = 0
), j AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         o.o_orderkey IS NULL AS ins,
         n.o_orderkey IS NULL AS del,
         concat_ws('|', COALESCE(CAST(o.o_orderstatus AS VARCHAR), chr(0) || 'null' || chr(0)),
                        COALESCE(CAST(o.o_orderpriority AS VARCHAR), chr(0) || 'null' || chr(0))) AS ov,
         concat_ws('|', COALESCE(CAST(n.o_orderstatus AS VARCHAR), chr(0) || 'null' || chr(0)),
                        COALESCE(CAST(n.o_orderpriority AS VARCHAR), chr(0) || 'null' || chr(0))) AS nv
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT o_orderkey,
       CASE WHEN ins THEN 'insert' WHEN del THEN 'delete'
            ELSE 'update' END AS change
FROM j
WHERE ins OR del OR ov <> nv
ORDER BY o_orderkey
"""

QUERIES["q134_snapshot_diff"] = QuerySpec(_q_snapshot_diff, _SNAPSHOT_DIFF_ORACLE)


# ---------------------------------------------------------------------------
# Count-Min sketch: mergeable approximate counting (q149)
# ---------------------------------------------------------------------------


def cms_build(
    items: DataFrame,
    item_col: str,
    count_col: str | None = None,
    width: int = 1024,
    depth: int = 4,
    seed: int = 7,
    bucket_fn=None,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of an item
    stream as a (j, col, cnt) table — depth·width cells regardless of
    item cardinality, which is the whole point at 100 TB: the exact
    heavy-hitters table (q39t) costs a token-cardinality shuffle, the
    sketch costs a depth·width-bounded one and two sketches built on
    disjoint shards MERGE by cell-wise addition (`cms_merge`), so
    per-day/per-shard sketches roll up without touching raw data.

    Each depth row uses Spark's murmur3 (`F.hash`) under a distinct
    seed by default — deterministic across runs and executors; no SQL
    oracle for exactly that reason (DuckDB has no murmur3), so the
    evidence is the property suite: estimates never undercount,
    overcounts obey the Markov bound, and shard-merge equals
    whole-corpus build exactly. Pass ``bucket_fn(item_col, j) → col``
    to swap the hash family — ``rolling_cms_bucket`` gives the
    cross-engine polynomial hash that makes the whole sketch
    hash-checkable against DuckDB (q149b); murmur3 stays the
    production default (constant-time per item vs per-character fold).
    """
    w = F.col(count_col).cast("long") if count_col else F.lit(1).cast("long")
    bucket = bucket_fn or (
        lambda c, j: F.pmod(F.hash(c, F.lit(seed + j)), F.lit(width))
    )
    parts = [
        items.select(
            F.lit(j).alias("j"),
            bucket(F.col(item_col), j).alias("col"),
            w.alias("cnt"),
        )
        for j in range(depth)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("j", "col").agg(F.sum("cnt").alias("cnt"))


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cell-wise sum of two sketches built with the SAME (width, depth,
    seed) — the mergeability that makes sketches shard-parallel."""
    return a.unionByName(b).groupBy("j", "col").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    item_col: str,
    width: int = 1024,
    depth: int = 4,
    seed: int = 7,
    bucket_fn=None,
) -> DataFrame:
    """(item, est): min over depth rows of the probed cells — the CMS
    upper-bound estimate (never an undercount). The probe side explodes
    to depth rows per item and equi-joins the sketch on (j, col); a
    missing cell reads as 0. ``bucket_fn`` must match the one the
    sketch was built with."""
    bucket = bucket_fn or (
        lambda c, j: F.pmod(F.hash(c, F.lit(seed + j)), F.lit(width))
    )
    hashes = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                bucket(F.col("item"), j).alias("col"),
            )
            for j in range(depth)
        ]
    )
    probed = probes.select(F.col(item_col).alias("item")).distinct().select(
        "item", F.explode(hashes).alias("h")
    ).select("item", F.col("h.j").alias("j"), F.col("h.col").alias("col"))
    return (
        probed.join(sketch, ["j", "col"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def _q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate the exact top tokens' counts through the sketch (the
    q39t pairing: exact table vs mergeable approximation). Rows-only by
    design — F.hash is Spark murmur3, which DuckDB cannot replay; the
    property suite carries the value evidence."""
    from wing_binlog_go_spark.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    sketch = cms_build(toks, "tok", width=512, depth=4)
    top = (
        toks.groupBy("tok").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok").limit(20).select("tok")
    )
    return (
        cms_estimate(sketch, top, "tok", width=512, depth=4)
        .withColumnRenamed("item", "tok")
        .orderBy("tok")
    )


QUERIES["q149_cms_heavy_hitters"] = QuerySpec(_q_cms_heavy_hitters, None)  # murmur3 — no SQL oracle; property-tested


# Distinct polynomial BASES per depth row, not distinct seeds: with a
# shared multiplier the rows differ only by a length-dependent additive
# shift, so same-length tokens that collide in one row collide in ALL
# rows and the min-over-rows does nothing. Distinct odd-prime bases
# give genuinely different collision sets. Width prime (not 2^k) so
# the low-bit-only structure of a power-of-two modulus can't align
# with the base either.
_CMS_ROLL_MULTS = (31, 37, 41, 43)
_CMS_ROLL_WIDTH = 509
_CMS_ROLL_SEED = 7


def rolling_cms_bucket(item: F.Column, j: int) -> F.Column:
    """Cross-engine CMS bucket for depth row j: the polynomial rolling
    hash (seed·m + code) % width folded left-to-right over character
    codes — the classifier's feature-hash scheme (verified vs DuckDB
    ``list_reduce``) with a per-row multiplier. NON-EMPTY tokens only:
    Spark folds [''] once, DuckDB's empty range folds zero times."""
    m = _CMS_ROLL_MULTS[j]
    return F.aggregate(
        F.transform(F.split(item, ""), lambda ch: F.ascii(ch)),
        F.lit(_CMS_ROLL_SEED).cast("long"),
        lambda acc, c: (acc * m + c.cast("long")) % _CMS_ROLL_WIDTH,
    )


def _q_cms_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q149's estimate path with the cross-engine rolling-hash family:
    the same sketch build + min-over-rows probe, hash-CHECKED against a
    DuckDB replay of the full sketch rather than property-tested —
    upgrading the mergeable-sketch story from bounds to exact-match
    evidence. murmur3 (q149) stays the production default: one hash op
    per item beats a per-character fold on a 100 TB token stream."""
    from wing_binlog_go_spark.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    depth = len(_CMS_ROLL_MULTS)
    sketch = cms_build(
        toks, "tok", width=_CMS_ROLL_WIDTH, depth=depth,
        bucket_fn=rolling_cms_bucket,
    )
    top = (
        toks.groupBy("tok").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok").limit(20).select("tok")
    )
    return (
        cms_estimate(
            sketch, top, "tok", width=_CMS_ROLL_WIDTH, depth=depth,
            bucket_fn=rolling_cms_bucket,
        )
        .withColumnRenamed("item", "tok")
        .orderBy("tok")
    )


def _cms_rolling_oracle() -> str:
    w, seed = _CMS_ROLL_WIDTH, _CMS_ROLL_SEED
    hash_cols = ",\n         ".join(
        f"list_reduce(list_prepend({seed}::BIGINT,"
        f" list_transform(range(1, length(tok) + 1), i -> ascii(tok[i]))),"
        f" (a, b) -> (a * {m} + b) % {w}) AS c{j}"
        for j, m in enumerate(_CMS_ROLL_MULTS)
    )
    sketch_rows = "\n  UNION ALL\n".join(
        f"  SELECT {j} AS j, c{j} AS col, COUNT(*)::BIGINT AS cnt"
        f" FROM h GROUP BY c{j}"
        for j in range(len(_CMS_ROLL_MULTS))
    )
    probe_rows = "\n  UNION ALL\n".join(
        f"  SELECT tok, {j} AS j, c{j} AS col FROM toph"
        for j in range(len(_CMS_ROLL_MULTS))
    )
    return f"""
WITH toks AS MATERIALIZED (
  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
), t AS MATERIALIZED (
  SELECT tok FROM toks WHERE length(tok) > 0
), h AS MATERIALIZED (
  SELECT tok,
         {hash_cols}
  FROM t
), sketch AS MATERIALIZED (
{sketch_rows}
), top AS MATERIALIZED (
  SELECT tok FROM t GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT 20
), toph AS MATERIALIZED (
  SELECT DISTINCT h.tok, c0, c1, c2, c3 FROM h JOIN top USING (tok)
), probe AS (
{probe_rows}
)
SELECT p.tok, MIN(COALESCE(s.cnt, 0))::BIGINT AS est
FROM probe p LEFT JOIN sketch s USING (j, col)
GROUP BY p.tok
ORDER BY p.tok
"""


QUERIES["q149b_cms_rolling_hash"] = QuerySpec(_q_cms_rolling, _cms_rolling_oracle())


def misra_gries_topk(
    items: DataFrame,
    item_col: str,
    k: int = 64,
) -> DataFrame:
    """Mergeable Misra-Gries heavy-hitter summary: (item, est) with at
    most ~k items per partition surviving, merged by summing partial
    estimates — the ENUMERATING companion to the CMS (`cms_build`
    answers point queries but cannot list the heavy items; MG lists
    them). Guarantees after the merge (Agarwal et al. 2012, mergeable
    summaries): est never OVERcounts, the undercount is bounded by
    N/(k+1) in total across partitions, so every item with true
    frequency > N/(k+1) is guaranteed present.

    Scale shape: one Arrow-batched pass per partition maintaining k
    counters (the documented Python boundary — MG is inherently a
    sequential counter algorithm), emitting ≤ k rows per partition;
    the merge is a tiny groupBy over ≤ partitions·k rows.

    The pass reads exact Python values (``mapInArrow`` +
    ``to_pylist``): through pandas a nullable bigint column arrives as
    float64, which rounds large ids into each other, and NULL is a
    single item rather than one NaN per row.
    """
    import pyarrow as pa

    schema = f"item {dict(items.dtypes)[item_col]}, est long"

    def mg_partition(batches):
        counters: dict = {}
        item_type = None
        for batch in batches:
            item_type = batch.column(0).type
            for it in batch.column(0).to_pylist():
                if it in counters:
                    counters[it] += 1
                elif len(counters) < k:
                    counters[it] = 1
                else:
                    # decrement-all step; drop zeros
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if counters:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(list(counters), type=item_type),
                    pa.array(list(counters.values()), type=pa.int64()),
                ],
                names=["item", "est"],
            )

    partials = items.select(item_col).mapInArrow(mg_partition, schema)
    return partials.groupBy("item").agg(F.sum("est").alias("est"))


# ---------------------------------------------------------------------------
# KMV bottom-k distinct sketch (q160) — the hash-checkable twin of q18
# ---------------------------------------------------------------------------

# k-minimum-values (Bar-Yossef et al. 2002): keep the k smallest DISTINCT
# hash values; with U_(k) the k-th smallest hash normalized into (0,1),
# D ≈ (k-1)/U_(k). Mergeable: bottom-k of a union is the bottom-k of the
# parts' bottom-k's — the same partial-merge shape as the CMS/MG sketch
# stores. q18 (approx_count_distinct = HLL++, tolerance-checked) stays
# the production estimator; this twin runs the q37f/q149b polynomial
# family so the sketch TABLE and the estimate are cross-engine exact.
#
# The raw polynomial fold is NOT uniform enough for an order-statistic
# estimator: sequential integer keys share prefixes, so their hashes
# land in tight clusters (measured 650x overestimate on o_custkey) —
# fine for the equality-join uses (q37f/q149b/q159, where only
# collisions matter), fatal here where the VALUE's position in [0,P) is
# the signal. Two modular squaring rounds give avalanche (a last-digit
# change moves the square by ~2h mod P): measured error 0.8% at sf0.01
# and 9.7% at sf0.1 vs the 1/sqrt(k-2) ~ 6.3% theoretical std error.
# Squaring is 2-to-1 mod P (h and P-h collide), so DISTINCT is taken on
# the MIXED hash in both engines — a collision must fill one slot.
_KMV_K = 256
_KMV_BASE = 31
_KMV_SEED = 7
_KMV_P = 1_000_000_007
_KMV_MIX1 = 40_503
_KMV_MIX2 = 48_271


def kmv_hash(key_col) -> F.Column:
    """The mixed KMV hash of a key column: polynomial fold of the
    string form, then the two squaring rounds (see the family note)."""
    s = (F.col(key_col) if isinstance(key_col, str) else key_col).cast(
        "string"
    )
    h0 = F.aggregate(
        F.transform(F.split(s, ""), lambda ch: F.ascii(ch)),
        F.lit(_KMV_SEED).cast("long"),
        lambda acc, c: (acc * _KMV_BASE + c.cast("long")) % _KMV_P,
    )
    h1 = (h0 * h0 + F.lit(_KMV_MIX1)) % F.lit(_KMV_P)
    return (h1 * h1 + F.lit(_KMV_MIX2)) % F.lit(_KMV_P)


def kmv_bottom_k(hashes: DataFrame, k: int = _KMV_K) -> DataFrame:
    """The k smallest distinct values of a single-column ``(h)`` frame
    — both the sketch BUILD (from raw per-row hashes) and the sketch
    MERGE (from a union of partial sketches) are this one operation;
    that closure under union is the mergeability."""
    return hashes.select("h").distinct().orderBy("h").limit(k)


def kmv_estimate(sketch: DataFrame, k: int = _KMV_K) -> DataFrame:
    """(rnk, h, est_distinct) from a bottom-k sketch: exact count when
    not full, (k-1)·P/h_(k) otherwise; the estimate is an agg over ≤k
    rows cross-joined back as a broadcast scalar, and the rnk window
    orders ≤k rows (bounded single-partition window by design)."""
    ranked = sketch.withColumn(
        "rnk", F.row_number().over(Window.orderBy("h")).cast("int")
    )
    est = ranked.agg(
        F.count("*").alias("_n"), F.max("h").alias("_hk")
    ).select(
        F.round(
            F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
                F.lit(float(k - 1)) * F.lit(float(_KMV_P)) / F.col("_hk")
            ),
            4,
        ).alias("est_distinct")
    )
    return ranked.crossJoin(F.broadcast(est)).select("rnk", "h", "est_distinct")


def kmv_distinct_sketch(
    df: DataFrame, key_col: str, k: int = _KMV_K
) -> DataFrame:
    """(rnk, h, est_distinct): the k smallest distinct mixed rolling
    hashes of ``key_col`` plus the KMV cardinality estimate (exact
    count when the sketch is not full — fewer than k distinct hashes
    means every one is in hand). Scale shape: the hash is a per-row
    fold; DISTINCT is one partial-agg shuffle keyed on the hash
    (bounded by the true cardinality, not the row count); the bottom-k
    is TakeOrdered (per-partition top-k then a k-sized merge, no global
    sort); the estimate is an agg over k rows cross-joined back as a
    broadcast scalar."""
    return kmv_estimate(
        kmv_bottom_k(df.select(kmv_hash(key_col).alias("h")), k), k
    )


def _q_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wing_binlog_go_spark.tables import read_table

    orders = read_table(spark, sf_dir, "orders")
    return kmv_distinct_sketch(orders, "o_custkey").orderBy("rnk")


def _kmv_oracle() -> str:
    k, b, seed, p = _KMV_K, _KMV_BASE, _KMV_SEED, _KMV_P
    return f"""
WITH s AS (
  SELECT CAST(o_custkey AS VARCHAR) AS s FROM orders
), h0 AS (
  SELECT list_reduce(list_prepend({seed}::BIGINT,
    list_transform(range(1, length(s) + 1), i -> ascii(s[i]))),
    (a, c) -> (a * {b} + c) % {p}) AS h
  FROM s
), h1 AS (
  SELECT (h * h + {_KMV_MIX1}) % {p} AS h FROM h0
), h AS MATERIALIZED (
  SELECT DISTINCT (h * h + {_KMV_MIX2}) % {p} AS h FROM h1
), sk AS MATERIALIZED (
  SELECT h, CAST(ROW_NUMBER() OVER (ORDER BY h) AS INTEGER) AS rnk
  FROM h ORDER BY h LIMIT {k}
), st AS (
  SELECT COUNT(*) AS n, MAX(h) AS hk FROM sk
)
SELECT rnk, h,
       ROUND(CASE WHEN n < {k} THEN CAST(n AS DOUBLE)
                  ELSE {float(k - 1)} * {float(p)} / hk END, 4) AS est_distinct
FROM sk, st
ORDER BY rnk
"""


QUERIES["q160_kmv_distinct"] = QuerySpec(_q_kmv, _kmv_oracle())


# ---------------------------------------------------------------------------
# Q-digest mergeable quantile sketch (q164) — quantiles join the family
# ---------------------------------------------------------------------------

# Shrivastava et al. 2004 ("Medians and Beyond"): counts on the dyadic
# tree over an integer universe [0, 2^bits); bottom-up, two children
# and their parent collapse into the parent whenever their combined
# count fits under floor(n/k). Rank error ≤ bits/k of n. The family's
# fourth member (CMS = frequency, MG = heavy items, KMV = cardinality,
# Q-digest = quantiles) and, unlike GK/KLL/t-digest, DETERMINISTIC and
# ORDER-FREE: the digest is a pure function of the value MULTISET
# (merge decisions read only per-parent counts), so the whole sketch
# TABLE is cross-engine hash-checkable and distributed shuffle order
# cannot change the answer. Merge = add count tables + recompress —
# closure the streaming store leans on.
_QD_BITS = 10
_QD_K = 64


def _qd_level(node_id):
    """Tree depth of a heap id as a branch-free integer CASE — no
    float log2 (log2(2^d) landing at d−1e-16 would mislabel a whole
    level)."""
    c = F
    expr = F.lit(0)
    for d in range(_QD_BITS, 0, -1):
        expr = c.when(F.col(node_id) >= (1 << d), d) if d == _QD_BITS else expr.when(
            F.col(node_id) >= (1 << d), d
        )
    return expr.otherwise(0)


def qdigest_compress(
    nodes: DataFrame,
    bits: int = _QD_BITS,
    k: int = _QD_K,
    group_col: "str | None" = None,
) -> DataFrame:
    """Compress an (id, cnt) dyadic-tree count table into a Q-digest:
    for each depth bottom-up, a parent family (left child + right
    child + parent) whose total fits under floor(n/k) collapses into
    the parent. Works on raw leaf counts (build) and on a union of
    digests (merge) alike. Each level is one window pass over a frame
    bounded by the DIGEST size (≤ distinct values): the level's nodes
    are keyed by their parent id and every other node by its own id,
    so a family shares one window partition and needs no join. A
    lineage cut per level — ``bits`` bounded driver iterations, the
    documented bounded-iteration class (BPE/GD/PageRank).

    With ``group_col`` one INDEPENDENT digest per group value is
    maintained in the same frames ("p99 per event type over 100 TB in
    one pass"): the merge threshold is per-group floor(n_g/k), carried
    as a column rather than a collected scalar (merges conserve counts,
    so it is the same at every level), and every per-level key gains
    the group — same level count, same job count, regardless of how
    many groups ride along."""
    grp = group_col or "_g"
    if group_col is None:
        nodes = nodes.withColumn("_g", F.lit(0))
    cols = nodes.columns
    nodes = nodes.withColumn(
        "_t", F.floor(F.sum("cnt").over(Window.partitionBy(grp)) / k).cast("long")
    )
    fam = Window.partitionBy(grp, "_key")
    for depth in range(bits, 0, -1):
        lo, hi = 1 << depth, 1 << (depth + 1)
        child = (F.col("id") >= lo) & (F.col("id") < hi)
        keyed = nodes.withColumn("_child", child).withColumn(
            "_key",
            F.when(child, F.floor(F.col("id") / 2).cast("long")).otherwise(
                F.col("id")
            ),
        )
        keyed = keyed.select(
            "*",
            F.sum("cnt").over(fam).alias("_newcnt"),
            F.count(F.when(F.col("_child"), 1)).over(fam).alias("_nchild"),
            F.count(F.when(~F.col("_child"), 1)).over(fam).alias("_nparent"),
            F.min(F.when(F.col("_child"), F.col("id"))).over(fam).alias("_first"),
        )
        merge = (F.col("_nchild") > 0) & (F.col("_newcnt") <= F.col("_t"))
        # a merged family leaves one row: the parent's own row if it
        # has one, else its first child's, re-keyed to the parent
        keep = (
            ~F.col("_child")
            | ~merge
            | ((F.col("_nparent") == 0) & (F.col("id") == F.col("_first")))
        )
        out = {
            "id": F.when(merge, F.col("_key")).otherwise(F.col("id")),
            "cnt": F.when(merge, F.col("_newcnt")).otherwise(F.col("cnt")),
        }
        nodes = (
            keyed.filter(keep)
            .select(*[out[c].alias(c) if c in out else c for c in cols], "_t")
            # the frame is UNIVERSE-bounded (≤ #groups · 2^(bits+1)
            # node ids, no matter how many raw rows fed the leaves), so
            # collapsing it to one partition is safe by design — without
            # it each level's checkpoint materializes hundreds of
            # near-empty shuffle partitions
            .coalesce(1)
            .localCheckpoint(eager=True)  # bits levels of lineage
        )
    nodes = nodes.drop("_t")
    return nodes.drop("_g") if group_col is None else nodes


def qdigest_build(
    df: DataFrame,
    value_col: str,
    bits: int = _QD_BITS,
    k: int = _QD_K,
    group_col: "str | None" = None,
) -> DataFrame:
    """([group,] id, lo, hi, cnt): the Q-digest of an integer column
    clamped into [0, 2^bits) — one partial-agg groupBy over the data
    (the only pass that sees raw rows), then the count-table compress.
    With ``group_col``, one independent digest per group in the same
    pass (see :func:`qdigest_compress`)."""
    cap = (1 << bits) - 1
    node = (
        F.least(F.greatest(F.col(value_col).cast("long"), F.lit(0)), F.lit(cap))
        + F.lit(1 << bits)
    ).alias("id")
    gcols = [group_col] if group_col else []
    leaves = (
        df.select(*gcols, node)
        .groupBy(*gcols, "id")
        .agg(F.count("*").alias("cnt"))
    )
    digest = qdigest_compress(leaves, bits, k, group_col=group_col)
    level = _qd_level("id")
    span = F.pow(F.lit(2.0), F.lit(bits) - level).cast("long")
    lo = (F.col("id") - F.pow(F.lit(2.0), level).cast("long")) * span
    return digest.select(
        *gcols,
        "id",
        lo.alias("lo"),
        (lo + span - 1).alias("hi"),
        "cnt",
    )


def qdigest_quantiles(
    digest: DataFrame, quantiles_permille: "list[int]"
) -> DataFrame:
    """([group,] q_permille, est): for each requested quantile, the
    smallest node right-endpoint whose post-order cumulative count
    reaches ceil(q·n) — integer targets via permille arithmetic, so no
    float enters the rank logic at all. The cumsum window orders
    ≤digest-size rows per group (bounded by design, like the KMV rnk
    window). Pass ``group_col`` for a grouped digest."""
    return _qdigest_quantiles_impl(digest, quantiles_permille, None)


def _qdigest_quantiles_impl(
    digest: DataFrame,
    quantiles_permille: "list[int]",
    group_col: "str | None",
) -> DataFrame:
    gcols = [group_col] if group_col else []
    w = Window.partitionBy(*gcols).orderBy("hi", (F.col("hi") - F.col("lo")))
    ranked = digest.withColumn("cum", F.sum("cnt").over(w))
    total = digest.groupBy(*gcols).agg(F.sum("cnt").alias("n"))
    qs = ranked.sparkSession.createDataFrame(
        [(int(q),) for q in quantiles_permille], "q_permille long"
    )
    grid = total.crossJoin(F.broadcast(qs)).withColumn(
        "target", F.floor((F.col("q_permille") * F.col("n") + 999) / 1000)
    )
    # disambiguate the group columns before the self-ish join
    for g in gcols:
        grid = grid.withColumnRenamed(g, f"_grid_{g}")
    cond = ranked["cum"] >= grid["target"]
    for g in gcols:
        cond = cond & (ranked[g] == grid[f"_grid_{g}"])
    # the grid is #groups·#quantiles rows — broadcast it so the probe
    # is the bounded-build-side nested-loop class, never a cartesian
    joined = ranked.join(F.broadcast(grid), cond)
    out = joined.groupBy(
        *[f"_grid_{g}" for g in gcols], "q_permille"
    ).agg(F.min("hi").alias("est"))
    for g in gcols:
        out = out.withColumnRenamed(f"_grid_{g}", g)
    return out


def qdigest_quantiles_by_group(
    digest: DataFrame, quantiles_permille: "list[int]", group_col: str
) -> DataFrame:
    """Per-group quantiles off a grouped digest — one pass, bounded
    state per group (the "p99 per event type" shape)."""
    return _qdigest_quantiles_impl(digest, quantiles_permille, group_col)


def _q_qdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wing_binlog_go_spark.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    return qdigest_build(docs, "n_chars").orderBy("id")


def _q_qdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wing_binlog_go_spark.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    return qdigest_quantiles(
        qdigest_build(docs, "n_chars"), [10, 250, 500, 750, 900, 990]
    ).orderBy("q_permille")


def _qd_sql_level_case() -> str:
    whens = " ".join(
        f"WHEN id >= {1 << d} THEN {d}" for d in range(_QD_BITS, 0, -1)
    )
    return f"CASE {whens} ELSE 0 END"


def _qdigest_cte(bits: int = _QD_BITS, k: int = _QD_K) -> str:
    """The shared build: leaf counts + one CTE pair per depth, ending
    in ``digest`` with (id, lo, hi, cnt)."""
    cap = (1 << bits) - 1
    parts = [f"""
WITH l{bits} AS MATERIALIZED (
  SELECT CAST(least(greatest(n_chars, 0), {cap}) + {1 << bits} AS BIGINT) AS id,
         COUNT(*)::BIGINT AS cnt
  FROM documents GROUP BY 1
), tot AS MATERIALIZED (
  SELECT SUM(cnt) // {k} AS t FROM l{bits}
)"""]
    for d in range(bits, 0, -1):
        lo, hi = 1 << d, 1 << (d + 1)
        parts.append(f""", dec{d} AS MATERIALIZED (
  SELECT f.pid, f.csum + COALESCE(p.cnt, 0) AS newcnt
  FROM (SELECT id // 2 AS pid, CAST(SUM(cnt) AS BIGINT) AS csum
        FROM l{d} WHERE id >= {lo} AND id < {hi} GROUP BY 1) f
  LEFT JOIN l{d} p ON p.id = f.pid
  WHERE f.csum + COALESCE(p.cnt, 0) <= (SELECT t FROM tot)
), l{d - 1} AS MATERIALIZED (
  SELECT id, cnt FROM l{d}
  WHERE NOT (id >= {lo} AND id < {hi})
    AND id NOT IN (SELECT pid FROM dec{d})
  UNION ALL
  SELECT id, cnt FROM l{d}
  WHERE id >= {lo} AND id < {hi}
    AND id // 2 NOT IN (SELECT pid FROM dec{d})
  UNION ALL
  SELECT pid AS id, newcnt AS cnt FROM dec{d}
)""")
    parts.append(f""", digest AS MATERIALIZED (
  SELECT id,
         (id - CAST(pow(2, {_qd_sql_level_case()}) AS BIGINT))
           * CAST(pow(2, {bits} - {_qd_sql_level_case()}) AS BIGINT) AS lo,
         (id - CAST(pow(2, {_qd_sql_level_case()}) AS BIGINT) + 1)
           * CAST(pow(2, {bits} - {_qd_sql_level_case()}) AS BIGINT) - 1 AS hi,
         cnt
  FROM l0
)""")
    return "".join(parts)


def _qdigest_oracle() -> str:
    return _qdigest_cte() + """
SELECT id, lo, hi, cnt FROM digest ORDER BY id
"""


def _qdigest_quantiles_oracle() -> str:
    return _qdigest_cte() + """, ranked AS MATERIALIZED (
  SELECT hi, SUM(cnt) OVER (ORDER BY hi, hi - lo
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM digest
), n AS (SELECT SUM(cnt) AS n FROM digest),
qs AS (SELECT unnest([10, 250, 500, 750, 900, 990]) AS q_permille)
SELECT q_permille, MIN(hi) AS est
FROM qs CROSS JOIN n JOIN ranked ON ranked.cum >= (q_permille * n.n + 999) // 1000
GROUP BY q_permille
ORDER BY q_permille
"""


QUERIES["q164_qdigest"] = QuerySpec(_q_qdigest, _qdigest_oracle())
QUERIES["q164b_qdigest_quantiles"] = QuerySpec(
    _q_qdigest_quantiles, _qdigest_quantiles_oracle()
)


def _q_qdigest_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wing_binlog_go_spark.tables import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.floor("value").cast("long").alias("v")
    )
    return qdigest_build(ev, "v", group_col="event_type").orderBy(
        "event_type", "id"
    )


def _q_qdigest_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wing_binlog_go_spark.tables import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", F.floor("value").cast("long").alias("v")
    )
    return qdigest_quantiles_by_group(
        qdigest_build(ev, "v", group_col="event_type"),
        [500, 900, 990],
        "event_type",
    ).orderBy("event_type", "q_permille")


def _qdigest_grouped_cte(bits: int = _QD_BITS, k: int = _QD_K) -> str:
    """The grouped build: one digest per event_type, same per-level CTE
    unroll as :func:`_qdigest_cte` with the group riding every key
    (anti-membership via NOT EXISTS — composite-key NOT IN is the
    null-trap form)."""
    cap = (1 << bits) - 1
    parts = [f"""
WITH l{bits} AS MATERIALIZED (
  SELECT event_type AS g,
         CAST(least(greatest(CAST(floor(value) AS BIGINT), 0), {cap})
              + {1 << bits} AS BIGINT) AS id,
         COUNT(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2
), tot AS MATERIALIZED (
  SELECT g, SUM(cnt) // {k} AS t FROM l{bits} GROUP BY g
)"""]
    for d in range(bits, 0, -1):
        lo, hi = 1 << d, 1 << (d + 1)
        parts.append(f""", dec{d} AS MATERIALIZED (
  SELECT f.g, f.pid, f.csum + COALESCE(p.cnt, 0) AS newcnt
  FROM (SELECT g, id // 2 AS pid, CAST(SUM(cnt) AS BIGINT) AS csum
        FROM l{d} WHERE id >= {lo} AND id < {hi} GROUP BY 1, 2) f
  LEFT JOIN l{d} p ON p.g = f.g AND p.id = f.pid
  JOIN tot ON tot.g = f.g
  WHERE f.csum + COALESCE(p.cnt, 0) <= tot.t
), l{d - 1} AS MATERIALIZED (
  SELECT g, id, cnt FROM l{d} x
  WHERE NOT (id >= {lo} AND id < {hi})
    AND NOT EXISTS (SELECT 1 FROM dec{d} m
                    WHERE m.g = x.g AND m.pid = x.id)
  UNION ALL
  SELECT g, id, cnt FROM l{d} x
  WHERE id >= {lo} AND id < {hi}
    AND NOT EXISTS (SELECT 1 FROM dec{d} m
                    WHERE m.g = x.g AND m.pid = x.id // 2)
  UNION ALL
  SELECT g, pid AS id, newcnt AS cnt FROM dec{d}
)""")
    parts.append(f""", digest AS MATERIALIZED (
  SELECT g AS event_type, id,
         (id - CAST(pow(2, {_qd_sql_level_case()}) AS BIGINT))
           * CAST(pow(2, {bits} - {_qd_sql_level_case()}) AS BIGINT) AS lo,
         (id - CAST(pow(2, {_qd_sql_level_case()}) AS BIGINT) + 1)
           * CAST(pow(2, {bits} - {_qd_sql_level_case()}) AS BIGINT) - 1 AS hi,
         cnt
  FROM l0
)""")
    return "".join(parts)


def _qdigest_grouped_oracle() -> str:
    return _qdigest_grouped_cte() + """
SELECT event_type, id, lo, hi, cnt FROM digest ORDER BY event_type, id
"""


def _qdigest_grouped_quantiles_oracle() -> str:
    return _qdigest_grouped_cte() + """, ranked AS MATERIALIZED (
  SELECT event_type, hi,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY hi, hi - lo
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM digest
), n AS (SELECT event_type, SUM(cnt) AS n FROM digest GROUP BY event_type),
qs AS (SELECT unnest([500, 900, 990]) AS q_permille)
SELECT n.event_type, q_permille, MIN(hi) AS est
FROM n CROSS JOIN qs
JOIN ranked ON ranked.event_type = n.event_type
           AND ranked.cum >= (q_permille * n.n + 999) // 1000
GROUP BY n.event_type, q_permille
ORDER BY n.event_type, q_permille
"""


QUERIES["q165_qdigest_by_group"] = QuerySpec(
    _q_qdigest_grouped, _qdigest_grouped_oracle()
)
QUERIES["q165b_qdigest_group_quantiles"] = QuerySpec(
    _q_qdigest_grouped_quantiles, _qdigest_grouped_quantiles_oracle()
)


# ---------------------------------------------------------------------------
# KMV set operations (q166) — sketch-space corpus overlap audit
# ---------------------------------------------------------------------------


def kmv_set_ops(
    set_a: DataFrame, set_b: DataFrame, k: int = _KMV_K
) -> DataFrame:
    """One row (est_a, est_b, est_union, jacc_r, est_intersection):
    distinct-cardinality and overlap estimates for two key sets from
    their KMV sketches (Beyer et al. 2007): the union sketch is the
    bottom-k of the combined hashes (closure under union), the Jaccard
    estimate is the fraction of the union's bottom-k present in BOTH
    sets, and |A∩B| ≈ J·|A∪B|. The corpus-overlap audit a mixing
    pipeline runs before weighting two sources — "how much of B's
    vocabulary is already in A" — without ever joining the raw sets;
    std error ~ sqrt(J(1−J)/k) on J. Inputs are single-column frames
    of keys; all hashes share the q160 mixed family so the whole row
    is cross-engine checkable."""
    ha = set_a.select(
        kmv_hash(set_a.columns[0]).alias("h")
    ).distinct().localCheckpoint(eager=True)  # membership-probed twice
    hb = set_b.select(
        kmv_hash(set_b.columns[0]).alias("h")
    ).distinct().localCheckpoint(eager=True)
    union_k = kmv_bottom_k(ha.unionByName(hb), k)
    est_u = kmv_estimate(union_k, k).select(
        F.col("est_distinct").alias("est_union")
    ).distinct()
    est_a = kmv_estimate(kmv_bottom_k(ha, k), k).select(
        F.col("est_distinct").alias("est_a")
    ).distinct()
    est_b = kmv_estimate(kmv_bottom_k(hb, k), k).select(
        F.col("est_distinct").alias("est_b")
    ).distinct()
    both = (
        union_k.join(ha, "h", "left_semi")
        .join(hb, "h", "left_semi")
        .agg(F.count("*").alias("n_both"))
    )
    n_union = union_k.agg(F.count("*").alias("n_k"))
    jacc = (
        both.crossJoin(F.broadcast(n_union))
        .select((F.col("n_both") / F.col("n_k")).alias("jacc"))
    )
    return (
        est_a.crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(est_u))
        .crossJoin(F.broadcast(jacc))
        .select(
            F.round("est_a", 4).alias("est_a"),
            F.round("est_b", 4).alias("est_b"),
            F.round("est_union", 4).alias("est_union"),
            F.round("jacc", 6).alias("jacc_r"),
            F.round(F.col("jacc") * F.col("est_union"), 4).alias(
                "est_intersection"
            ),
        )
    )


def _q_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wing_binlog_go_spark.operators.dedup import word_shingles
    from wing_binlog_go_spark.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    grp_a = [f"src{i}" for i in range(5)]
    grp_b = [f"src{i}" for i in range(5, 10)]

    def shingle_set(srcs):
        return (
            docs.filter(F.col("source").isin(srcs))
            .select(F.explode(word_shingles("text", 3)).alias("s"))
            .filter(F.length("s") > 0)
        )

    return kmv_set_ops(shingle_set(grp_a), shingle_set(grp_b))


def _kmv_set_ops_oracle() -> str:
    k, b, seed, p = _KMV_K, _KMV_BASE, _KMV_SEED, _KMV_P
    sh = """CASE WHEN len(t) >= 3
            THEN list_transform(range(1, len(t) - 1),
                                i -> array_to_string(t[i:i+2], ' '))
            ELSE [array_to_string(t, ' ')] END"""
    mix = (
        f"list_reduce(list_prepend({seed}::BIGINT,"
        f" list_transform(range(1, length(s) + 1), i -> ascii(s[i]))),"
        f" (a, c) -> (a * {b} + c) % {p})"
    )
    return f"""
WITH d AS (
  SELECT source, string_split(lower(text), ' ') AS t FROM documents
), sh AS MATERIALIZED (
  SELECT source, unnest({sh}) AS s FROM d
), ha AS MATERIALIZED (
  SELECT DISTINCT (h1 * h1 + {_KMV_MIX2}) % {p} AS h FROM (
    SELECT (h0 * h0 + {_KMV_MIX1}) % {p} AS h1 FROM (
      SELECT {mix} AS h0 FROM sh
      WHERE source IN ('src0','src1','src2','src3','src4') AND length(s) > 0))
), hb AS MATERIALIZED (
  SELECT DISTINCT (h1 * h1 + {_KMV_MIX2}) % {p} AS h FROM (
    SELECT (h0 * h0 + {_KMV_MIX1}) % {p} AS h1 FROM (
      SELECT {mix} AS h0 FROM sh
      WHERE source IN ('src5','src6','src7','src8','src9') AND length(s) > 0))
), uk AS MATERIALIZED (
  SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb) ORDER BY h LIMIT {k}
), ak AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
bk AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
est AS (
  SELECT
    (SELECT CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
                 ELSE {float(k - 1)} * {float(p)} / MAX(h) END FROM ak) AS est_a,
    (SELECT CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
                 ELSE {float(k - 1)} * {float(p)} / MAX(h) END FROM bk) AS est_b,
    (SELECT CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
                 ELSE {float(k - 1)} * {float(p)} / MAX(h) END FROM uk) AS est_union,
    (SELECT CAST(COUNT(*) AS DOUBLE) FROM uk
     WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb))
      / (SELECT COUNT(*) FROM uk) AS jacc
)
SELECT ROUND(est_a, 4) AS est_a, ROUND(est_b, 4) AS est_b,
       ROUND(est_union, 4) AS est_union, ROUND(jacc, 6) AS jacc_r,
       ROUND(jacc * est_union, 4) AS est_intersection
FROM est
"""


QUERIES["q166_kmv_set_ops"] = QuerySpec(_q_kmv_set_ops, _kmv_set_ops_oracle())
