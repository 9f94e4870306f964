"""Deduplication operators over the ``documents`` table.

Training-data-pipeline dedup family (driver north star), expressed with
JVM-side built-ins — no row-at-a-time Python UDFs anywhere — so every
stage scales by partitioning (the blocked-GEMM candidate path for
degenerate-vocabulary weighted APSS is the one documented
Arrow-vectorized exception, guide §4.2):

- exact dedup            → hash groupBy (also plans/relational q36)
- MinHash + LSH near-dup → shingle → minhash signature → band → bucket join
- SimHash near-dup       → 64-bit token-hash sign aggregate → chunk join
- n-gram Jaccard         → inverted shingle index self-join (exact, oracled)

Scale design (100 TB): the only shuffles are (a) groupBy(doc_id) to build
signatures — combiner-friendly min/sum aggregates, map-side partial — and
(b) the band/chunk bucket self-join, whose fan-out is controlled by band
width (wider bands ⇒ fewer, higher-precision candidates). The all-pairs
exact-Jaccard join is bounded by an inverted-index equi-join on shingle,
never a cross join. Hash family = xxhash64(seed_i, value) — deterministic
across runs/executors, no RNG state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wing_binlog_go_spark.plans.relational import QuerySpec
from wing_binlog_go_spark.tables import read_table

QUERIES: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# building blocks
# ---------------------------------------------------------------------------
#
# r13 note on construction style: the hot builders below are emitted as
# single SQL strings through one F.expr call instead of composed Column
# objects. The two forms analyze to the same expression tree (asserted
# bit-identical in tests), but the Column API pays one py4j round trip
# per operator node — measured 150–260 ms to construct one 16-term
# _sig_agree vs ~1 ms for the parsed string (the JVM parser is
# microseconds per node). Query CONSTRUCTION is driver wall-clock on
# every build, so this is the same cost class as the r12 relation
# cache: overhead before the first task can launch.


def _name_sql(col) -> "str | None":
    """SQL fragment for a column argument: the raw name when it is a
    string (raw, not backtick-quoted, so dotted alias paths like
    ``a.mh`` keep F.col's multipart-name semantics), None for Column
    objects — callers then fall back to the Column-API builder."""
    return col if isinstance(col, str) else None


def tokens(col) -> F.Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), " ")


def _spread_if_narrow(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a compute-heavy input to full parallelism ONLY when
    its scan is narrower than half the cores (guide §2.5: one huge
    unsplittable file — repartition immediately after the read).

    The corpus tables are single-row-group parquet files, so every
    per-row-expensive map stage (shingling, signature hashing) otherwise
    runs on ONE core regardless of the cluster.  The check is
    scale-adaptive, not a local constant: a well-laid-out 100 TB input
    already has thousands of splits and takes the no-op branch — the
    shuffle is only paid where it buys parallelism.  Hash-partitioned on
    ``key_cols`` (deterministic, no round-robin pre-sort; see
    SPARK-38388 note in the optimization guide §2.5)."""
    sc = df.sparkSession.sparkContext
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:
        return df
    target = sc.defaultParallelism
    if nparts * 2 > target:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)


def _word_shingles_hof(col, k: int = 3) -> F.Column:
    """Reference shingle builder via higher-order functions.

    Correct for ANY text (empty tokens from doubled/leading/trailing
    spaces included), but HOFs are CodegenFallback — interpreted
    expression-tree walking per element — which profiling showed is ~90%
    of minhash-dedup wall time. Kept as the exact-semantics fallback for
    the rows where the regex fast path below would disagree."""
    toks = tokens(col)
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )


def _ngrams_sql(name: str, k: int, distinct: bool) -> str:
    """SQL-string twin of ``word_shingles`` (distinct=True) /
    ``word_ngrams_all`` (distinct=False) for a plain column name: same
    CASE structure, same patterns, one parser call instead of ~25 py4j
    round trips (see the r13 construction note above)."""
    low = f"lower({name})"
    toks = f"split({low}, ' ')"
    pat = r"(?:^|[ ])(?=(" + " ".join([r"[^ ]+"] * k) + r"))"
    fast = f"regexp_extract_all({low}, '{pat}', 1)"
    hof = (
        f"transform(sequence(1, greatest(size({toks}) - {k - 1}, 1)), "
        f"i -> concat_ws(' ', slice({toks}, i, {k})))"
    )
    if distinct:
        fast = f"array_distinct({fast})"
        hof = f"array_distinct({hof})"
    return (
        f"CASE WHEN size({toks}) < {k} THEN array({low}) "
        f"WHEN {low} RLIKE '(^ )|( $)|(  )' THEN {hof} "
        f"ELSE {fast} END"
    )


def word_ngrams_all(col, k: int = 2) -> F.Column:
    """ALL overlapping k-word n-grams, repeats included (the multiset —
    unlike ``word_shingles`` which deduplicates); docs shorter than k
    collapse to one n-gram of the remaining tokens.

    Same regex fast path / HOF fallback split as ``word_shingles``:
    occurrence counts are what repetition statistics aggregate, and the
    lookahead yields every overlapping occurrence in one codegen pass.
    """
    name = _name_sql(col)
    if name is not None:
        return F.expr(_ngrams_sql(name, k, distinct=False))
    c = col
    low = F.lower(c)
    toks = tokens(col)
    pat = r"(?:^|[ ])(?=(" + " ".join([r"[^ ]+"] * k) + r"))"
    fast = F.regexp_extract_all(low, F.lit(pat), 1)
    hof = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    return (
        F.when(F.size(toks) < k, F.array(low))
        .when(low.rlike("(^ )|( $)|(  )"), hof)
        .otherwise(fast)
    )


def word_shingles(col, k: int = 3) -> F.Column:
    """Distinct k-word shingles; docs shorter than k collapse to one shingle.

    Fast path: one pass of the JVM regex engine — ``(?:^|[ ])`` consumes
    each token boundary (zero-width ^ bump-along skips mid-token starts)
    and a lookahead captures the k tokens from there, yielding the same
    overlapping shingles as the slice-based builder at ~5× less CPU
    (regexp_extract_all is codegen; transform/slice/concat_ws are not).
    Texts where split-tokenization and ``[^ ]+`` disagree — empty tokens
    from leading/trailing/doubled spaces — take the exact HOF fallback
    per row, so semantics are identical for every input, not just
    single-spaced corpora."""
    name = _name_sql(col)
    if name is not None:
        return F.expr(_ngrams_sql(name, k, distinct=True))
    c = col
    low = F.lower(c)
    toks = tokens(col)
    pat = r"(?:^|[ ])(?=(" + " ".join([r"[^ ]+"] * k) + r"))"
    fast = F.array_distinct(F.regexp_extract_all(low, F.lit(pat), 1))
    return (
        F.when(F.size(toks) < k, F.array(low))
        .when(low.rlike("(^ )|( $)|(  )"), _word_shingles_hof(col, k))
        .otherwise(fast)
    )


def _sig_agree(left, right, n: int) -> F.Column:
    """Count of positions where two n-long signature arrays agree.

    Unrolled per-index equality sum instead of the
    ``size(filter(zip_with(a, b, eq)))`` form: higher-order functions
    are CodegenFallback — the interpreter allocates a boolean array and
    a filtered copy PER PAIR — while GetArrayItem + equality + integer
    add are whole-stage-codegen.  This expression runs once per
    band-COLLIDING pair, the hot row count of every LSH dedup at scale.
    Micro A/B at 5M pairs × 16 hashes (tools/ab_agree_micro.py, r12):
    net expression cost 2.40 s HOF vs 0.31 s unrolled (~7.7×); on the
    real q37 band join the outputs are row-identical (symmetric diff 0).
    Value is bit-identical: the same integer count — signature builders
    never produce element-level NULLs, and a whole-NULL array yields
    NULL under both forms.  (The same unrolling LOSES for the 64-dim
    double dot product — see ``similarity.dot`` — so it is applied only
    to these short equality counts.)
    """
    ln, rn = _name_sql(left), _name_sql(right)
    if ln is not None and rn is not None:
        # one parser call; the Column-API loop below costs ~60 py4j
        # round trips (~150 ms measured) to build the same tree
        return F.expr(
            " + ".join(f"CAST(({ln}[{i}] = {rn}[{i}]) AS INT)" for i in range(n))
        )
    l = F.col(left) if isinstance(left, str) else left
    r = F.col(right) if isinstance(right, str) else right
    out = (l[0] == r[0]).cast("int")
    for i in range(1, n):
        out = out + (l[i] == r[i]).cast("int")
    return out


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """(id, mh: array<long>[num_hashes]) — computed per-row, ZERO shuffle.

    Each minhash is a fold over the row's own shingle array, so signature
    building is a pure map stage: embarrassingly parallel, no explode, no
    groupBy. The only shuffles in the whole dedup pipeline are the band
    bucket join and the final verify joins. Signature is one array column
    so shuffled rows stay narrow. Callers reading single-file inputs
    should ``_spread_if_narrow`` first — the map stage parallelizes
    perfectly but cannot outrun its input partitioning.
    """
    # ONE fold over the shingle-hash array, updating all num_hashes mins
    # per element with zip_with. Loop order matters: putting the shingle
    # array inside the per-hash lambda (the "obvious" nesting) makes the
    # interpreter rebuild+rehash every shingle num_hashes times per row —
    # higher-order functions are CodegenFallback, so nothing saves you.
    # As the outer fold's child, the shingle hashing runs exactly once.
    # Hash family: mh[i] = min over shingles s of xxhash64(i, xxhash64(s)).
    #
    # r12 optimization note (negative result, kept for the record): a
    # bit-exact Arrow/numpy twin of this fold (vectorized XXH64 lattice)
    # measured 0.77 s vs 1.27 s single-core at sf0.1 — but once the input
    # is spread to full parallelism the JVM fold wins (0.42 s vs 0.65 s:
    # 32 python workers cost more than the interpreter), so the
    # expression form stays and the fix is input partitioning, not a
    # Python kernel.
    # Emitted as ONE SQL string (r13): the nested lambda chain via the
    # Column API costs ~40 py4j round trips per build; the parsed string
    # analyzes to the identical fold (bit-identity asserted in
    # test_dedup_similarity).
    # r13 negative result (tools/ab_sig_folds.py `minhash`): swapping the
    # zip_with/sequence fold state for a named_struct of 16 fields (the
    # trick that wins for simhash) measured ~17% SLOWER (0.70 → 0.82 s
    # net at 200k docs × 48 shingles) — here the 16 xxhash64 calls per
    # shingle dominate and the struct row alloc costs more than the
    # array machinery it removes. The fold is at its interpreter floor.
    mh = F.expr(
        f"aggregate(transform({_ngrams_sql(text_col, k, distinct=True)}, "
        f"s -> xxhash64(s)), "
        f"array_repeat({2**63 - 1}L, {num_hashes}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {num_hashes - 1}), "
        f"(a, i) -> least(a, xxhash64(i, h))))"
    )
    return df.select(id_col, mh.alias("mh"))


def persist_minhash_signatures(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> None:
    """Signature store: compute signatures ONCE and write them as parquet.

    Signatures are pure functions of document content, so a pipeline that
    dedups repeatedly (every ingest batch, every corpus release) should
    amortize the signature scan instead of re-reading the full text
    corpus each run — at 100 TB the text scan dominates; the signature
    table is ~1000× smaller (num_hashes longs per doc).
    """
    minhash_signature(df, id_col, text_col, num_hashes, shingle_k).write.mode(
        "overwrite"
    ).parquet(path)


def load_minhash_signatures(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def incremental_dedup_apply(
    spark: SparkSession,
    new_docs: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.8,
    payload_cols: "list[str] | None" = None,
    collect_stats: bool = True,
) -> "tuple[DataFrame, dict]":
    """Dedupe an ingest increment against the ENTIRE corpus history
    without rescanning it — the daily-crawl workflow: each new batch's
    signatures band-join the persisted signature store (history is read
    as signatures only, ~1000× smaller than its text), batch-internal
    near-dups collapse to the min-id survivor, and survivors' signatures
    append to the store for the next increment.

    Replay-safe by id: incoming rows whose id already exists in the
    store are no-ops (not dups, not re-appended), so an at-least-once
    feed converges. The survivor rule drops any fresh doc that (a)
    near-matches history or (b) near-matches a smaller-id doc in the
    same batch — the same deterministic min-id rule as semantic_dedup
    (conservative on chains, stable under re-runs).

    Returns ``(survivor_docs, stats)`` where stats counts
    {batch, replayed, dup_vs_history, dup_in_batch, appended}.

    ``collect_stats=False`` is the streaming-cadence path: every stat
    except ``appended`` (which doubles as the append-or-not commit
    decision) is skipped and reported as None, the checkpoints turn
    lazy, and the whole call runs exactly TWO Spark jobs — the appended
    count and the store append — instead of five-plus count jobs of
    scheduler overhead per micro-batch (asserted by a job-counting
    test).

    ``payload_cols`` stores those columns of the survivors alongside
    their signatures, making the store itself the deduped corpus (read
    it back minus ``mh``); use the SAME payload_cols for a store's
    whole lifetime (parquet appends must agree on schema) — ONE append
    is then the only commit point,
    so a crash between "store updated" and "corpus sink updated" cannot
    exist: presence of an id in the store is the per-row commit, and a
    replay re-processes exactly the rows whose append did not land.

    Scale shape: signature build is a per-row fold over the INCREMENT
    only; the history probe is a band equi-join (never corpus×corpus);
    the store append is one parquet write of |survivors| rows. Nothing
    reads history text, ever.
    """
    import os

    from wing_binlog_go_spark.streaming.maintenance import recover_swap

    # heal a dedup_corpus_delete interrupted mid-swap before probing
    # (the store would otherwise read as brand-new and orphan history)
    recover_swap(store_dir)

    # in-batch id dedup: the anti-join only screens against HISTORY and
    # equal ids never pair under the smaller-id rule, so a duplicate
    # INSERT delivered twice inside one micro-batch (at-least-once CDC)
    # would append twice and permanently duplicate the store row — the
    # r8-advice kNN-store hole, closed across every incremental store
    new_docs = new_docs.dropDuplicates([id_col])

    new_sigs = minhash_signature(
        new_docs, id_col, text_col, num_hashes, shingle_k
    ).localCheckpoint(eager=collect_stats)
    if collect_stats:
        n_batch = new_sigs.count()
        stats = {"batch": n_batch, "replayed": 0, "dup_vs_history": 0,
                 "dup_in_batch": 0, "appended": 0}
    else:
        stats = {"batch": None, "replayed": None, "dup_vs_history": None,
                 "dup_in_batch": None, "appended": 0}

    hist = None
    if os.path.exists(store_dir):
        hist = spark.read.parquet(store_dir)
        fresh = new_sigs.join(
            hist.select(id_col), id_col, "left_anti"
        ).localCheckpoint(eager=collect_stats)
        if collect_stats:
            stats["replayed"] = n_batch - fresh.count()
    else:
        fresh = new_sigs

    dropped = None
    if hist is not None:
        nb = _band_buckets(fresh, id_col, num_hashes, bands).alias("a")
        hb = _band_buckets(hist, id_col, num_hashes, bands).alias("b")
        agree = _sig_agree("a.mh", "b.mh", num_hashes)
        dup_hist = (
            nb.join(
                hb,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bh") == F.col("b.bh")),
            )
            .select(F.col("a.doc").alias(id_col),
                    (agree / F.lit(num_hashes)).alias("_est"))
            # threshold before the per-id exchange: max(_est) ≥ t ⟺ some
            # row has _est ≥ t, and only the id survives downstream — so
            # dropping sub-threshold rows map-side is result-identical
            # (r13, guide §2.3; Catalyst can't push a predicate on a
            # max() output below its aggregate)
            .filter(F.col("_est") >= threshold)
            .groupBy(id_col)
            .agg(F.max("_est").alias("_est"))
            .select(id_col)
        )
        dropped = dup_hist
        if collect_stats:
            stats["dup_vs_history"] = dup_hist.count()
    # batch-internal near-dups: larger id of each qualifying pair goes
    pairs = minhash_dedup_pairs(
        None, id_col=id_col, num_hashes=num_hashes, bands=bands,
        threshold=threshold, signatures=fresh,
    )
    dup_batch = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    if collect_stats:
        stats["dup_in_batch"] = dup_batch.count()
    dropped = dup_batch if dropped is None else dropped.unionByName(dup_batch).distinct()

    survivors_sigs = fresh.join(dropped, id_col, "left_anti")
    survivors = new_docs.join(survivors_sigs.select(id_col), id_col, "left_semi")
    stats["appended"] = survivors_sigs.count()
    if stats["appended"]:
        to_store = survivors_sigs
        if payload_cols:
            to_store = survivors_sigs.join(
                new_docs.select(id_col, *payload_cols), id_col
            )
        to_store.write.mode("append").parquet(store_dir)
    return survivors, stats


def dedup_corpus_delete(
    spark: "SparkSession",
    store_dir: str,
    ids: "list | DataFrame",
    id_col: str = "doc_id",
) -> dict:
    """OFFLINE retraction for the MinHash corpus/signature store — the
    delete path ``dedup_corpus_writer`` refuses online: a dropped
    retraction leaves the doc's text in the curated corpus AND its
    signature suppressing future near-duplicates. The store is one flat
    parquet table, so retraction is one ``rewrite_dir`` minus the ids
    (``recover_swap`` first — an interrupted
    previous delete rolls forward; ``incremental_dedup_apply`` runs the
    same probe, so the stream self-heals too). Idempotent.

    Semantics honesty (same as ``semantic_corpus_delete``): removing a
    survivor does not resurrect the near-duplicates it suppressed — the
    store only ever kept survivors; re-admitting suppressed history
    means replaying the feed. Returns {"deleted_ids": n}."""
    from pyspark.sql import DataFrame as _DF

    from wing_binlog_go_spark.streaming.maintenance import (
        recover_swap,
        rewrite_dir,
    )

    recover_swap(store_dir)
    if isinstance(ids, _DF):
        ids_df = ids.select(F.col(ids.columns[0]).alias(id_col))
    else:
        ids_df = spark.createDataFrame(
            [(int(i),) for i in ids], f"{id_col} long"
        )
    store = spark.read.parquet(store_dir)
    n = (
        store.join(ids_df, id_col, "left_semi")
        .select(id_col).distinct().count()
    )
    if n == 0:
        return {"deleted_ids": 0}
    rewrite_dir(store_dir, store.join(ids_df, id_col, "left_anti"))
    spark.catalog.refreshByPath(store_dir)  # swap bypasses the listing cache
    return {"deleted_ids": n}


def _band_buckets(
    signatures: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, mh) → one row per LSH band: (doc, mh, band, bh). The band
    hash folds the band's minhash slice through xxhash64 so the join
    key is a scalar, not an array."""
    rows_per_band = num_hashes // bands
    arr = (
        "array("
        + ", ".join(
            f"xxhash64({b}, "
            + ", ".join(
                f"element_at(mh, {b * rows_per_band + i + 1})"
                for i in range(rows_per_band)
            )
            + ")"
            for b in range(bands)
        )
        + ")"
    )
    # Loud length guard (ADVICE r12): a persisted signature store built
    # with fewer hashes than num_hashes would read element_at out of
    # bounds as NULL, the agree sum would go NULL, and the dedup would
    # silently report ZERO duplicates. One size() comparison per row
    # (codegen, trivial next to the 8 xxhash64 calls) turns the
    # store/param mismatch into an error instead.
    band_hashes = F.expr(
        f"CASE WHEN size(mh) = {num_hashes} THEN {arr} "
        f"ELSE raise_error(format_string("
        f"'minhash signature length %d does not match num_hashes={num_hashes}'"
        f", size(mh))) END"
    )
    return signatures.select(
        F.col(id_col).alias("doc"),
        F.col("mh"),
        F.posexplode(band_hashes).alias("band", "bh"),
    )


def minhash_dedup_pairs(
    df: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    threshold: float = 0.5,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs (doc_a < doc_b) with estimated Jaccard ≥ threshold.

    Defaults: 16 hashes in 8 bands of 2 — band-collision probability
    1-(1-j²)^8 keeps recall ≥0.999 at j=0.8 while halving signature
    compute and plan-compile cost vs 32 hashes; the est_jaccard verify
    stage prunes the extra false candidates the narrower bands admit.

    ``signatures`` (from ``load_minhash_signatures``) skips the text scan
    entirely — the amortized path for recurring dedup runs.

    Plan shape: signatures are localCheckpointed (cuts the HOF expression
    tree out of the optimizer — CollapseProject would otherwise inline
    the signature fold into every band-hash reference, recomputing it
    ~32× per row, measured ~100×; and the band self-join would recompute
    the whole signature stage per side), then ONE band equi-join carries
    both mh arrays so est_jaccard needs no further joins: explode → join
    → agg is the entire shuffle footprint. (localCheckpoint is
    executor-local storage: with dynamic allocation use reliable
    checkpointing or the parquet signature store instead.)
    """
    if signatures is None:
        if df is None:
            raise ValueError("need a documents DataFrame or a signatures table")
        # single-row-group input ⇒ the signature map stage would run on
        # one core; spread first (no-op on well-partitioned input).
        # Measured r12 @ sf0.1 (noop, min of 5): signature stage
        # 1.27 s → 0.42 s.
        signatures = minhash_signature(
            _spread_if_narrow(df.select(id_col, text_col), id_col),
            id_col, text_col, num_hashes, shingle_k
        ).localCheckpoint(eager=True)
    buckets = _band_buckets(signatures, id_col, num_hashes, bands)
    a, b = buckets.alias("a"), buckets.alias("b")
    agree = _sig_agree("a.mh", "b.mh", num_hashes)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            (agree / F.lit(num_hashes)).alias("est_jaccard"),
        )
        # threshold BEFORE the dedupe exchange (r13, guide §2.3 "filter
        # before you shuffle"): every band-copy of a pair carries the
        # IDENTICAL estimate (computed from the same two signature
        # arrays), so filtering copies then deduping ≡ deduping then
        # filtering — but the sub-threshold false-positive candidates
        # (the majority of band collisions at low thresholds) now die
        # map-side instead of crossing the Exchange. Catalyst cannot do
        # this itself: est_jaccard is a first()-agg output, and
        # predicates on agg outputs don't push below the aggregate.
        .filter(F.col("est_jaccard") >= threshold)
        # pairs colliding in several bands appear once per band; the
        # estimate is identical on every copy → first() dedupes
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signature(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash: sign of per-bit sums of token hashes → (id, simhash).

    Pure per-row computation (no explode/groupBy → zero shuffle), written
    as ONE nested higher-order SQL expression so codegen compiles a single
    loop instead of 64 aggregate columns (compile time, not run time, is
    what 64 separate expressions cost).
    """
    # Same loop-order rule as minhash_signature: fold ONCE over token
    # hashes. The fold state is 16 SWAR longs, not 64 ±1 counters: each
    # long packs 4 × 16-bit lanes, lane k of acc[j] counting how many
    # token hashes have bit (j + 16k) set — per token the update is
    # 16 shift-and-adds instead of 64 branchy ±1 adds (4× less work,
    # no IF). The sign test is unchanged arithmetic: the old fold's sum
    # for bit b is cnt_b − (n − cnt_b), so sum > 0 ⟺ 2·cnt_b > n
    # exactly. aggregate()'s finish lambda binds the final counters once
    # per row and assembles the 64 sign bits. 16-bit lanes overflow at
    # 65536 distinct tokens per document — such rows (none exist in any
    # real corpus; a 64 KiB-vocabulary single doc) take the original
    # 64-wide fold via the size guard, so semantics are exact for every
    # input. Micro A/B (tools/ab_sig_folds.py, 200k docs × 64 tokens):
    # 3.56 s → 1.12 s net (~3.2×), bit-identical on corpus + edge rows.
    tok = df.select(
        id_col,
        F.expr(
            f"transform(array_distinct(split(lower({text_col}), ' ')), "
            "t -> xxhash64(t))"
        ).alias("_th"),
    )
    swar_mask = 0x0001000100010001
    swar = f"""
        aggregate(_th, array_repeat(cast(0 as long), 16),
          (acc, h) -> zip_with(acc, sequence(0, 15),
            (a, j) -> a + (shiftright(h, j) & {swar_mask})),
          acc -> aggregate(sequence(0, 63), cast(0 as long),
            (s, b) -> s | IF(2 * (shiftright(acc[b % 16], 16 * (b div 16))
                                  & 65535) > size(_th),
                             shiftleft(cast(1 as long), b),
                             cast(0 as long))))
    """
    wide64 = """
        aggregate(
          zip_with(
            aggregate(_th, array_repeat(0, 64),
                      (acc, h) -> zip_with(acc, sequence(0, 63),
                        (a, b) -> a + IF((shiftright(h, b) & 1) = 1, 1, -1))),
            sequence(0, 63),
            (s, b) -> IF(s > 0, shiftleft(cast(1 as long), b),
                         cast(0 as long))),
          cast(0 as long), (acc, x) -> acc | x)
    """
    sim = F.expr(
        f"CASE WHEN size(_th) < 65536 THEN {swar} ELSE {wide64} END"
    )
    return tok.select(F.col(id_col), sim.alias("simhash"))


def hamming_chunk_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    n_chunks: int = 4,
    out_a: str = "doc_a",
    out_b: str = "doc_b",
) -> DataFrame:
    """Pairs of 64-bit hashes within ``max_hamming`` bits (shared by
    SimHash text dedup and perceptual-hash media dedup).

    Candidate generation: split the hash into ``n_chunks`` equal chunks —
    any pair within hamming < n_chunks must agree on ≥1 chunk
    (pigeonhole: ensure max_hamming < n_chunks), so the self-join is an
    equi-join on (chunk_no, chunk_value), never O(n²).
    """
    if max_hamming >= n_chunks:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_chunks>{max_hamming} for the "
            "pigeonhole guarantee"
        )
    bits = 64 // n_chunks
    mask = (1 << bits) - 1
    chunks = F.expr(
        "array("
        + ", ".join(
            f"(shiftrightunsigned({hash_col}, {bits * c}) & {mask})"
            for c in range(n_chunks)
        )
        + ")"
    )
    b = sig.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        F.posexplode(chunks).alias("chunk_no", "chunk"),
    )
    lhs, rhs = b.alias("a"), b.alias("b")
    cand = (
        lhs.join(
            rhs,
            (F.col("a.chunk_no") == F.col("b.chunk_no"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias(out_a),
            F.col("b._id").alias(out_b),
            F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h"))).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs within ``max_hamming`` bits via the chunked pigeonhole join."""
    # localCheckpoint cuts the HOF signature fold out of the optimizer
    # (same reasoning as minhash_dedup_pairs): the chunk expressions and
    # the self-join's two sides otherwise each re-derive the signature
    # stage (measured ~1.6× on the headline corpus).
    sig = simhash_signature(
        _spread_if_narrow(df.select(id_col, text_col), id_col), id_col, text_col
    ).localCheckpoint(eager=True)
    return hamming_chunk_pairs(sig, id_col, "simhash", max_hamming)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard via inverted index (oracle-able)
# ---------------------------------------------------------------------------


def _widen_for_verify(pairs: DataFrame, *key_cols: str) -> DataFrame:
    """Re-spread a candidate-pair frame before a per-row-expensive
    verify join.

    AQE coalesces shuffle output by BYTES, and a candidate-pair row is
    a few longs — so on a duplicate-heavy corpus the distinct() shuffle
    can collapse millions of candidates into one or two partitions
    while the verify cost (array_intersect over the full element sets,
    weighted-overlap folds) is per ROW. Measured: q117's entire verify
    stage ran on a single core for 20+ minutes at the synthetic sf1
    corpus (10 near-copies per doc) because the pair frame coalesced to
    2 partitions; the same query finishes in seconds once spread. An
    explicit numbered repartition is exempt from AQE coalescing, so
    verify parallelism tracks the candidate count; the extra shuffle
    moves only (id, id) rows — noise next to the verify it unlocks."""
    sc = pairs.sparkSession.sparkContext
    return pairs.repartition(sc.defaultParallelism, *key_cols)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.1,
) -> DataFrame:
    """Exact Jaccard over k-word shingles for pairs sharing ≥1 shingle."""
    # localCheckpoint: the shingle explode (a HOF transform) is referenced
    # by the self-join's two sides AND the sizes aggregate — without the
    # barrier it's recomputed three times (measured ~9× total on the
    # oracle corpus).
    sh = _spread_if_narrow(df.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("doc"), F.explode(word_shingles(text_col, k)).alias("s")
    ).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    na = sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# pair → cluster → canonical survivor (the "actually drop the dups" step)
# ---------------------------------------------------------------------------


def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs → (doc, cluster).

    Iterative min-label propagation: every doc starts labeled with
    itself; each round, a doc adopts the smallest label among itself and
    its neighbors; converged when no label changes. The min label moves
    one hop per round, so rounds needed = cluster diameter — near-dup
    clusters are small and dense in practice. If a pathological chain
    exceeds ``max_iterations`` this RAISES rather than silently
    returning split clusters (which would let duplicates survive
    downstream keep_canonical). Deterministic: min() has no ties.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("cluster", F.col("doc"))
    )
    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc)
            .groupBy("src")
            .agg(F.min("cluster").alias("n_min"))
        )
        # Fold convergence detection into the label-update job: labels
        # only ever DECREASE, so "moved" ≡ new < old, computed as a flag
        # column in the same plan. One heavy job per round (the eager
        # localCheckpoint executes the join); the sum over the flag then
        # scans the already-materialized partitions instead of re-running
        # the join pipeline, which the previous separate count() did.
        new_cluster = F.least(
            F.col("cluster"), F.coalesce(F.col("n_min"), F.col("cluster"))
        )
        updated = labels.join(
            neighbor_min, labels.doc == neighbor_min.src, "left"
        ).select(
            "doc",
            new_cluster.alias("new_cluster"),
            (new_cluster < F.col("cluster")).cast("long").alias("_moved"),
        ).localCheckpoint(eager=True)  # cut lineage per round
        changed = updated.agg(F.sum("_moved")).collect()[0][0] or 0
        labels = updated.select("doc", F.col("new_cluster").alias("cluster"))
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iterations} rounds "
            f"({changed} labels still moving); raise max_iterations — "
            "returning split clusters would let duplicates survive"
        )
    return labels


def keep_canonical(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop near-duplicates: one survivor (the min id) per cluster;
    docs in no cluster survive untouched."""
    clusters = dedup_clusters(pairs)
    # rename before the self-derived join: survivors comes FROM clusters,
    # so joining on same-named columns risks resolving to a trivially
    # true predicate
    survivors = (
        clusters.groupBy("cluster")
        .agg(F.min("doc").alias("keep"))
        .withColumnRenamed("cluster", "s_cluster")
    )
    losers = (
        clusters.join(survivors, F.col("cluster") == F.col("s_cluster"))
        .filter(F.col("doc") != F.col("keep"))
        .select(F.col("doc").alias(id_col))
    )
    return docs.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------


def _q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return minhash_dedup_pairs(docs, threshold=0.2).orderBy("doc_a", "doc_b")


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return simhash_dedup_pairs(docs, max_hamming=3).orderBy("doc_a", "doc_b")


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, k=5, threshold=0.1).orderBy("doc_a", "doc_b")


_NGRAM_JACCARD_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), sh AS (
  SELECT doc_id AS doc,
         unnest(list_distinct(
           CASE WHEN len(t) >= 5
                THEN list_transform(range(1, len(t) - 3),
                                    i -> array_to_string(t[i:i+4], ' '))
                ELSE [array_to_string(t, ' ')] END)) AS s
  FROM toks
), sizes AS (
  SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b,
       ROUND(common / (na.n + nb.n - common), 6) AS jaccard
FROM common
JOIN sizes na ON na.doc = doc_a
JOIN sizes nb ON nb.doc = doc_b
WHERE ROUND(common / (na.n + nb.n - common), 6) >= 0.1
ORDER BY doc_a, doc_b
"""

def _q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup: pairs → connected components → canonical
    survivors. r7: the pair graph is the EXACT n-gram Jaccard join
    (same interior as oracled q129) instead of the MinHash estimate,
    so the whole chain — pairs, clustering, min-id survivor rule,
    anti-join — is SQL-expressible and hash-checked vs DuckDB (r6
    verdict ask #6). MinHash pair generation keeps its own coverage
    under q37 (recall property-test) and the planted-dup suite."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=5, threshold=0.1)
    kept = keep_canonical(docs, pairs)
    return kept.select("doc_id").orderBy("doc_id")


# q129's recursive-closure CTE with the survivor rule on top: a doc is
# dropped iff it belongs to a component and is not its min id — i.e.
# survivors = all docs minus {doc | doc != min reachable id}.
_DEDUP_SURVIVORS_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), sh AS (
  SELECT doc_id AS doc,
         unnest(list_distinct(
           CASE WHEN len(t) >= 5
                THEN list_transform(range(1, len(t) - 3),
                                    i -> array_to_string(t[i:i+4], ' '))
                ELSE [array_to_string(t, ' ')] END)) AS s
  FROM toks
), sizes AS (
  SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY a.doc, b.doc
), edges AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes na ON na.doc = doc_a
  JOIN sizes nb ON nb.doc = doc_b
  WHERE ROUND(common / (na.n + nb.n - common), 6) >= 0.1
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM edges
  UNION
  SELECT doc_b, doc_a FROM edges
), cc AS (
  SELECT a AS doc, a AS lbl FROM sym
  UNION
  SELECT s.b AS doc, cc.lbl FROM cc JOIN sym s ON cc.doc = s.a
), losers AS (
  SELECT doc FROM (SELECT doc, MIN(lbl) AS cluster FROM cc GROUP BY doc)
  WHERE doc <> cluster
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc FROM losers)
ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# q37f: MinHash LSH with a cross-engine rolling-hash family
# ---------------------------------------------------------------------------

# 8 perms in 4 bands of 2 — q37's 2-per-band scheme at half width.
# Distinct odd-prime BASES per perm (the q149b lesson: distinct seeds
# under one base only SHIFT same-length strings, keeping their
# collisions aligned); modulus a large prime so a*M+b stays in int64
# (a < 1e9+7, M <= 61 → < 2^63).
_MH_ROLL_BASES = (31, 37, 41, 43, 47, 53, 59, 61)
_MH_ROLL_P = 1_000_000_007
_MH_ROLL_SEED = 7
_MH_ROLL_BANDS = 4
_MH_ROLL_THRESHOLD = 0.5


def _roll(s: F.Column, base: int) -> F.Column:
    """Polynomial rolling hash of a string, (acc·base + code) % P
    folded left-to-right — the q149b family at modulus P."""
    return F.aggregate(
        F.transform(F.split(s, ""), lambda ch: F.ascii(ch)),
        F.lit(_MH_ROLL_SEED).cast("long"),
        lambda acc, c: (acc * base + c.cast("long")) % _MH_ROLL_P,
    )


def _roll_sql(s: str, base: int) -> str:
    """SQL-string twin of ``_roll`` (one parser call per base instead of
    ~15 py4j round trips — the r13 construction note)."""
    return (
        f"aggregate(transform(split({s}, ''), ch -> ascii(ch)), "
        f"CAST({_MH_ROLL_SEED} AS BIGINT), "
        f"(acc, c) -> ((acc * {base} + CAST(c AS BIGINT)) % {_MH_ROLL_P}))"
    )


def rolling_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """(doc, mh: array<long>[8]) — per-row MinHash signatures under the
    rolling-hash family, zero shuffle. Shared by the self-join dedup
    (q37f) and the corpus-vs-benchmark decontamination (q157)."""
    sh = _spread_if_narrow(df.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("doc"),
        F.expr(
            f"filter({_ngrams_sql(text_col, shingle_k, distinct=True)}, "
            "s -> length(s) > 0)"
        ).alias("_sh"),
    ).filter(F.size("_sh") > 0).localCheckpoint(eager=True)

    # ONE fused per-row fold over the materialized shingle column (the
    # checkpoint keeps CollapseProject from inlining the shingle builder
    # into the fold — the q37 lesson), emitted as one parsed SQL string
    # (the r13 construction note). The 8 per-base array_min folds each
    # re-split and re-walked every shingle's characters (8 regex splits
    # + 8 char passes per shingle); the fused form splits once and
    # carries all 8 accumulators through a single char pass, then folds
    # the per-shingle 8-vector into the running per-base minimum with
    # zip_with/least. Same seed, same per-char (acc·base + code) % P in
    # the same order → bit-identical per base (asserted in
    # tools/ab_sig_folds.py: 0 mismatches, corpus + edge shingles;
    # timing 0.91 s → 0.48 s net at 50k docs × 24 shingles, ~1.9×).
    seed8 = ", ".join(f"CAST({_MH_ROLL_SEED} AS BIGINT)" for _ in _MH_ROLL_BASES)
    step8 = ", ".join(
        f"((acc[{j}] * {b} + CAST(c AS BIGINT)) % {_MH_ROLL_P})"
        for j, b in enumerate(_MH_ROLL_BASES)
    )
    roll8 = (
        f"aggregate(transform(split(s, ''), ch -> ascii(ch)), "
        f"array({seed8}), (acc, c) -> array({step8}))"
    )
    return sh.select(
        "doc",
        F.expr(
            f"aggregate(_sh, array_repeat(CAST({2**63 - 1} AS BIGINT), "
            f"{len(_MH_ROLL_BASES)}), "
            f"(mins, s) -> zip_with(mins, {roll8}, (m, r) -> least(m, r)))"
        ).alias("mh"),
    ).localCheckpoint(eager=True)


def _rolling_bands(sigs: DataFrame) -> DataFrame:
    """Explode (doc, mh) to one row per LSH band: (doc, mh, band, k1,
    k2) — 2 signature values per band, 4 bands."""
    per_band = len(_MH_ROLL_BASES) // _MH_ROLL_BANDS
    return sigs.select(
        "doc", "mh",
        F.expr(
            "explode(array("
            + ", ".join(
                f"named_struct('band', {b}, "
                f"'k1', element_at(mh, {b * per_band + 1}), "
                f"'k2', element_at(mh, {b * per_band + 2}))"
                for b in range(_MH_ROLL_BANDS)
            )
            + "))"
        ).alias("_b"),
    ).select("doc", "mh", "_b.band", "_b.k1", "_b.k2")


def minhash_rolling_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = _MH_ROLL_THRESHOLD,
) -> DataFrame:
    """:func:`minhash_dedup_pairs` with the cross-engine rolling-hash
    family — the oracle-replayable member of the MinHash pipeline
    (xxhash64 has no SQL replay, so q37's evidence is recall; this
    form hash-matches the ENTIRE shingle → signature → band join →
    estimate chain against DuckDB). Same plan shape: per-row
    signatures (zero shuffle), one band equi-self-join carrying both
    signatures, estimate verify. Empty shingles (empty-text docs) are
    excluded in both engines — the established empty-token fold
    divergence."""
    sigs = rolling_signatures(df, id_col, text_col, shingle_k)
    n = len(_MH_ROLL_BASES)
    bands = _rolling_bands(sigs)
    a, bb = bands.alias("a"), bands.alias("b")
    agree = _sig_agree("a.mh", "b.mh", n)
    return (
        a.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.k1") == F.col("b.k1"))
            & (F.col("a.k2") == F.col("b.k2"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            (agree / F.lit(float(n))).alias("est_jaccard"),
        )
        # threshold before the dedupe exchange — identical-estimate
        # copies make the orders equivalent (see minhash_dedup_pairs)
        .filter(F.col("est_jaccard") >= threshold)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


def _q_minhash_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        minhash_rolling_pairs(docs)
        .select("doc_a", "doc_b", F.round("est_jaccard", 6).alias("est_jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def _minhash_rolling_oracle() -> str:
    n = len(_MH_ROLL_BASES)
    per_band = n // _MH_ROLL_BANDS
    roll = (
        "list_reduce(list_prepend({seed}::BIGINT,"
        " list_transform(range(1, length(s) + 1), i -> ascii(s[i]))),"
        " (a, b) -> (a * {base} + b) % {p})"
    )
    mh_cols = ",\n         ".join(
        "MIN(" + roll.format(seed=_MH_ROLL_SEED, base=b, p=_MH_ROLL_P)
        + f") AS mh{i}"
        for i, b in enumerate(_MH_ROLL_BASES)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc, {b} AS band, mh{b * per_band} AS k1,"
        f" mh{b * per_band + 1} AS k2,"
        f" {', '.join(f'mh{i}' for i in range(n))} FROM mh"
        for b in range(_MH_ROLL_BANDS)
    )
    agree = " + ".join(f"(a.mh{i} = b.mh{i})::INT" for i in range(n))
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id AS doc, string_split(lower(text), ' ') AS t FROM documents
), sh AS MATERIALIZED (
  SELECT doc,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                ELSE [array_to_string(t, ' ')] END)) AS s
  FROM base
), shf AS MATERIALIZED (
  SELECT doc, s FROM sh WHERE length(s) > 0
), mh AS MATERIALIZED (
  SELECT doc,
         {mh_cols}
  FROM shf GROUP BY doc
), bands AS MATERIALIZED (
{band_rows}
), pairs AS MATERIALIZED (
  SELECT a.doc AS doc_a, b.doc AS doc_b,
         ANY_VALUE(({agree})::DOUBLE / {n}.0) AS est
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b, ROUND(est, 6) AS est_jaccard
FROM pairs WHERE est >= {_MH_ROLL_THRESHOLD}
ORDER BY doc_a, doc_b
"""


QUERIES["q37_minhash_dedup"] = QuerySpec(_q_minhash, None)  # recall property-test
QUERIES["q37f_minhash_rolling"] = QuerySpec(
    _q_minhash_rolling, _minhash_rolling_oracle()
)


def fuzzy_decontaminate_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = _MH_ROLL_THRESHOLD,
) -> DataFrame:
    """Fuzzy benchmark decontamination: training docs that are MinHash
    NEAR-DUPLICATES of an eval doc — the contamination the exact
    k-gram overlap (q39i) under-ranks when the leaked copy was lightly
    edited (the Dolma/FineWeb practice: run fuzzy dedup against the
    eval suites, not just exact n-gram matching). Same machinery as
    :func:`minhash_rolling_pairs` but corpus×bench instead of a
    self-join: the benchmark side is small by nature, so its banded
    signatures BROADCAST and the corpus is never shuffled — one scan,
    map-side join, then the per-pair estimate.

    Returns (doc_id, bench_id, est_jaccard ≥ threshold)."""
    csig = _rolling_bands(
        rolling_signatures(corpus, id_col, text_col, shingle_k)
    )
    bsig = _rolling_bands(
        rolling_signatures(bench, bench_id_col, text_col, shingle_k)
    )
    n = len(_MH_ROLL_BASES)
    agree = _sig_agree("c.mh", "b.mh", n)
    return (
        csig.alias("c")
        .join(
            F.broadcast(bsig.alias("b")),
            (F.col("c.band") == F.col("b.band"))
            & (F.col("c.k1") == F.col("b.k1"))
            & (F.col("c.k2") == F.col("b.k2")),
        )
        .select(
            F.col("c.doc").alias("doc_id"),
            F.col("b.doc").alias("bench_id"),
            (agree / F.lit(float(n))).alias("est_jaccard"),
        )
        # threshold before the dedupe exchange — identical-estimate
        # copies make the orders equivalent (see minhash_dedup_pairs)
        .filter(F.col("est_jaccard") >= threshold)
        .groupBy("doc_id", "bench_id")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


def _q_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q39i's deterministic benchmark scheme, fuzzy membership:
    near-duplicate leaks, not just exact k-gram overlap. Stride 89
    rather than q39i's 97: measured as the split whose benchmark
    actually contains near-dup leaks at BOTH test scales (97's sf0.01
    benchmark has none, which would make the driver row a trivial
    zero-row match)."""
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 89 == 0)
    corpus = docs.filter(F.col("doc_id") % 89 != 0)
    return (
        fuzzy_decontaminate_pairs(corpus, bench)
        .select(
            "doc_id", "bench_id", F.round("est_jaccard", 6).alias("est_jaccard")
        )
        .orderBy("doc_id", "bench_id")
    )


def _fuzzy_decontamination_oracle() -> str:
    n = len(_MH_ROLL_BASES)
    per_band = n // _MH_ROLL_BANDS
    roll = (
        "list_reduce(list_prepend({seed}::BIGINT,"
        " list_transform(range(1, length(s) + 1), i -> ascii(s[i]))),"
        " (a, b) -> (a * {base} + b) % {p})"
    )
    mh_cols = ",\n         ".join(
        "MIN(" + roll.format(seed=_MH_ROLL_SEED, base=b, p=_MH_ROLL_P)
        + f") AS mh{i}"
        for i, b in enumerate(_MH_ROLL_BASES)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc, {b} AS band, mh{b * per_band} AS k1,"
        f" mh{b * per_band + 1} AS k2,"
        f" {', '.join(f'mh{i}' for i in range(n))} FROM mh"
        for b in range(_MH_ROLL_BANDS)
    )
    agree = " + ".join(f"(c.mh{i} = b.mh{i})::INT" for i in range(n))
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id AS doc, string_split(lower(text), ' ') AS t FROM documents
), sh AS MATERIALIZED (
  SELECT doc,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                ELSE [array_to_string(t, ' ')] END)) AS s
  FROM base
), shf AS MATERIALIZED (
  SELECT doc, s FROM sh WHERE length(s) > 0
), mh AS MATERIALIZED (
  SELECT doc,
         {mh_cols}
  FROM shf GROUP BY doc
), bands AS MATERIALIZED (
{band_rows}
), pairs AS MATERIALIZED (
  SELECT c.doc AS doc_id, b.doc AS bench_id,
         ANY_VALUE(({agree})::DOUBLE / {n}.0) AS est
  FROM (SELECT * FROM bands WHERE doc % 89 <> 0) c
  JOIN (SELECT * FROM bands WHERE doc % 89 = 0) b
    ON c.band = b.band AND c.k1 = b.k1 AND c.k2 = b.k2
  GROUP BY c.doc, b.doc
)
SELECT doc_id, bench_id, ROUND(est, 6) AS est_jaccard
FROM pairs WHERE est >= {_MH_ROLL_THRESHOLD}
ORDER BY doc_id, bench_id
"""


QUERIES["q157_fuzzy_decontamination"] = QuerySpec(
    _q_fuzzy_decontamination, _fuzzy_decontamination_oracle()
)
QUERIES["q37d_dedup_survivors"] = QuerySpec(_q_dedup_survivors, _DEDUP_SURVIVORS_ORACLE)
QUERIES["q37b_simhash_dedup"] = QuerySpec(_q_simhash, None)


# ---------------------------------------------------------------------------
# q37g: SimHash with the cross-engine rolling-hash family
# ---------------------------------------------------------------------------

_SH_ROLL_BITS = 48
_SH_ROLL_MAX_HAMMING = 2
# 3 chunks (16+16+16 bits): hamming <= 2 leaves >= 1 chunk intact, so
# chunk-equality candidate generation is lossless (pigeonhole). 48
# bits ~ a 7.5-degree angle at hamming 2 (SimHash hamming estimates
# the bag-of-words angle as pi*h/bits), sharp enough to separate true
# near-dups from this corpus's shared-vocabulary background; fp and
# every 2^j stay exact in long/double (< 2^53).
_SH_ROLL_CHUNKS = ((0, 16), (16, 16), (32, 16))


def simhash_rolling_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = _SH_ROLL_MAX_HAMMING,
) -> DataFrame:
    """:func:`simhash_dedup_pairs`'s cross-engine sibling: a 48-bit
    SimHash over rolling-hashed distinct 3-word SHINGLES — per-bit ±1
    sums are INTEGER arithmetic, so the whole fingerprint (not just
    its rounding) is bit-identical across engines — then pigeonhole
    chunk candidates and an exact bit_count(xor) hamming filter.
    Shingle features, not unigrams: this corpus's docs draw on a
    shared vocabulary, so unigram-profile angles are tiny everywhere
    (measured: the same ~17k pairs at 32 AND 48 bits) while shingle
    profiles separate true near-dups exactly as q37/q37c's do. The
    64-bit xxhash64 form (q37b) keeps its planted-recall evidence;
    this form hash-matches the pipeline."""
    n_bits = _SH_ROLL_BITS
    # Per-shingle rolling hashes, materialized ONCE (r13): the fp fold
    # below needs size(_hs) both as the SWAR overflow guard and as the
    # sign divisor, and without a barrier the optimizer would inline the
    # per-char rolling folds into every reference (the q37 lesson). The
    # zero-shingle filter matches the oracle (such docs have no hash
    # rows in its GROUP BY and thus no fingerprint; an all-zero fp would
    # otherwise pair every empty doc with every other empty doc).
    hs = (
        # single-row-group input ⇒ the per-char rolling folds would run
        # on one core; spread first (no-op on well-partitioned input —
        # the r12 §2.5 treatment, which this path had missed: measured
        # 24.7 s → ~1.6 s for the signature jobs at sf1synth)
        _spread_if_narrow(df.select(id_col, text_col), id_col)
        .select(
            F.col(id_col).alias("doc"),
            F.expr(
                f"transform(filter({_ngrams_sql(text_col, 3, distinct=True)}, "
                f"t -> length(t) > 0), t -> {_roll_sql('t', 31)})"
            ).alias("_hs"),
        )
        .filter(F.size("_hs") > 0)
        .localCheckpoint(eager=True)
    )
    # r13: the old fold extracted each of the 48 bits per token with
    # DOUBLE pow/floor/%2 (the Column-API shiftright needs a Python-int
    # shift, so a lambda bit index couldn't use it — a SQL string can).
    # New fold: 16 SWAR longs of 16-bit lanes (mask selects bits j,
    # j+16, j+32 — the rolling hash is < 2^30 < 2^48, matching n_bits),
    # finish assembles fp as Σ 2^b where 2·cnt_b > n — exactly the old
    # ±1-sum sign (sum = 2·cnt − n), and exactly the oracle's
    # SUM(CASE (h >> b) & 1 ...) > 0 since floor(h/2^b) % 2 ≡
    # shiftright(h, b) & 1 for h ≥ 0. Rows with ≥65536 shingles (lane
    # capacity) take the original-semantics 48-wide fold via the size
    # guard (O(1) on the materialized column). Micro A/B
    # (tools/ab_sig_folds.py fp48): ~9× on the fold; bit-identity
    # pinned by test_simhash_rolling_swar_matches_pow_reference and the
    # q37g oracle hash (the chain is fully DuckDB-replayable).
    mask3 = 0x0000000100010001
    swar = f"""
        aggregate(_hs, array_repeat(cast(0 as long), 16),
          (acc, h) -> zip_with(acc, sequence(0, 15),
            (a, j) -> a + (shiftright(h, j) & {mask3})),
          acc -> aggregate(sequence(0, {n_bits - 1}), cast(0 as long),
            (s, b) -> s + IF(2 * (shiftright(acc[b % 16], 16 * (b div 16))
                                  & 65535) > size(_hs),
                             shiftleft(cast(1 as long), b),
                             cast(0 as long))))
    """
    wide48 = f"""
        aggregate(
          zip_with(
            aggregate(_hs, array_repeat(cast(0 as long), {n_bits}),
                      (acc, h) -> zip_with(acc, sequence(0, {n_bits - 1}),
                        (a, b) -> a + IF((shiftright(h, b) & 1) = 1, 1, -1))),
            sequence(0, {n_bits - 1}),
            (s, b) -> IF(s > 0, shiftleft(cast(1 as long), b),
                         cast(0 as long))),
          cast(0 as long), (acc, x) -> acc + x)
    """
    fps = hs.select(
        "doc",
        F.expr(
            f"CASE WHEN size(_hs) < 65536 THEN {swar} ELSE {wide48} END"
        ).alias("fp"),
    ).localCheckpoint(eager=True)  # self-joined below; HOF tree cut once
    chunks = fps.select(
        "doc", "fp",
        *[
            F.shiftright("fp", off).bitwiseAND(F.lit((1 << w) - 1)).alias(f"c{i}")
            for i, (off, w) in enumerate(_SH_ROLL_CHUNKS)
        ],
    )
    cand = None
    for i in range(len(_SH_ROLL_CHUNKS)):
        a, b = chunks.alias("a"), chunks.alias("b")
        c = (
            a.join(
                b,
                (F.col(f"a.c{i}") == F.col(f"b.c{i}"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(
                F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"),
                F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"),
            )
        )
        cand = c if cand is None else cand.unionByName(c)
    return (
        cand.distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _q_simhash_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return simhash_rolling_pairs(docs).orderBy("doc_a", "doc_b")


def _simhash_rolling_oracle() -> str:
    n_bits = _SH_ROLL_BITS
    roll = (
        f"list_reduce(list_prepend({_MH_ROLL_SEED}::BIGINT,"
        f" list_transform(range(1, length(tok) + 1), i -> ascii(tok[i]))),"
        f" (a, b) -> (a * 31 + b) % {_MH_ROLL_P})"
    )
    sum_cols = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(n_bits)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(n_bits)
    )
    chunk_cols = ", ".join(
        f"(fp >> {off}) & {(1 << w) - 1} AS c{i}"
        for i, (off, w) in enumerate(_SH_ROLL_CHUNKS)
    )
    cand_union = "\n  UNION\n".join(
        f"  SELECT a.doc AS doc_a, b.doc AS doc_b, a.fp AS fp_a, b.fp AS fp_b"
        f" FROM ch a JOIN ch b ON a.c{i} = b.c{i} AND a.doc < b.doc"
        for i in range(len(_SH_ROLL_CHUNKS))
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id AS doc, string_split(lower(text), ' ') AS t FROM documents
), toks AS MATERIALIZED (
  SELECT doc,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                ELSE [array_to_string(t, ' ')] END)) AS tok
  FROM base
), h AS MATERIALIZED (
  SELECT doc, {roll} AS h FROM toks WHERE length(tok) > 0
), sums AS MATERIALIZED (
  SELECT doc,
         {sum_cols}
  FROM h GROUP BY doc
), fps AS MATERIALIZED (
  SELECT doc, ({fp})::BIGINT AS fp FROM sums
), ch AS MATERIALIZED (
  SELECT doc, fp, {chunk_cols} FROM fps
), cand AS MATERIALIZED (
{cand_union}
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= {_SH_ROLL_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


QUERIES["q37g_simhash_rolling"] = QuerySpec(
    _q_simhash_rolling, _simhash_rolling_oracle()
)
QUERIES["q37c_ngram_jaccard"] = QuerySpec(_q_ngram_jaccard, _NGRAM_JACCARD_ORACLE)


# ---------------------------------------------------------------------------
# fuzzy edit-distance join (PassJoin partition blocking)
# ---------------------------------------------------------------------------


def fuzzy_prefix_pairs(
    docs: DataFrame,
    k: int = 8,
    prefix_len: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs whose ``prefix_len``-char prefixes are within edit
    distance ``k`` — EXACT, with candidates generated by PassJoin
    partition blocking (Li/Deng/Feng, SIGMOD'11) instead of a corpus
    cross join.

    The pigeonhole lemma: split each string into k+1 segments; at most
    k edits can touch at most k segments, so any pair within distance
    k shares at least one segment EXACTLY, shifted by at most k
    positions. One side explodes its k+1 (position, segment) keys, the
    other its (position, shifted-substring) keys for every legal shift
    in [-k, k]; candidates are the (i, segment) equi-join, verified
    with the exact levenshtein.

    Scale shape: the join is equi on short substrings — never
    corpus×corpus (plan-gated). Candidate volume is governed by
    segment entropy: segments of length prefix_len/(k+1) must be long
    enough to discriminate (k/L too high degenerates toward all-pairs
    — tune prefix_len and k together like every blocking scheme).
    Docs shorter than ``prefix_len`` are excluded so all compared
    strings share one length (the equal-length form of the lemma).

    The entity-resolution / OCR-noise / near-dup-title primitive the
    MinHash family can't express (edit distance, not set overlap).
    """
    nseg = k + 1
    bounds = [
        (i * prefix_len // nseg, (i + 1) * prefix_len // nseg)
        for i in range(nseg)
    ]
    # Spread the input first: a small corpus parquet reads as ONE
    # partition, and with a broadcast-planned segment join the whole
    # probe-explode → join → candidate pipeline would run inside that
    # single scan task (measured: ~100 s single-core at sf0.1). One
    # tiny shuffle of the raw texts buys full-width candidates.
    docs = _widen_for_verify(docs, id_col)
    p = docs.filter(F.length(text_col) >= prefix_len).select(
        F.col(id_col), F.substring(text_col, 1, prefix_len).alias("_t")
    )
    idx = p.select(
        id_col, "_t",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("i"),
                F.substring("_t", s + 1, e - s).alias("seg"),
            )
            for i, (s, e) in enumerate(bounds)
        ])).alias("_k"),
    ).select(id_col, "_t", F.col("_k.i").alias("i"), F.col("_k.seg").alias("seg"))
    probes = []
    for i, (s, e) in enumerate(bounds):
        ln = e - s
        for d in range(-k, k + 1):
            if 0 <= s + d <= prefix_len - ln:
                probes.append(
                    F.struct(
                        F.lit(i).alias("i"),
                        F.substring("_t", s + d + 1, ln).alias("seg"),
                    )
                )
    prb = p.select(
        id_col, "_t",
        F.explode(F.array_distinct(F.array(*probes))).alias("_k"),
    ).select(id_col, "_t", F.col("_k.i").alias("i"), F.col("_k.seg").alias("seg"))
    cand = (
        idx.alias("a").join(prb.alias("b"), ["i", "seg"])
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.least(f"a.{id_col}", f"b.{id_col}").alias("id_a"),
            F.greatest(f"a.{id_col}", f"b.{id_col}").alias("id_b"),
            F.least("a._t", "b._t").alias("_ta"),
            F.greatest("a._t", "b._t").alias("_tb"),
        )
        .distinct()
    )
    # levenshtein on full texts is O(len_a·len_b) PER PAIR — even a few
    # thousand candidates deserve every core (measured: ~100 s on one
    # task at sf0.1 before the spread)
    cand = _widen_for_verify(cand, "id_a", "id_b")
    return (
        cand.withColumn("dist", F.levenshtein("_ta", "_tb"))
        .filter(F.col("dist") <= k)
        .select("id_a", "id_b", "dist")
    )


def _q_fuzzy_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return fuzzy_prefix_pairs(docs, k=8, prefix_len=30).orderBy("id_a", "id_b")


_FUZZY_ORACLE = """
WITH p AS (
  SELECT doc_id, substring(text, 1, 30) AS t FROM documents
  WHERE length(text) >= 30
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.t, b.t) AS dist
FROM p a JOIN p b ON a.doc_id < b.doc_id
WHERE levenshtein(a.t, b.t) <= 8
ORDER BY id_a, id_b
"""

QUERIES["q112_fuzzy_edit_join"] = QuerySpec(_q_fuzzy_edit_join, _FUZZY_ORACLE)


def fuzzy_edit_join(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs of FULL strings within edit distance ``k`` — the
    variable-length PassJoin form (Li/Deng/Feng, SIGMOD'11 §4): unlike
    ``fuzzy_prefix_pairs`` (fixed-length prefixes only), strings of any
    length participate and a length-``L`` string meets candidates of
    length [L-k, L+k].

    Blocking scheme: every string is indexed by its k+1 even segments
    keyed (own_length, segment_no, segment).  A probe string r of
    length lr generates, for each candidate indexed length
    l ∈ [lr-k, lr] (the longer side always probes, so each pair is
    produced exactly once up to the equal-length symmetric case), the
    substrings that segment i of a preserved alignment could occupy.
    With Δ = lr - l the start shift d is bounded by the
    multi-match-aware selection (picking the FIRST preserved segment):

    - ``|d| + |Δ - d| <= k`` — shifts before plus length drift after
      cannot exceed the edit budget, so d ∈ [⌈(Δ-k)/2⌉, ⌊(Δ+k)/2⌋];
    - ``|Δ - d| <= k - i`` — segments 0..i-1 each absorb ≥ 1 edit,
      leaving ≤ k - i for the tail drift.

    (Bounds exhaustively validated against brute-force edit distance
    in ``tests/test_dedup_similarity.py``.)  Candidates are the
    (l, i, seg) equi-join — never corpus×corpus — and the exact
    ``levenshtein`` on the full strings verifies.  Scale shape: probe
    fan-out is O(k²) keys per string independent of corpus size; the
    join shuffles on short segment keys, and segment entropy governs
    bucket sizes exactly as in the fixed-length form.

    Strings of length <= k can't use segment blocking (zero-length
    segments carry no signal — and no sound blocking exists: at that
    length an edit script can replace every character).  They get a
    dedicated LENGTH-WINDOW pass instead: a short string's partners
    are necessarily of length <= 2k, so candidates are an equi-join on
    the exploded candidate length — per-length buckets of sub-(2k+1)-
    char strings, still never corpus×corpus.  The two passes partition
    the pair space (both>k / at-least-one<=k), so their union is the
    complete exact join over ALL lengths — the registered oracle
    checks exactly that domain.
    """
    nseg = k + 1
    # spread the input — same single-partition-scan reasoning as
    # fuzzy_prefix_pairs
    docs = _widen_for_verify(docs, id_col)
    p = docs.filter(F.length(text_col) > k).select(
        F.col(id_col), F.col(text_col).alias("_t"), F.length(text_col).alias("_l")
    )
    i_col = F.col("i")
    # index side: (own length, segment no, segment) for the k+1 even
    # segments of each string — boundaries are per-row expressions
    st = F.floor(i_col * F.col("_l") / nseg).cast("int")
    en = F.floor((i_col + 1) * F.col("_l") / nseg).cast("int")
    idx = (
        p.select(id_col, "_t", "_l", F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"))
        .select(
            id_col,
            "_t",
            F.col("_l").alias("l"),
            "i",
            F.substring("_t", st + 1, en - st).alias("seg"),
        )
    )
    # probe side: candidate indexed lengths l ∈ [lr-k, lr] (> k), the
    # same per-length boundaries, and the shift window d ∈ [dlo, dhi]
    l_col, lr = F.col("l"), F.col("_l")
    delta = lr - l_col
    pst = F.floor(i_col * l_col / nseg).cast("int")
    pln = (F.floor((i_col + 1) * l_col / nseg) - F.floor(i_col * l_col / nseg)).cast(
        "int"
    )
    dlo = F.greatest(
        delta - (F.lit(k) - i_col),
        F.ceil((delta - F.lit(k)) / 2).cast("int"),
        -pst,
    )
    dhi = F.least(
        delta + (F.lit(k) - i_col),
        F.floor((delta + F.lit(k)) / 2).cast("int"),
        lr - pln - pst,
    )
    prb = (
        p.select(
            id_col,
            "_t",
            "_l",
            F.explode(
                F.sequence(F.greatest(lr - k, F.lit(k + 1)), lr)
            ).alias("l"),
        )
        .select(id_col, "_t", "_l", "l", F.explode(F.sequence(F.lit(0), F.lit(k))).alias("i"))
        .filter(dlo <= dhi)
        .select(
            id_col,
            "_t",
            "l",
            "i",
            F.explode(F.sequence(dlo, dhi)).alias("d"),
            pst.alias("_st"),
            pln.alias("_ln"),
        )
        .select(
            id_col,
            "_t",
            "l",
            "i",
            F.substring("_t", F.col("_st") + F.col("d") + 1, F.col("_ln")).alias("seg"),
        )
        .distinct()
    )
    cand = (
        idx.alias("a")
        .join(prb.alias("b"), ["l", "i", "seg"])
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.least(f"a.{id_col}", f"b.{id_col}").alias("id_a"),
            F.greatest(f"a.{id_col}", f"b.{id_col}").alias("id_b"),
            # levenshtein is symmetric, so pairing texts by lexical
            # order (not by id) is harmless and keeps distinct cheap
            F.least("a._t", "b._t").alias("_ta"),
            F.greatest("a._t", "b._t").alias("_tb"),
        )
        .distinct()
    )
    # per-pair levenshtein cost — spread like the fixed-length form
    cand = _widen_for_verify(cand, "id_a", "id_b")
    main = (
        cand.withColumn("dist", F.levenshtein("_ta", "_tb"))
        .filter(F.col("dist") <= k)
        .select("id_a", "id_b", "dist")
    )
    # short-string pass: probes of length <= k against partners of
    # length <= 2k (longer partners are > k edits away by the length
    # bound alone), blocked by an equi-join on the candidate length.
    # Disjoint from the main pass (which requires BOTH sides > k).
    shorts = docs.filter(F.length(text_col) <= k).select(
        F.col(id_col).alias("_sid"),
        F.col(text_col).alias("_stx"),
        F.length(text_col).alias("_sl"),
    )
    partners = docs.filter(F.length(text_col) <= 2 * k).select(
        F.col(id_col).alias("_pid"),
        F.col(text_col).alias("_ptx"),
        F.length(text_col).alias("_pl"),
    )
    short_pairs = (
        shorts.select(
            "_sid",
            "_stx",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0), F.col("_sl") - k), F.col("_sl") + k
                )
            ).alias("_pl"),
        )
        .join(partners, "_pl")
        .filter(F.col("_sid") != F.col("_pid"))
        .select(
            F.least("_sid", "_pid").alias("id_a"),
            F.greatest("_sid", "_pid").alias("id_b"),
            F.least("_stx", "_ptx").alias("_ta"),
            F.greatest("_stx", "_ptx").alias("_tb"),
        )
        .distinct()
        .transform(lambda d: _widen_for_verify(d, "id_a", "id_b"))
        .withColumn("dist", F.levenshtein("_ta", "_tb"))
        .filter(F.col("dist") <= k)
        .select("id_a", "id_b", "dist")
    )
    return main.unionByName(short_pairs)


def _q_fuzzy_varlen_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded-length fixture slice: keeps the oracle's exact all-pairs
    # levenshtein tractable while exercising genuinely different lengths
    docs = read_table(spark, sf_dir, "documents").filter(F.length("text") <= 260)
    return fuzzy_edit_join(docs, k=5).orderBy("id_a", "id_b")


_FUZZY_VARLEN_ORACLE = """
WITH s AS (SELECT doc_id, text FROM documents WHERE length(text) <= 260)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.text, b.text) AS dist
FROM s a JOIN s b ON a.doc_id < b.doc_id
  AND abs(length(a.text) - length(b.text)) <= 5
WHERE levenshtein(a.text, b.text) <= 5
ORDER BY id_a, id_b
"""

QUERIES["q114_fuzzy_varlen_join"] = QuerySpec(_q_fuzzy_varlen_join, _FUZZY_VARLEN_ORACLE)


# ---------------------------------------------------------------------------
# all-pairs similarity join with prefix filtering (PPJoin-lite)
# ---------------------------------------------------------------------------


def apss_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs Jaccard self-join via PREFIX FILTERING
    (Chaudhuri et al. ICDE'06 / Xiao et al. WWW'08 "PPJoin", original
    implementation) — same semantics family as ``ngram_jaccard_pairs``
    but a different candidate generator, built for the failure mode the
    full inverted index hits at corpus scale: HOT SET ELEMENTS.

    ``ngram_jaccard_pairs`` joins docs on EVERY shared shingle, so an
    element appearing in d docs contributes d² candidate fan-out — at
    100 TB a boilerplate shingle shared by millions of docs is a 10¹²
    -pair hot key and the join never finishes. Prefix filtering fixes
    this structurally: order each doc's elements by GLOBAL RARITY
    (ascending document frequency, shingle string as tie-break — any
    total order works) and index only the first
    ``n - ceil(t*n) + 1`` elements. The lemma: two sets with
    ``J ≥ t`` MUST share at least one element within those prefixes, so
    recall is exactly 1.0 — while the hot elements, being the most
    frequent, sort to the END of every doc's order and almost never
    land in a prefix. Candidate fan-out collapses from d² on the
    hottest element to d² on the rarest ones (tiny d by definition).

    Stages (all equi-join / combiner-friendly — plan-gated):
      1. element sets: distinct k-word shingles per doc (zero shuffle),
      2. global document frequency: groupBy(shingle) count — partial agg,
      3. rarity-ranked sets: join df back, sort_array of (df, s) structs,
      4. prefix explode → self equi-join on the element + PPJoin length
         filter (``t·max(|x|,|y|) ≤ min(|x|,|y|)`` — necessary for J≥t),
      5. exact verify: array_intersect on the full sets, ``J ≥ t``.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b — identical
    output contract (and values) to ``ngram_jaccard_pairs`` at the same
    (k, threshold); the equality is test-asserted and DuckDB-oracled.
    """
    el = df.select(
        F.col(id_col).alias("doc"), F.explode(word_shingles(text_col, k)).alias("s")
    ).localCheckpoint(eager=True)  # referenced by stages 2 AND 3
    dfreq = el.groupBy("s").agg(F.count("*").alias("df"))
    sets = (
        el.join(dfreq, "s")
        .groupBy("doc")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "s"))), lambda r: r["s"]
            ).alias("els")
        )
        .withColumn("n", F.size("els"))
    )
    pre = sets.select(
        "doc",
        "n",
        F.explode(
            F.expr(
                f"slice(els, 1, size(els) - cast(ceil({threshold} * size(els)) as int) + 1)"
            )
        ).alias("s"),
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        # length filter: J(x,y) ≥ t ⇒ |∩| ≥ t·|∪| ≥ t·max ⇒ min ≥ t·max
        .filter(
            F.least("a.n", "b.n") >= F.lit(threshold) * F.greatest("a.n", "b.n")
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    cand = _widen_for_verify(cand, "doc_a", "doc_b")
    sa = sets.select(
        F.col("doc").alias("doc_a"), F.col("els").alias("_ea"), F.col("n").alias("n_a")
    )
    sb = sets.select(
        F.col("doc").alias("doc_b"), F.col("els").alias("_eb"), F.col("n").alias("n_b")
    )
    ov = F.size(F.array_intersect("_ea", "_eb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("_j", ov / (F.col("n_a") + F.col("n_b") - ov))
        .filter(F.col("_j") >= threshold)
        .select("doc_a", "doc_b", F.round("_j", 6).alias("jaccard"))
    )


def _q_apss_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return apss_prefix_pairs(docs, k=3, threshold=0.5).orderBy("doc_a", "doc_b")


# Exact semantics ⇒ the oracle is the SAME all-pairs Jaccard the full
# inverted index computes — prefix filtering must not change the answer.
_APSS_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), sh AS (
  SELECT doc_id AS doc,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                ELSE [array_to_string(t, ' ')] END)) AS s
  FROM toks
), sizes AS (
  SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS overlap
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b,
       ROUND(overlap / (na.n + nb.n - overlap), 6) AS jaccard
FROM common
JOIN sizes na ON na.doc = doc_a
JOIN sizes nb ON nb.doc = doc_b
WHERE overlap / (na.n + nb.n - overlap) >= 0.5
ORDER BY doc_a, doc_b
"""

QUERIES["q117_apss_join"] = QuerySpec(_q_apss_join, _APSS_ORACLE)


_APSS_UNSEEN_DF = 1 << 60  # tokens unknown to the frozen order sort LAST


def _apss_ranked_sets(
    docs: DataFrame,
    order: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
) -> DataFrame:
    """(doc, els, n, pre): element sets ranked under the GIVEN
    (element → df) order — tokens absent from the order get df =
    ``_APSS_UNSEEN_DF`` so they sort after every known element (any
    consistent total order preserves the prefix lemma)."""
    el = docs.select(
        F.col(id_col).alias("doc"), F.explode(word_shingles(text_col, k)).alias("s")
    )
    ranked = el.join(order, "s", "left").select(
        "doc",
        F.struct(
            F.coalesce(F.col("df"), F.lit(_APSS_UNSEEN_DF)).alias("df"),
            F.col("s"),
        ).alias("r"),
    )
    return (
        ranked.groupBy("doc")
        .agg(
            F.transform(F.sort_array(F.collect_list("r")), lambda r: r["s"]).alias(
                "els"
            )
        )
        .withColumn("n", F.size("els"))
        .withColumn(
            "pre",
            F.expr(
                f"slice(els, 1, size(els) - cast(ceil({threshold} * size(els)) as int) + 1)"
            ),
        )
    )


def incremental_apss_apply(
    spark: SparkSession,
    new_docs: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> "tuple[DataFrame, dict]":
    """EXACT all-pairs similarity for an ingest increment against the
    corpus history — ``apss_prefix_pairs``'s incremental form, the
    daily-crawl workflow where ``incremental_dedup_apply``'s MinHash
    probabilities aren't acceptable (legal dedup, eval-set hygiene).

    The global rarity order is FROZEN at store creation (the founding
    batch's document frequencies, persisted as the ``order/`` table):
    the prefix-filter lemma only needs ONE consistent total order
    across every doc ever ranked, not an accurate one, so later
    batches rank under the founding order (unseen elements sort last —
    treated as maximally common, they leave prefixes no shorter, just
    possibly less selective; recall stays exactly 1.0 and the
    test-asserted equality with the batch operator proves it).
    Refreshing the order = rebuilding the store (offline compaction),
    exactly the frozen-codebook contract of the PQ/IVF-PQ stores.

    Store: ``order/`` (element, df) + ``sets/`` (doc, els, n, pre).
    Candidates = new-prefix ⋈ (history ∪ batch) prefix equi-join with
    the PPJoin length filter; verify = exact Jaccard on the full sets;
    ids already in the store are replay no-ops; new sets append.
    History text is never re-read — the probe touches the prefix and
    set columns only.

    Returns (pairs, stats): pairs = (doc_a, doc_b, jaccard) where at
    least one side is fresh (doc_a < doc_b), stats = {batch, replayed,
    appended, pairs_vs_history, pairs_in_batch}.
    """
    import os as _os

    # in-batch id dedup (see incremental_dedup_apply): equal ids never
    # pair, so an in-batch duplicate INSERT would enter the sets store
    # twice and double every later containment/similarity estimate
    new_docs = new_docs.dropDuplicates([id_col])

    order_dir = _os.path.join(store_dir, "order")
    sets_dir = _os.path.join(store_dir, "sets")

    def _empty_pairs():
        # schema derives from the id column, not a hardcoded bigint
        c = new_docs.select(F.col(id_col)).limit(0)
        return c.select(
            F.col(id_col).alias("doc_a")
        ).crossJoin(c.select(F.col(id_col).alias("doc_b"))).withColumn(
            "jaccard", F.lit(0.0)
        )

    # Founding is keyed on sets/ (the commit point) with order/ written
    # in overwrite mode, mirroring incremental_containment_apply: a
    # crash between the order/ and sets/ writes leaves sets/ absent, so
    # the retry re-takes the founding branch and overwrites the orphan
    # order/ instead of wedging on errorifexists + a missing sets/.
    if not _os.path.exists(sets_dir):
        el = new_docs.select(
            F.col(id_col).alias("doc"),
            F.explode(word_shingles(text_col, k)).alias("s"),
        )
        el.groupBy("s").agg(F.count("*").alias("df")).write.mode(
            "overwrite"
        ).parquet(order_dir)
        order = spark.read.parquet(order_dir)
        sets = _apss_ranked_sets(
            new_docs, order, id_col, text_col, k, threshold
        ).localCheckpoint(eager=True)
        n_batch = sets.count()
        sets.write.parquet(sets_dir)
        pairs = _apss_verify(sets, sets, threshold, within_batch=True)
        n_pairs = pairs.count()
        return pairs, {
            "batch": n_batch, "replayed": 0, "appended": n_batch,
            "pairs_vs_history": 0, "pairs_in_batch": n_pairs,
        }

    order = spark.read.parquet(order_dir)
    history = spark.read.parquet(sets_dir)
    n_batch = new_docs.count()
    fresh_docs = new_docs.join(
        history.select(F.col("doc").alias(id_col)), id_col, "left_anti"
    )
    sets = _apss_ranked_sets(
        fresh_docs, order, id_col, text_col, k, threshold
    ).localCheckpoint(eager=True)
    n_fresh = sets.count()
    if n_fresh == 0:
        return _empty_pairs(), {
            "batch": n_batch, "replayed": n_batch, "appended": 0,
            "pairs_vs_history": 0, "pairs_in_batch": 0,
        }
    hist_pairs = _apss_verify(sets, history, threshold, within_batch=False)
    batch_pairs = _apss_verify(sets, sets, threshold, within_batch=True)
    n_hist = hist_pairs.count()
    n_in_batch = batch_pairs.count()
    sets.write.mode("append").parquet(sets_dir)
    return hist_pairs.unionByName(batch_pairs), {
        "batch": n_batch, "replayed": n_batch - n_fresh, "appended": n_fresh,
        "pairs_vs_history": n_hist, "pairs_in_batch": n_in_batch,
    }


def _apss_verify(
    fresh: DataFrame, other: DataFrame, threshold: float, within_batch: bool
) -> DataFrame:
    """Prefix equi-join candidates + exact Jaccard verify between a
    fresh-sets frame and another sets frame (both (doc, els, n, pre)).
    ``within_batch`` orders doc_a < doc_b to emit each pair once;
    otherwise every (fresh, other) pairing is a distinct pair and the
    output is canonicalized to doc_a < doc_b afterwards."""
    a = fresh.select(
        F.col("doc").alias("da"), F.col("n").alias("na"),
        F.explode("pre").alias("s"),
    ).alias("a")
    b = other.select(
        F.col("doc").alias("db"), F.col("n").alias("nb"),
        F.explode("pre").alias("s"),
    ).alias("b")
    cond = F.col("a.s") == F.col("b.s")
    cond = cond & (
        (F.col("a.da") < F.col("b.db"))
        if within_batch
        else (F.col("a.da") != F.col("b.db"))
    )
    cand = (
        a.join(b, cond)
        .filter(
            F.least("a.na", "b.nb") >= F.lit(threshold) * F.greatest("a.na", "b.nb")
        )
        .select("a.da", "b.db")
        .distinct()
    )
    cand = _widen_for_verify(cand, "da", "db")
    sa = fresh.select(
        F.col("doc").alias("da"), F.col("els").alias("_ea"), F.col("n").alias("n_a")
    )
    sb = other.select(
        F.col("doc").alias("db"), F.col("els").alias("_eb"), F.col("n").alias("n_b")
    )
    ov = F.size(F.array_intersect("_ea", "_eb"))
    return (
        cand.join(sa, "da")
        .join(sb, "db")
        .withColumn("_j", ov / (F.col("n_a") + F.col("n_b") - ov))
        .filter(F.col("_j") >= threshold)
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            F.round("_j", 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# q129: the pair→cluster step, ORACLE-verified — connected components
# over the q37c near-dup pair graph. dedup_clusters' iterative min-label
# propagation converges to "min doc id reachable", which a recursive
# transitive closure expresses exactly in SQL, so the clustering
# operator itself (not just its input pairs) is hash-checked vs DuckDB.
# ---------------------------------------------------------------------------


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, k=5, threshold=0.1)
    return dedup_clusters(pairs).orderBy("doc")


_DEDUP_CLUSTERS_ORACLE = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), sh AS (
  SELECT doc_id AS doc,
         unnest(list_distinct(
           CASE WHEN len(t) >= 5
                THEN list_transform(range(1, len(t) - 3),
                                    i -> array_to_string(t[i:i+4], ' '))
                ELSE [array_to_string(t, ' ')] END)) AS s
  FROM toks
), sizes AS (
  SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
  GROUP BY a.doc, b.doc
), edges AS (
  SELECT doc_a, doc_b FROM common
  JOIN sizes na ON na.doc = doc_a
  JOIN sizes nb ON nb.doc = doc_b
  WHERE ROUND(common / (na.n + nb.n - common), 6) >= 0.1
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM edges
  UNION
  SELECT doc_b, doc_a FROM edges
), cc AS (
  SELECT a AS doc, a AS lbl FROM sym
  UNION
  SELECT s.b AS doc, cc.lbl FROM cc JOIN sym s ON cc.doc = s.a
)
SELECT doc, MIN(lbl) AS cluster FROM cc GROUP BY doc ORDER BY doc
"""

QUERIES["q129_dedup_clusters"] = QuerySpec(_q_dedup_clusters, _DEDUP_CLUSTERS_ORACLE)


# ---------------------------------------------------------------------------
# asymmetric containment join (quote / subset inclusion)
# ---------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """DIRECTIONAL near-containment self-join: pairs (doc_a, doc_b)
    where C(A→B) = |A∩B| / |A| ≥ t over k-word shingle sets — the
    "small doc quoted inside a big doc" duplicate that symmetric
    Jaccard structurally misses: a 50-shingle snippet fully embedded in
    a 5000-shingle page has J ≈ 0.01 but C = 1.0. Training-data
    pipelines need this form to drop snippet-sized republications
    without also merging the unrelated long hosts.

    Candidate generation is prefix filtering on the CONTAINED side
    only (the containment analog of ``apss_prefix_pairs``): rank each
    doc's shingles by global rarity; if C(A→B) ≥ t then A and B share
    ≥ ⌈t·|A|⌉ elements, and A's un-indexed suffix holds only
    ⌈t·|A|⌉ − 1 of them — so at least one shared element sits in A's
    first |A| − ⌈t·|A|⌉ + 1 elements. B carries no size bound (any
    superset can contain A), so the B side indexes ALL its elements;
    fan-out on a hot element s is |prefixes holding s| × |docs holding
    s|, and hot elements — by rarity order — almost never enter a
    prefix, which is what keeps the join off the d² hot-key cliff.
    A size filter (|B| ≥ ⌈t·|A|⌉, since |∩| ≤ |B|) prunes the rest.

    Verification is exact: array_intersect over the full sets.
    Returns (doc_a, doc_b, containment), doc_a ≠ doc_b, doc_a the
    contained side. Self-pairs are excluded; both directions of a
    mutual near-equal pair are reported (directionality is the point).
    """
    el = df.select(
        F.col(id_col).alias("doc"), F.explode(word_shingles(text_col, k)).alias("s")
    ).localCheckpoint(eager=True)  # feeds document frequency AND ranked sets
    dfreq = el.groupBy("s").agg(F.count("*").alias("df"))
    sets = (
        el.join(dfreq, "s")
        .groupBy("doc")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("df", "s"))), lambda r: r["s"]
            ).alias("els")
        )
        .withColumn("n", F.size("els"))
    )
    pre = sets.select(
        "doc",
        "n",
        F.explode(
            F.expr(
                f"slice(els, 1, size(els) - cast(ceil({threshold} * size(els)) as int) + 1)"
            )
        ).alias("s"),
    )
    full = sets.select("doc", "n", F.explode("els").alias("s"))
    cand = (
        pre.alias("a")
        .join(
            full.alias("b"),
            (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") != F.col("b.doc")),
        )
        # |∩| ≥ t·|A| and |∩| ≤ |B| ⇒ |B| ≥ t·|A|
        .filter(F.col("b.n") >= F.lit(threshold) * F.col("a.n"))
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    cand = _widen_for_verify(cand, "doc_a", "doc_b")
    sa = sets.select(
        F.col("doc").alias("doc_a"), F.col("els").alias("_ea"), F.col("n").alias("n_a")
    )
    sb = sets.select(F.col("doc").alias("doc_b"), F.col("els").alias("_eb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "_c", F.size(F.array_intersect("_ea", "_eb")) / F.col("n_a")
        )
        .filter(F.col("_c") >= threshold)
        .select("doc_a", "doc_b", F.round("_c", 6).alias("containment"))
    )


def _q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return containment_pairs(docs, k=3, threshold=0.8).orderBy("doc_a", "doc_b")


# Exact semantics ⇒ the oracle is the unfiltered directional overlap
# ratio — prefix filtering must not change the answer.
_CONTAINMENT_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), sh AS (
  SELECT doc_id AS doc,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                ELSE [array_to_string(t, ' ')] END)) AS s
  FROM toks
), sizes AS (
  SELECT doc, COUNT(*) AS n FROM sh GROUP BY doc
), common AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS overlap
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc <> b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b,
       ROUND(overlap / na.n, 6) AS containment
FROM common
JOIN sizes na ON na.doc = doc_a
WHERE overlap / na.n >= 0.8
ORDER BY doc_a, doc_b
"""

QUERIES["q138_containment_join"] = QuerySpec(_q_containment_join, _CONTAINMENT_ORACLE)


def _containment_verify(
    cand: DataFrame, sets_a: DataFrame, sets_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact directional verify over candidate (doc_a, doc_b) pairs:
    containment = |A∩B| / |A| ≥ t, A the contained side."""
    cand = _widen_for_verify(cand, "doc_a", "doc_b")
    sa = sets_a.select(
        F.col("doc").alias("doc_a"), F.col("els").alias("_ea"),
        F.col("n").alias("n_a"),
    )
    sb = sets_b.select(F.col("doc").alias("doc_b"), F.col("els").alias("_eb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("_c", F.size(F.array_intersect("_ea", "_eb")) / F.col("n_a"))
        .filter(F.col("_c") >= threshold)
        .select("doc_a", "doc_b", F.round("_c", 6).alias("containment"))
    )


def incremental_containment_apply(
    spark: SparkSession,
    new_docs: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> "tuple[DataFrame, dict]":
    """EXACT directional containment for an ingest increment against
    the corpus history — ``containment_pairs``'s incremental form (the
    quote/subset duplicates a daily crawl must catch against everything
    already ingested, both directions: a fresh snippet quoted from a
    stored host AND a stored snippet that a fresh host now contains).

    Same frozen-founding-order contract as ``incremental_apss_apply``
    (one consistent rarity total order is all the prefix lemma needs;
    the containment prefix length is the SAME ``n − ⌈t·n⌉ + 1``
    formula, so the ranked-sets builder is shared). What containment
    adds is the ASYMMETRY of its candidate rule — a contained side's
    prefix must meet the container's FULL element list — so the store
    persists history under BOTH roles as append-only inverted indexes:

        order/      (s, df)    frozen founding rarity order
        sets/       (doc, els, n, pre)  full sets (verify + replay)
        els_index/  (doc, s)   every element  (fresh ⊂ history probe)
        pre_index/  (doc, s)   prefix elements (history ⊂ fresh probe)

    Per batch the probes are two equi-joins touching only postings that
    match the batch's elements — history text and history sets are
    never re-exploded. Ids already in ``sets/`` are replay no-ops, and
    ``sets/`` appends LAST — it is the commit: a crash after the index
    appends but before it merely re-appends the same postings on replay
    (candidate generation is distinct-normalized, so duplicates cost
    storage, never correctness), whereas committing sets first would
    leave docs invisible to every future probe — a silent recall hole.

    Returns (pairs, stats): pairs = (doc_a, doc_b, containment) with
    doc_a the contained side and at least one side fresh; the union of
    every batch's pairs equals the batch operator on the cumulative
    corpus (test-asserted).
    """
    import os as _os

    # in-batch id dedup (see incremental_dedup_apply)
    new_docs = new_docs.dropDuplicates([id_col])

    order_dir = _os.path.join(store_dir, "order")
    sets_dir = _os.path.join(store_dir, "sets")
    els_dir = _os.path.join(store_dir, "els_index")
    pre_dir = _os.path.join(store_dir, "pre_index")

    # heal a containment_corpus_delete interrupted mid-swap (the three
    # mutable tables swap independently; recover_swap is a no-op when
    # no backup exists)
    from wing_binlog_go_spark.streaming.maintenance import recover_swap

    for d in (sets_dir, els_dir, pre_dir):
        recover_swap(d)

    def _empty_pairs():
        c = new_docs.select(F.col(id_col)).limit(0)
        return c.select(
            F.col(id_col).alias("doc_a")
        ).crossJoin(c.select(F.col(id_col).alias("doc_b"))).withColumn(
            "containment", F.lit(0.0)
        )

    def explode_col(sets: DataFrame, col: str) -> DataFrame:
        return sets.select(F.col("doc"), F.explode(col).alias("s"))

    def within(sets: DataFrame) -> DataFrame:
        a = sets.select(F.col("doc").alias("doc_a"), F.explode("pre").alias("s"))
        b = sets.select(F.col("doc").alias("doc_b"), F.explode("els").alias("s"))
        cand = (
            a.join(b, "s")
            .filter(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        return _containment_verify(cand, sets, sets, threshold)

    if not _os.path.exists(sets_dir):
        # founding commit = the sets/ write (LAST); order and indexes
        # overwrite so a crashed founding attempt simply re-runs
        el = new_docs.select(
            F.col(id_col).alias("doc"),
            F.explode(word_shingles(text_col, k)).alias("s"),
        )
        el.groupBy("s").agg(F.count("*").alias("df")).write.mode(
            "overwrite"
        ).parquet(order_dir)
        order = spark.read.parquet(order_dir)
        sets = _apss_ranked_sets(
            new_docs, order, id_col, text_col, k, threshold
        ).localCheckpoint(eager=True)
        n_batch = sets.count()
        explode_col(sets, "els").write.mode("overwrite").parquet(els_dir)
        explode_col(sets, "pre").write.mode("overwrite").parquet(pre_dir)
        sets.write.parquet(sets_dir)
        pairs = within(sets).localCheckpoint(eager=True)
        return pairs, {
            "batch": n_batch, "replayed": 0, "appended": n_batch,
            "pairs_vs_history": 0, "pairs_in_batch": pairs.count(),
        }

    order = spark.read.parquet(order_dir)
    history = spark.read.parquet(sets_dir)
    n_batch = new_docs.count()
    fresh_docs = new_docs.join(
        history.select(F.col("doc").alias(id_col)), id_col, "left_anti"
    )
    sets = _apss_ranked_sets(
        fresh_docs, order, id_col, text_col, k, threshold
    ).localCheckpoint(eager=True)
    n_fresh = sets.count()
    if n_fresh == 0:
        return _empty_pairs(), {
            "batch": n_batch, "replayed": n_batch, "appended": 0,
            "pairs_vs_history": 0, "pairs_in_batch": 0,
        }
    els_index = spark.read.parquet(els_dir)
    pre_index = spark.read.parquet(pre_dir)
    # fresh ⊂ history: fresh prefixes meet history's FULL postings
    c1 = (
        sets.select(F.col("doc").alias("doc_a"), F.explode("pre").alias("s"))
        .join(els_index.withColumnRenamed("doc", "doc_b"), "s")
        .select("doc_a", "doc_b")
        .distinct()
    )
    # history ⊂ fresh: history's prefix postings meet fresh FULL elements
    c2 = (
        pre_index.withColumnRenamed("doc", "doc_a")
        .join(
            sets.select(F.col("doc").alias("doc_b"), F.explode("els").alias("s")),
            "s",
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    hist_pairs = _containment_verify(c1, sets, history, threshold).unionByName(
        _containment_verify(c2, history, sets, threshold)
    ).localCheckpoint(eager=True)
    batch_pairs = within(sets).localCheckpoint(eager=True)
    n_hist = hist_pairs.count()
    n_in_batch = batch_pairs.count()
    explode_col(sets, "els").write.mode("append").parquet(els_dir)
    explode_col(sets, "pre").write.mode("append").parquet(pre_dir)
    sets.write.mode("append").parquet(sets_dir)  # the commit
    return hist_pairs.unionByName(batch_pairs), {
        "batch": n_batch, "replayed": n_batch - n_fresh, "appended": n_fresh,
        "pairs_vs_history": n_hist, "pairs_in_batch": n_in_batch,
    }


def incremental_containment_dedup_apply(
    spark: SparkSession,
    new_docs: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> "tuple[DataFrame, dict]":
    """The DEDUP application of incremental containment: drop each
    fresh doc that is ≥t-contained in the corpus history or in another
    fresh doc — the quote/snippet-republication filter a crawl feed
    needs (MinHash resemblance is blind to it; see q138). Only
    SURVIVORS enter the store, so a dropped snippet can never later
    suppress unrelated content.

    Drop rule, deterministic and replay-stable: fresh A drops iff some
    B exists with C(A→B) ≥ t where B is history, or B is fresh and NOT
    (C(B→A) ≥ t with A < B) — mutual near-equals keep the min id (the
    same conservative survivor rule as the MinHash and semantic
    incremental dedups), one-directional containment always drops the
    contained side regardless of id.

    Same store layout, frozen founding order, and commit ordering as
    ``incremental_containment_apply`` (indexes first, ``sets/`` last =
    the commit; id-presence replay no-ops), plus the survivors' text
    rides in ``sets/`` so the store doubles as the deduped corpus.
    Returns (survivor_docs, stats).
    """
    import os as _os

    # in-batch id dedup (see incremental_dedup_apply)
    new_docs = new_docs.dropDuplicates([id_col])

    order_dir = _os.path.join(store_dir, "order")
    sets_dir = _os.path.join(store_dir, "sets")
    els_dir = _os.path.join(store_dir, "els_index")
    pre_dir = _os.path.join(store_dir, "pre_index")

    # heal a containment_corpus_delete interrupted mid-swap
    from wing_binlog_go_spark.streaming.maintenance import recover_swap

    for d in (sets_dir, els_dir, pre_dir):
        recover_swap(d)

    def explode_col(sets: DataFrame, col: str) -> DataFrame:
        return sets.select(F.col("doc"), F.explode(col).alias("s"))

    def contained_pairs(a_sets: DataFrame, b_post: DataFrame, b_sets: DataFrame):
        """(doc_a, doc_b, ) where fresh doc_a ⊂ doc_b at ≥ t."""
        cand = (
            a_sets.select(F.col("doc").alias("doc_a"), F.explode("pre").alias("s"))
            .join(b_post.withColumnRenamed("doc", "doc_b"), "s")
            .filter(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        return _containment_verify(cand, a_sets, b_sets, threshold)

    founding = not _os.path.exists(sets_dir)
    if founding:
        el = new_docs.select(
            F.col(id_col).alias("doc"),
            F.explode(word_shingles(text_col, k)).alias("s"),
        )
        el.groupBy("s").agg(F.count("*").alias("df")).write.mode(
            "overwrite"
        ).parquet(order_dir)
        fresh_docs = new_docs
        n_replayed = 0
        n_batch = new_docs.count()
    else:
        history_ids = spark.read.parquet(sets_dir).select(
            F.col("doc").alias(id_col)
        )
        n_batch = new_docs.count()
        fresh_docs = new_docs.join(history_ids, id_col, "left_anti")
    order = spark.read.parquet(order_dir)
    sets = (
        _apss_ranked_sets(fresh_docs, order, id_col, text_col, k, threshold)
        .join(
            fresh_docs.select(
                F.col(id_col).alias("doc"), F.col(text_col).alias("_text")
            ),
            "doc",
        )
        .localCheckpoint(eager=True)
    )
    n_fresh = sets.count()
    if not founding:
        n_replayed = n_batch - n_fresh
    stats = {
        "batch": n_batch, "replayed": n_replayed, "appended": 0,
        "dropped_vs_history": 0, "dropped_in_batch": 0,
    }
    empty = new_docs.limit(0)
    if n_fresh == 0:
        return empty, stats

    drop_hist = sets.select(F.col("doc").alias("doc_a")).limit(0)
    if not founding:
        history = spark.read.parquet(sets_dir)
        els_index = spark.read.parquet(els_dir)
        drop_hist = contained_pairs(sets, els_index, history).select(
            "doc_a"
        ).distinct()
    fwd = contained_pairs(sets, explode_col(sets, "els"), sets)
    rev = fwd.select(
        F.col("doc_a").alias("doc_b"), F.col("doc_b").alias("doc_a")
    ).withColumn("_mutual", F.lit(True))
    drop_batch = (
        fwd.join(rev, ["doc_a", "doc_b"], "left")
        # one-directional: contained side drops; mutual: min id survives
        .filter(~(F.coalesce("_mutual", F.lit(False)) & (F.col("doc_a") < F.col("doc_b"))))
        .select("doc_a")
        .distinct()
    )
    stats["dropped_vs_history"] = drop_hist.count()
    stats["dropped_in_batch"] = drop_batch.count()
    dropped = drop_hist.unionByName(drop_batch).distinct()
    survivors_sets = sets.join(
        dropped.withColumnRenamed("doc_a", "doc"), "doc", "left_anti"
    ).localCheckpoint(eager=True)
    stats["appended"] = survivors_sets.count()
    mode = "overwrite" if founding else "append"
    idx = survivors_sets.select("doc", "els", "n", "pre", "_text")
    explode_col(idx, "els").write.mode(mode).parquet(els_dir)
    explode_col(idx, "pre").write.mode(mode).parquet(pre_dir)
    idx.write.mode(mode).parquet(sets_dir)  # the commit, always LAST
    survivors = new_docs.join(
        survivors_sets.select(F.col("doc").alias(id_col)), id_col, "left_semi"
    )
    return survivors, stats


def containment_corpus_delete(
    spark: SparkSession,
    store_dir: str,
    ids: "list | DataFrame",
    id_col: str = "doc_id",
) -> dict:
    """OFFLINE retraction for the containment corpus store — the delete
    path ``containment_corpus_writer`` refuses online. Three mutable
    tables rewrite (one ``rewrite_dir`` each): ``sets/``
    FIRST — it is the presence authority, so the retraction is visible
    the moment it lands — then the two posting indexes; an orphaned
    posting left by a crash between the swaps is harmless (the verify
    join reads ``sets/``, so a candidate against a deleted doc drops
    out — the same duplicates-cost-storage-never-correctness argument
    the append path makes), and re-running the delete sweeps orphans
    because the index rewrites run whenever ANY table still holds the
    ids. ``order/`` is untouched: the frozen founding rarity order only
    needs to be a consistent total order, and keeping a deleted doc's
    df contribution preserves every stored prefix's validity.
    Idempotent. Returns {"deleted_ids": n}."""
    import os as _os

    from wing_binlog_go_spark.streaming.maintenance import (
        recover_swap,
        rewrite_dir,
    )

    sets_dir = _os.path.join(store_dir, "sets")
    els_dir = _os.path.join(store_dir, "els_index")
    pre_dir = _os.path.join(store_dir, "pre_index")
    for d in (sets_dir, els_dir, pre_dir):
        recover_swap(d)
    if isinstance(ids, DataFrame):
        doomed = ids.select(F.col(ids.columns[0]).alias("doc"))
    else:
        doomed = spark.createDataFrame([(int(i),) for i in ids], "doc long")

    n = (
        spark.read.parquet(sets_dir)
        .join(doomed, "doc", "left_semi")
        .select("doc").distinct().count()
    )
    touched_any = n > 0
    for d in (els_dir, pre_dir):
        if not touched_any:
            touched_any = not (
                spark.read.parquet(d)
                .join(doomed, "doc", "left_semi")
                .isEmpty()
            )
    if not touched_any:
        return {"deleted_ids": 0}

    for d in (sets_dir, els_dir, pre_dir):  # sets FIRST (see docstring)
        rewrite_dir(d, spark.read.parquet(d).join(doomed, "doc", "left_anti"))
        spark.catalog.refreshByPath(d)
    return {"deleted_ids": n}


def minhash_bottomk_rolling(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    size: int = 8,
    base: int = 31,
) -> DataFrame:
    """Bottom-``size`` sketch of DISTINCT rolling-hashed shingles — the
    hash-checkable twin of ``functions.text.minhash_sketch`` (q39g,
    whose xxhash64 has no SQL replay): same compact doc fingerprint,
    same bottom-k Jaccard-overlap estimator, but under the q37f/q149b
    polynomial family so the sketch TABLE itself cross-engine
    hash-matches. Distinct is taken on the HASH values (two shingles
    colliding must fill one slot in both engines). Zero shuffle —
    per-row fold, sort, slice."""
    sh = df.select(
        F.col(id_col),
        F.filter(
            word_shingles(text_col, shingle_k), lambda s: F.length(s) > 0
        ).alias("_sh"),
    ).filter(F.size("_sh") > 0)
    hashes = F.array_distinct(
        F.transform(F.col("_sh"), lambda s: _roll(s, base))
    )
    sketch = F.slice(F.array_sort(hashes), 1, size)
    return sh.select(
        F.col(id_col),
        F.array_join(
            F.transform(sketch, lambda x: x.cast("string")), "|"
        ).alias("sketch"),
    )


def _q_minhash_sketch_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # r13, the q39d early-limit transform (guide §1.2): keep the 200
    # smallest doc_ids FIRST (among docs with a non-empty shingle set —
    # the same rows the sketch builder itself would keep, so the
    # composition is result-identical), then run the per-char rolling
    # fold + sort + slice on those 200 rows instead of the corpus. The
    # cheap shingle non-emptiness test is the only per-row work that
    # stays corpus-wide (the limit's filter needs it); the fold moved
    # from O(corpus) to O(200). sf1synth: 11.8 s → measured after.
    nonempty = docs.select("doc_id", "text").filter(
        F.size(
            F.filter(word_shingles("text", 3), lambda s: F.length(s) > 0)
        )
        > 0
    )
    return minhash_bottomk_rolling(nonempty.orderBy("doc_id").limit(200))


def _minhash_sketch_rolling_oracle() -> str:
    roll = (
        f"list_reduce(list_prepend({_MH_ROLL_SEED}::BIGINT,"
        " list_transform(range(1, length(s) + 1), i -> ascii(s[i]))),"
        f" (a, b) -> (a * 31 + b) % {_MH_ROLL_P})"
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), sh AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(t) >= 3
                THEN list_transform(range(1, len(t) - 1),
                                    i -> array_to_string(t[i:i+2], ' '))
                ELSE [array_to_string(t, ' ')] END)) AS s
  FROM base
), shf AS MATERIALIZED (
  SELECT doc_id, s FROM sh WHERE length(s) > 0
)
SELECT doc_id,
       array_to_string(
         list_transform(
           list_slice(list_sort(list_distinct(list({roll}))), 1, 8),
           x -> x::VARCHAR),
         '|') AS sketch
FROM shf GROUP BY doc_id ORDER BY doc_id LIMIT 200
"""


QUERIES["q159_minhash_sketch_rolling"] = QuerySpec(
    _q_minhash_sketch_rolling, _minhash_sketch_rolling_oracle()
)


def dedup_corpus_update(
    spark: SparkSession,
    store_dir: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **apply_kwargs,
) -> "tuple[DataFrame, dict]":
    """OFFLINE update for the MinHash corpus/signature store — the
    UPDATE-envelope story for the route that refuses updates online
    (``dedup_corpus_writer``'s insert-only probe): retract the ids
    (:func:`dedup_corpus_delete` — staged rewrite + atomic swap) then
    re-run the increment dedup on the new text
    (:func:`incremental_dedup_apply` — the ids are gone from the store,
    so they re-enter as fresh). Survivor-store semantics, same as
    :func:`~wing_binlog_go_spark.operators.similarity.semantic_corpus_update`:
    the updated doc is deduped AS IF FRESH — if its new text now
    near-matches surviving history it is dropped (an update that turns
    a doc into a duplicate removes it, exactly as the batch operator
    would); updates never resurrect docs the old text suppressed. Both
    halves idempotent ⇒ re-running after any crash converges; unknown
    ids degrade to inserts; a missing store makes this a first-batch
    ingest. Returns the apply's ``(survivor_docs, stats)`` with
    ``stats["deleted"]`` added."""
    import os as _os

    from wing_binlog_go_spark.streaming.maintenance import recover_swap

    recover_swap(store_dir)  # roll an interrupted delete forward first
    if _os.path.isdir(store_dir):
        dstats = dedup_corpus_delete(
            spark, store_dir, new_docs.select(id_col), id_col=id_col
        )
    else:
        dstats = {"deleted_ids": 0}
    survivors, astats = incremental_dedup_apply(
        spark, new_docs, store_dir, id_col=id_col, text_col=text_col,
        **apply_kwargs,
    )
    astats = dict(astats)
    astats["deleted"] = dstats["deleted_ids"]
    return survivors, astats


def containment_corpus_update(
    spark: SparkSession,
    store_dir: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **apply_kwargs,
) -> "tuple[DataFrame, dict]":
    """OFFLINE update for the containment corpus store — retract the
    ids (:func:`containment_corpus_delete`: ``sets/`` first = presence
    authority, then both posting indexes) and re-run the containment
    dedup on the new text (:func:`incremental_containment_dedup_apply`).
    The frozen founding rarity order is untouched by both halves, so
    every stored prefix stays valid across any number of updates —
    the new text's elements rank under the SAME total order its
    neighbors were indexed under. Survivor-store semantics as in
    :func:`dedup_corpus_update`; both halves idempotent ⇒
    crash-healable whole. Returns the apply's ``(survivor_docs,
    stats)`` with ``stats["deleted"]`` added."""
    import os as _os

    from wing_binlog_go_spark.streaming.maintenance import recover_swap

    sets_dir = _os.path.join(store_dir, "sets")
    for sub in ("sets", "els_index", "pre_index"):
        recover_swap(_os.path.join(store_dir, sub))
    if _os.path.isdir(sets_dir):
        dstats = containment_corpus_delete(
            spark, store_dir, new_docs.select(id_col), id_col=id_col
        )
    else:
        dstats = {"deleted_ids": 0}
    survivors, astats = incremental_containment_dedup_apply(
        spark, new_docs, store_dir, id_col=id_col, text_col=text_col,
        **apply_kwargs,
    )
    astats = dict(astats)
    astats["deleted"] = dstats["deleted_ids"]
    return survivors, astats


# ---------------------------------------------------------------------------
# Weighted all-pairs similarity join (q168) — TF-IDF cosine APSS
# ---------------------------------------------------------------------------


def _weighted_apss_candidates_dense(
    unit: DataFrame,
    order: DataFrame,
    n_docs: int,
    vocab: int,
    threshold: float,
) -> DataFrame:
    """Blocked dense-GEMM candidate generation for SMALL vocabularies.

    With a tiny vocabulary every posting list is hot: pairs sharing ≥1
    term ≈ all pairs, so the prefix-postings self-join degenerates to
    Σ_t c_t² row-products fanned over at most |vocab| shuffle keys —
    measured at the synthetic sf1 stress (31-term vocab, 50k docs):
    ~3.7·10¹⁰ matched rows on ≤31-way parallelism, unkillable by any
    candidate bound because the bound never sees a row until the join
    has produced it. The dense shape is the answer Spark can execute:
    docs become unit-norm vocab-dim vectors, doc blocks pair up
    (i ≤ j — each unordered pair lands in exactly ONE block-pair
    group), and one NumPy GEMM per group scores every cross pair,
    emitting only those with dot ≥ t − 1e-6. O(n²·V) flops total but
    vectorized and perfectly balanced across (n/block)² tasks, with no
    shuffle wider than rows × n_blocks.

    Python boundary note (the similarity.py IVF-assignment precedent):
    this is one BLAS call per block pair inside applyInPandas, not
    row-at-a-time Python — the exact work a JVM expression cannot
    express. The GEMM dot is a float64 sum whose error (~1e-13 for
    vocab-sized folds) is far inside the 1e-6 candidate margin; every
    candidate is re-scored by the exact pinned-order verify fold, so
    the output (and the oracle hash) is unchanged by this path.
    """
    import numpy as np
    import pandas as pd

    from wing_binlog_go_spark.functions.envelope import with_dense_index

    spark = unit.sparkSession
    id_type = unit.schema["doc"].dataType.simpleString()
    # Two independent per-group memory bounds pick the block size:
    # (a) ~32 MB per densified block matrix (block × vocab doubles);
    # (b) the RAW posting frame the group receives BEFORE densifying —
    #     ~2 blocks × MAX-terms-per-doc Arrow rows — capped at ~2M rows
    #     (a few hundred MB of pandas worst-case). Sized from the max,
    #     not the corpus mean (the r11 ADVICE finding): a skewed block
    #     of long documents could exceed the mean-based cap by up to
    #     vocab/avg_terms. The max is one cheap agg over the posting
    #     frame; with the 256-row floor the worst group is still only
    #     2·256·vocab ≤ 2·256·1024 rows.
    max_terms = int(
        unit.groupBy("doc").count().agg(F.max("count")).first()[0] or 1
    )
    block = max(
        256,
        min(
            8192,
            (32 << 20) // max(vocab * 8, 1),
            2_000_000 // (2 * max_terms),
        ),
    )
    n_blocks = max(1, -(-n_docs // block))
    docs_idx = (
        with_dense_index(unit.select("doc").distinct(), [F.col("doc")], out="_didx")
        .withColumn("_bid", ((F.col("_didx") - 1) / block).cast("int"))
        .drop("_didx")
    )
    rows = (
        unit.join(order.select("term", "trank"), "term")
        .join(docs_idx, "doc")
        .select("doc", "trank", "w", "_bid")
    )
    # block-pair ids generated DISTRIBUTIVELY (spark.range self-join on
    # i ≤ j), never as a driver-side Python list — O(n_blocks²) tuples
    # through createDataFrame would serialize tens of millions of rows
    # on the driver before any distributed work for a multi-million-doc
    # small-vocab corpus (the r11 ADVICE finding)
    pair_ids = (
        spark.range(n_blocks)
        .select(F.col("id").cast("int").alias("bid_a"))
        .join(
            spark.range(n_blocks).select(F.col("id").cast("int").alias("bid_b")),
            F.col("bid_a") <= F.col("bid_b"),
        )
    )
    # broadcast only while the pair table is broadcast-sized; past that
    # (~2M pairs ≈ 16 MB) let it shuffle — correctness is identical
    n_pairs = n_blocks * (n_blocks + 1) // 2
    if n_pairs <= 2_000_000:
        pair_ids = F.broadcast(pair_ids)
    side_a = rows.join(
        pair_ids, rows["_bid"] == pair_ids["bid_a"]
    ).select("doc", "trank", "w", "bid_a", "bid_b", F.lit(0).alias("_side"))
    # diagonal groups reuse side a as both operands — don't ship twice
    side_b = rows.join(
        pair_ids.filter(F.col("bid_a") != F.col("bid_b")),
        rows["_bid"] == pair_ids["bid_b"],
    ).select("doc", "trank", "w", "bid_a", "bid_b", F.lit(1).alias("_side"))
    thr = float(threshold) - 1e-6
    n_dims = int(vocab)

    def emit(key, pdf):
        a = pdf[pdf["_side"] == 0]
        b = a if key[0] == key[1] else pdf[pdf["_side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"doc_a": [], "doc_b": []})

        def mat(part):
            ids = np.sort(part["doc"].unique())
            pos = {d: i for i, d in enumerate(ids)}
            m = np.zeros((len(ids), n_dims))
            m[
                part["doc"].map(pos).to_numpy(),
                part["trank"].to_numpy(dtype=np.int64) - 1,
            ] = part["w"].to_numpy(dtype=np.float64)
            return ids, m

        ia, ma = mat(a)
        ib, mb = mat(b) if key[0] != key[1] else (ia, ma)
        out_a: list = []
        out_b: list = []
        step = max(1, (8 << 20) // max(len(ib) * 8, 1))
        for s in range(0, len(ia), step):
            gram = ma[s : s + step] @ mb.T
            hit = np.argwhere(gram >= thr)
            if hit.size:
                da, db = ia[hit[:, 0] + s], ib[hit[:, 1]]
                keep = da < db
                out_a.append(da[keep])
                out_b.append(db[keep])
        if not out_a:
            return pd.DataFrame({"doc_a": [], "doc_b": []})
        return pd.DataFrame(
            {"doc_a": np.concatenate(out_a), "doc_b": np.concatenate(out_b)}
        )

    return (
        side_a.unionByName(side_b)
        .groupBy("bid_a", "bid_b")
        .applyInPandas(emit, schema=f"doc_a {id_type}, doc_b {id_type}")
    )


def weighted_apss_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
    ext_beta: float = 0.2,
    dense_vocab_cutoff: int = 1024,
) -> DataFrame:
    """EXACT all-pairs TF-IDF cosine join — the WEIGHTED member of the
    APSS family (Bayardo et al. 2007 "Scaling Up All Pairs Similarity
    Search"): q117's prefix filter finds docs sharing enough SET
    elements, this finds docs whose WEIGHTED term profiles align —
    boilerplate variants with different rare-word padding, translations
    sharing named entities, templated docs — the similarity the
    unweighted overlap misses.

    Emit contract: ALL pairs whose 6dp-ROUNDED cosine ≥ t — i.e. exact
    cos ≥ t − 5e-7 — which is what the oracle states directly (full
    term join + rounded filter). Every candidate device below runs at
    the effective threshold t_eff = t − 1e-6 so the rounding band can
    never be pruned away.

    Candidate rule (symmetric t_eff/2 suffix bound): order the
    vocabulary once globally by (max normalized weight DESC, term);
    each doc emits postings ONLY for its prefix — the minimal head of
    its terms in that order such that the remaining tail's bound
    Σ w_d(t)·maxw(t) < t_eff/2 (membership: inclusive tail bound ≥
    t_eff/2). Soundness: a pair sharing no prefix∩prefix term has
    every shared term in one of the two tails, so dot ≤ tail_bound(a)
    + tail_bound(b) < t_eff < t − 5e-7 — below everything the rounded
    verify can emit; candidates are exactly the prefix-posting
    equi-join, never doc × doc.

    Candidate TIGHTENING (Bayardo norm bounds / L2AP-style suffix-norm
    filter, adapted to the symmetric-prefix formulation): the raw t/2
    bound admits every pair sharing ONE prefix term, which explodes on
    duplicate-heavy corpora (measured ~10⁸ candidates at the synthetic
    sf1 stress). Two additions, both on the EXISTING postings join:

    * L2 prefix extension: beyond the sound t/2 core, each doc keeps
      posting rows until its remaining suffix L2-norm falls below
      ``ext_beta`` (default 0.2). Extension rows do NOT admit new
      candidates — a pair must still share a CORE∩CORE term (the t/2
      soundness argument) — they only feed the bound below. Measured
      at sf0.1 the extension adds <5 % posting rows because the
      high-weight head already carries most of the norm mass.
    * Cauchy–Schwarz pair bound: the pair groupBy (the SAME shuffle
      the old distinct() paid) accumulates the exact partial dot over
      matched posted terms, dot_pp = Σ_M w_a·w_b, plus Σ_M w_a² and
      Σ_M w_b². Every unmatched shared term is un-posted by at least
      one side, so its mass sits in a tail of norm tn_d =
      ‖d beyond its posted rows‖ ≤ ext_beta, and by Cauchy–Schwarz
      dot ≤ dot_pp + tn_a·√(1−Σ_M w_b²) + tn_b·√(1−Σ_M w_a²).
      Pairs whose bound cannot reach t_eff are dropped before the
      verify join (measured: 12.49 M → 34 k candidates at sf0.1,
      366×).

    The bound is ≥ the true dot under exact arithmetic; the filter
    compares against t_eff = t − 1e-6, which sits a full rounding
    half-step PLUS float-order noise below anything the rounded
    verify emits (exact cos ≥ t − 5e-7) — pruned pairs provably
    verify below t after rounding, so the output (and the oracle
    hash) is unchanged. ``ext_beta`` trades posting volume for
    pruning power:
    lower β posts more of each vector (β=0 posts everything — exact
    dots, zero false candidates, maximal join width); on a corpus of
    long documents raise β toward t/2 to keep posting lists short.

    Float determinism (the oracle hash-matches the full pipeline): the
    doc norm, the per-doc suffix bounds, and the verify dot product are
    ALL computed as folds over term-ORDERED lists (sort_array +
    aggregate / DuckDB list_reduce over ORDER BY), so the float
    addition order is pinned on both engines; the threshold compares
    the 6dp-rounded cosine (the q37c convention).

    Scale shape: tokenize/tf/df/norms are partial-agg one-pass stages;
    the global term order is one vocabulary-sized window (freeze it
    like the containment founding order when the vocab outgrows one
    stage); postings join on term id with the prefix filter killing
    the hot-term fan-out exactly as PPJoin does for sets; verify joins
    touch candidate pairs only. Returns (doc_a, doc_b, cos_r).
    """
    # The verify emits pairs whose 6dp-ROUNDED cosine >= t, i.e. exact
    # cos >= t - 5e-7. Every completeness device below therefore runs
    # at the effective threshold t - 1e-6 (margin 2x the rounding
    # half-step, absorbing the ~1e-13 float-order noise in the bound
    # sums): the t/2 core rule recalls every pair the ROUNDED filter
    # can emit, and the Cauchy-Schwarz prune can never drop one.
    t_eff = float(threshold) - 1e-6
    t_half = t_eff / 2.0

    tok = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(F.split(F.lower(text_col), " ")).alias("term"),
        )
        .filter(F.length("term") > 0)
        .groupBy("doc", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    # one scalar action: doc count (for idf) + posting count / term
    # bytes (to size the verify-stage profile broadcast in BYTES — a
    # doc-count gate alone lets long documents push the profile table
    # past Spark's hard 8 GB broadcast limit and fail the job)
    _stats = tok.agg(
        F.countDistinct("doc").alias("nd"),
        F.countDistinct("term").alias("nv"),
        F.count("*").alias("np"),
        F.sum(F.length("term")).alias("tl"),
    ).first()
    n_docs = int(_stats["nd"] or 0)
    vocab = int(_stats["nv"] or 0)
    n_postings = int(_stats["np"] or 0)
    term_chars = int(_stats["tl"] or 0)
    dfreq = tok.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    w_raw = tok.join(dfreq, "term").select(
        "doc", "term", (F.col("tf") * F.log(1.0 + F.lit(float(n_docs)) / F.col("df"))).alias("w")
    )
    # norm via term-ordered fold (pinned float addition order)
    norms = (
        w_raw.groupBy("doc")
        .agg(
            F.sqrt(
                F.aggregate(
                    F.sort_array(F.collect_list(F.struct("term", "w"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["w"] * x["w"],
                )
            ).alias("nn")
        )
    )
    unit = w_raw.join(norms, "doc").select(
        "doc", "term", (F.col("w") / F.col("nn")).alias("w")
    ).localCheckpoint(eager=True)  # feeds maxw, postings, and verify

    maxw = unit.groupBy("term").agg(F.max("w").alias("maxw"))
    # global vocabulary rank WITHOUT a partition-less window (which
    # sorts the whole vocabulary on one task — the q53 flaw): the
    # two-phase range-partitioned running count gives the identical
    # row_number because the (maxw DESC, term) order is total (term is
    # unique), so the tail-bound folds and the oracle hash are unchanged
    from wing_binlog_go_spark.functions.envelope import with_dense_index

    order = with_dense_index(
        maxw, [F.col("maxw").desc(), F.col("term")], out="trank"
    )
    ranked = unit.join(order, "term")
    # inclusive tail bound per (doc, term): fold w·maxw over the doc's
    # terms from the END of the global order — a rank-DESC running sum
    # (total order ⇒ pinned float addition order)
    w_tail = (
        Window.partitionBy("doc")
        .orderBy(F.desc("trank"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    use_dense = 0 < vocab <= dense_vocab_cutoff
    if not use_dense and dense_vocab_cutoff > 0 and vocab > 0:
        # COST-MODEL extension past the hard cutoff (r12 crossover
        # probe, 20k Zipf-skewed docs): the blocked GEMM sustained
        # ~3·10¹¹ flop/s while the posting self-join — skew-limited by
        # its hot shuffle keys — processed ~10⁷–10⁸ rows/s, and dense
        # beat sparse at EVERY probed vocab (1k: 7.9 vs 248.5 s, 4k:
        # 13.3 vs 170.9, 10k: 18.3 vs 80.8). Sparse join work scales
        # with Σ_t df_t² (its matched-row count before pruning), dense
        # with n²·V; prefer dense when n²·V < Σdf² × 3000 (the
        # measured rate ratio with a 3× safety margin toward sparse,
        # whose asymptotics in n are better on flat-df corpora).
        # Feasibility gate: the GEMM schedules ~n_blocks²/2 groups;
        # past ~200k groups task scheduling dominates — stay sparse.
        sum_df2 = float(
            dfreq.agg(F.sum(F.col("df") * F.col("df"))).first()[0] or 0.0
        )
        dense_flops = float(n_docs) * float(n_docs) * float(vocab)
        block_est = max(256, min(8192, (32 << 20) // max(vocab * 8, 1)))
        n_blocks_est = -(-n_docs // block_est)
        use_dense = (
            dense_flops < sum_df2 * 3000.0
            and n_blocks_est * (n_blocks_est + 1) // 2 <= 200_000
        )
    if use_dense:
        # tiny vocabulary ⇒ every posting list is hot and the sparse
        # self-join degenerates quadratically on ≤|vocab| shuffle keys
        # (see _weighted_apss_candidates_dense) — candidates come from
        # the blocked GEMM instead; the verify below is unchanged.
        # Forced-sparse callers (dense_vocab_cutoff=0, the q168b oracle
        # twin) never reach either branch of the dispatch.
        cand = _weighted_apss_candidates_dense(
            unit, order, n_docs, vocab, threshold
        )
        return _weighted_apss_verify(unit, cand, threshold, n_postings, term_chars)
    # posted rows = sound t/2 core ∪ L2 extension (docstring); both
    # membership rules are monotone along the rank order, so the
    # posted set stays a rank-closed head of each doc's terms and
    # tn = the norm of everything after the LAST posted row — the
    # second/third windows share the doc partitioning, no new shuffle
    prefix = (
        ranked.withColumn("tailb", F.sum(F.col("w") * F.col("maxw")).over(w_tail))
        .withColumn("sn2", F.sum(F.col("w") * F.col("w")).over(w_tail))
        .withColumn("is_core", F.col("tailb") >= t_half)
        .filter(
            (F.col("tailb") >= t_half)
            | (F.col("sn2") >= float(ext_beta) * float(ext_beta))
        )
        .withColumn(
            "tn",
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    F.min(F.col("sn2") - F.col("w") * F.col("w")).over(
                        Window.partitionBy("doc")
                    ),
                )
            ),
        )
        .select("doc", "term", "w", "is_core", "tn")
    )
    matches = prefix.select(
        F.col("doc").alias("doc_a"), "term",
        F.col("w").alias("wa"), F.col("is_core").alias("ca"),
        F.col("tn").alias("tna"),
    ).join(
        prefix.select(
            F.col("doc").alias("doc_b"), "term",
            F.col("w").alias("wb"), F.col("is_core").alias("cb"),
            F.col("tn").alias("tnb"),
        ),
        "term",
    ).filter(F.col("doc_a") < F.col("doc_b"))
    # the pair groupBy replaces the old distinct() — same shuffle keys,
    # cheap multiply-add aggregates per matched row — and prunes pairs
    # whose Cauchy–Schwarz bound cannot reach t. first(tn*) is a
    # per-doc constant; the float margin is in the docstring.
    _ra = F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("ma2")))
    _rb = F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("mb2")))
    cand = (
        matches.groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).alias("dot_pp"),
            F.sum(F.col("wa") * F.col("wa")).alias("ma2"),
            F.sum(F.col("wb") * F.col("wb")).alias("mb2"),
            F.max(F.col("ca") & F.col("cb")).alias("has_core"),
            F.first("tna").alias("tna"),
            F.first("tnb").alias("tnb"),
        )
        .filter(
            F.col("has_core")
            & (
                F.col("dot_pp") + F.col("tna") * _rb + F.col("tnb") * _ra
                >= t_eff
            )
        )
        .select("doc_a", "doc_b")
    )
    return _weighted_apss_verify(
        unit, cand, threshold, n_postings, term_chars
    )


def _weighted_apss_verify(
    unit: DataFrame,
    cand: DataFrame,
    threshold: float,
    n_postings: int,
    term_chars: int,
) -> DataFrame:
    """Exact verify shared by the sparse-postings and dense-GEMM
    candidate paths — the stage whose float order the oracle replays.

    Verify WITHOUT the per-(pair, term) groupBy: the old form joined
    candidates to per-term weight rows and collect_list-sorted every
    pair's shared terms — an object-aggregation sort whose spill grew
    with candidates × terms (measured: filled the disk at the
    synthetic sf1 corpus, where 10 near-copies per doc multiply true
    pairs ~1000×). Each doc's profile now rides as ONE row (sorted
    term array + term→weight map); the shared terms are
    array_intersect of two sorted arrays — which preserves the first
    array's ascending term order, exactly the old fold's sort order —
    and the dot product folds map lookups in that same order, so the
    floats (and the oracle hash) are bit-identical while the
    per-pair state is one bounded row.
    """
    cand = _widen_for_verify(cand, "doc_a", "doc_b")
    profiles = unit.groupBy("doc").agg(
        F.sort_array(F.collect_list("term")).alias("_terms"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("term", "w")))
        ).alias("_wm"),
    )
    pa = profiles.select(
        F.col("doc").alias("doc_a"),
        F.col("_terms").alias("_tsa"), F.col("_wm").alias("_wma"),
    )
    pb = profiles.select(
        F.col("doc").alias("doc_b"),
        F.col("_terms").alias("_tsb"), F.col("_wm").alias("_wmb"),
    )
    # Broadcast gate in BYTES, not doc count: each profile row carries
    # the doc's full term array + term→weight map, so long documents
    # (thousands of unique terms) blow a count-only gate past Spark's
    # HARD 8 GB broadcast-table limit — a job failure, not a spill.
    # Estimate from the posting stats already collected: per posting ≈
    # term chars twice (array + map key, UTF-8) + 8 B weight + ~24 B
    # object overhead. Gate at 2 GiB (4× clear of the hard limit).
    # Past the gate the joins fall back to shuffles — slower but
    # correct at any corpus size; the candidate stream stays thin
    # (a few longs per pair) while the corpus allows map-side folds.
    est_profile_bytes = 2 * term_chars + 32 * n_postings
    if est_profile_bytes <= 2 << 30:
        pa, pb = F.broadcast(pa), F.broadcast(pb)
    verified = (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.aggregate(
                    F.array_intersect("_tsa", "_tsb"),
                    F.lit(0.0),
                    lambda acc, t: acc
                    + F.element_at("_wma", t) * F.element_at("_wmb", t),
                ),
                6,
            ).alias("cos_r"),
        )
        .filter(F.col("cos_r") >= threshold)
    )
    return verified


def _q_weighted_apss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wing_binlog_go_spark.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    return weighted_apss_pairs(docs, threshold=0.9).orderBy("doc_a", "doc_b")


def _weighted_apss_oracle(threshold: float = 0.9) -> str:
    # Candidates = DISTINCT pairs sharing ANY term: every pair with
    # cos > 0 shares a term, so this is the assumption-free form of
    # "emit all pairs whose 6dp-ROUNDED cosine >= t" — the operator's
    # contract. (The previous prefix-join CTE mirrored the Spark
    # candidate scheme, but the t/2 completeness argument only covers
    # exact cos >= t, NOT the rounding band [t - 5e-7, t) that the
    # rounded verify also emits — pairs there may share no prefix
    # term, making the candidate scheme observable in the output. The
    # oracle now states the semantics; both Spark paths prune with a
    # 1e-6 margin that provably covers the band.)
    return f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id AS doc, term, COUNT(*)::DOUBLE AS tf FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents)
  WHERE length(term) > 0 GROUP BY doc, term
), nd AS (SELECT COUNT(DISTINCT doc)::DOUBLE AS n FROM tok),
dfq AS MATERIALIZED (
  SELECT term, COUNT(*)::DOUBLE AS df FROM tok GROUP BY term
), w_raw AS MATERIALIZED (
  SELECT doc, term, tf * ln(1.0 + n / df) AS w
  FROM tok JOIN dfq USING (term) CROSS JOIN nd
), norms AS MATERIALIZED (
  SELECT doc,
         sqrt(list_reduce(list_prepend(0.0, list(w * w ORDER BY term)),
                          (a, x) -> a + x)) AS nn
  FROM w_raw GROUP BY doc
), unit AS MATERIALIZED (
  SELECT w_raw.doc, term, w / nn AS w FROM w_raw JOIN norms USING (doc)
), cand AS MATERIALIZED (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM unit a JOIN unit b ON a.term = b.term AND a.doc < b.doc
), verified AS (
  SELECT c.doc_a, c.doc_b,
         ROUND(list_reduce(list_prepend(0.0,
                 list(ua.w * ub.w ORDER BY ua.term)),
               (a, x) -> a + x), 6) AS cos_r
  FROM cand c
  JOIN unit ua ON ua.doc = c.doc_a
  JOIN unit ub ON ub.doc = c.doc_b AND ub.term = ua.term
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, cos_r FROM verified
WHERE cos_r >= {threshold}
ORDER BY doc_a, doc_b
"""


QUERIES["q168_weighted_apss"] = QuerySpec(
    _q_weighted_apss, _weighted_apss_oracle()
)


def _q_weighted_apss_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q168 with the SPARSE candidate path forced (dense_vocab_cutoff=0)
    so the driver hash-verifies the prefix+L2-extension+Cauchy-Schwarz
    route too — the fixture vocabulary is tiny, so plain q168
    dispatches to the dense-GEMM path and would otherwise be the only
    one carrying oracle evidence. Same oracle: both candidate schemes
    are complete, so the verified output is identical."""
    from wing_binlog_go_spark.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    return weighted_apss_pairs(
        docs, threshold=0.9, dense_vocab_cutoff=0
    ).orderBy("doc_a", "doc_b")


QUERIES["q168b_weighted_apss_sparse"] = QuerySpec(
    _q_weighted_apss_sparse, _weighted_apss_oracle()
)


# ---------------------------------------------------------------------------
# Incremental weighted APSS (frozen-idf store) — q168's daily-crawl form
# ---------------------------------------------------------------------------


def _frozen_unit_profiles(
    docs: DataFrame,
    idf: DataFrame,
    n0: float,
    id_col: str,
    text_col: str,
    t_half: float,
) -> DataFrame:
    """(doc, terms asc, term→weight map, prefix terms, tn) under the
    FROZEN founding idf: w = tf·ln(1 + n0/df₀), unit-normalized with
    the pinned ascending-term fold; unseen terms take df₀ = 1
    (maximally rare — the standard frozen-vocabulary convention).

    The posted prefix is each doc's OWN top-weight head (w DESC, term)
    until the unposted suffix norm < t_half — entirely intrinsic: the
    Cauchy–Schwarz completeness argument (a missed pair's shared terms
    are unposted by one side, so dot ≤ tn_a·‖b‖ + tn_b·‖a‖ ≤
    tn_a + tn_b < t) needs NO cross-doc maxw order, which is what
    makes the rule stable as the corpus grows — new docs never change
    old prefixes, unlike the batch operator's global-maxw rule.

    Every input doc id gets a profile row — docs whose text tokenizes
    to ZERO terms carry an empty profile (terms=[], pre=[], tn=0: they
    post nothing and cos 0 with everything). Without the row, such a
    doc would never reach the store, so every replay of its batch
    would re-derive it as "fresh" while the stats reported it replayed
    — the contract drift the r11 ADVICE named.
    """
    tok = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.explode(F.split(F.lower(text_col), " ")).alias("term"),
        )
        .filter(F.length("term") > 0)
        .groupBy("doc", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    w_raw = tok.join(idf, "term", "left").select(
        "doc",
        "term",
        (
            F.col("tf")
            * F.log(1.0 + F.lit(float(n0)) / F.coalesce(F.col("df"), F.lit(1.0)))
        ).alias("w"),
    )
    norms = w_raw.groupBy("doc").agg(
        F.sqrt(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("term", "w"))),
                F.lit(0.0),
                lambda acc, x: acc + x["w"] * x["w"],
            )
        ).alias("nn")
    )
    unit = w_raw.join(norms, "doc").select(
        "doc", "term", (F.col("w") / F.col("nn")).alias("w")
    )
    # per-doc own-weight order; suffix norm² from the rare end
    w_suf = (
        Window.partitionBy("doc")
        .orderBy(F.asc("w"), F.desc("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = unit.withColumn("sn2", F.sum(F.col("w") * F.col("w")).over(w_suf))
    prof = marked.groupBy("doc").agg(
        F.sort_array(F.collect_list("term")).alias("terms"),
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("term", "w")))
        ).alias("wm"),
        # posted = rows whose inclusive suffix-from-the-light-end
        # norm² ≥ t_half² (cutting before them would leave ≥ t_half)
        F.array_sort(
            F.collect_list(
                F.when(F.col("sn2") >= F.lit(t_half * t_half), F.col("term"))
            )
        ).alias("pre"),
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                F.min(
                    F.when(
                        F.col("sn2") >= F.lit(t_half * t_half),
                        F.col("sn2") - F.col("w") * F.col("w"),
                    )
                ),
            )
        ).alias("tn"),
    )
    # NARROW anti-join finds the (typically few) zero-term ids; the
    # wide profile frame passes through unshuffled — a left-join of
    # all ids against the wide frame measured +30% on a 100k founding
    empty_rows = (
        docs.select(F.col(id_col).alias("doc"))
        .distinct()
        .join(prof.select("doc"), "doc", "left_anti")
        .select(
            "doc",
            F.array().cast("array<string>").alias("terms"),
            F.create_map().cast("map<string,double>").alias("wm"),
            F.array().cast("array<string>").alias("pre"),
            F.lit(0.0).alias("tn"),
        )
    )
    return prof.unionByName(empty_rows)


def _apss_store_postings(prof: DataFrame, ntb: int | None = None) -> DataFrame:
    """A profile frame's PREFIX POSTING rows (doc, tn, s, w) — the
    exact rows the store verify's candidate equi-join consumes. With
    ``ntb``, adds the term-bucket column ``tb = hash(s) mod ntb`` the
    persisted ``postings/`` layout partitions on, so an increment's
    history probe prunes to the buckets its fresh prefixes touch."""
    rows = prof.select(
        F.col("doc"), F.col("tn"), F.explode("pre").alias("s"), F.col("wm")
    ).select("doc", "tn", "s", F.element_at("wm", F.col("s")).alias("w"))
    if ntb is not None:
        rows = rows.withColumn(
            "tb", F.pmod(F.xxhash64("s"), F.lit(int(ntb))).cast("int")
        )
    return rows


def _weighted_apss_store_verify(
    fresh: DataFrame,
    other: DataFrame,
    threshold: float,
    within_batch: bool,
    fresh_post: DataFrame | None = None,
    other_post: DataFrame | None = None,
    other_prof_for=None,
) -> DataFrame:
    """Prefix equi-join candidates + exact pinned-order cosine between a
    fresh profile frame and another (both (doc, terms, wm, pre, tn));
    the same emit contract as the batch operator: 6dp-rounded cos ≥ t,
    candidates complete at t_eff = t − 1e-6 by the Cauchy–Schwarz
    argument in :func:`_frozen_unit_profiles`. Posting rows derive
    from the profile frames unless pre-built frames are passed (the
    increment path passes the term-bucket-pruned ``postings/`` read as
    ``other_post`` so history profiles are never exploded per batch).
    With ``other_prof_for`` (a callback cand → profile frame), the
    candidate frame is materialized first and the OTHER side of the
    exact rejoin is fetched through it — the increment path prunes the
    wide history ``profiles/`` read to the doc buckets the candidates
    actually name instead of scanning every profile per batch."""
    t_eff = float(threshold) - 1e-6
    # posting rows carry the term's weight + the doc's unposted-tail
    # norm so the pair groupBy (same shuffle keys the plain distinct()
    # would pay) can apply the batch operator's Cauchy–Schwarz prune:
    # dot ≤ dot_pp + tn_a·√(1−Σ_M w_b²) + tn_b·√(1−Σ_M w_a²). Without
    # it, every candidate pair reaches the WIDE profile rejoin —
    # measured at a 100k-doc founding batch (vocab 6k): the un-pruned
    # verify join spilled past the box's free disk.
    def _std(post, doc_out, w_out, tn_out):
        return post.select(
            F.col("doc").alias(doc_out),
            F.col("tn").alias(tn_out),
            "s",
            F.col("w").alias(w_out),
        )

    a = _std(
        fresh_post if fresh_post is not None else _apss_store_postings(fresh),
        "da", "wa", "tna",
    )
    b = _std(
        other_post if other_post is not None else _apss_store_postings(other),
        "db", "wb", "tnb",
    )
    cond = F.col("da") < F.col("db") if within_batch else F.col("da") != F.col("db")
    _ra = F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("ma2")))
    _rb = F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - F.col("mb2")))
    cand = (
        a.join(b, "s").filter(cond)
        .groupBy(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
        .agg(
            F.sum(F.col("wa") * F.col("wb")).alias("dot_pp"),
            F.sum(F.col("wa") * F.col("wa")).alias("ma2"),
            F.sum(F.col("wb") * F.col("wb")).alias("mb2"),
            F.first("tna").alias("tna"),
            F.first("tnb").alias("tnb"),
        )
        .filter(
            F.col("dot_pp") + F.col("tna") * _rb + F.col("tnb") * _ra >= t_eff
        )
        .select("doc_a", "doc_b")
    )
    cand = _widen_for_verify(cand, "doc_a", "doc_b")
    if other_prof_for is not None:
        cand = cand.localCheckpoint(eager=True)
        other = other_prof_for(cand)
    # no broadcast hint: ``other`` is the unbounded history store, so
    # the profile rejoin must stay a shuffle join (AQE may still pick
    # broadcast while the store is small) — the batch operator's
    # bytes-gated broadcast does not transfer to a growing store
    prof = fresh.unionByName(other).dropDuplicates(["doc"])
    prof_a = prof.select(
        F.col("doc").alias("doc_a"),
        F.col("terms").alias("_tsa"), F.col("wm").alias("_wma"),
    )
    prof_b = prof.select(
        F.col("doc").alias("doc_b"),
        F.col("terms").alias("_tsb"), F.col("wm").alias("_wmb"),
    )
    return (
        cand.join(prof_a, "doc_a")
        .join(prof_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.aggregate(
                    F.array_intersect("_tsa", "_tsb"),
                    F.lit(0.0),
                    lambda acc, t: acc
                    + F.element_at("_wma", t) * F.element_at("_wmb", t),
                ),
                6,
            ).alias("cos_r"),
        )
        .filter(F.col("cos_r") >= threshold)
    )


def incremental_weighted_apss_apply(
    spark: SparkSession,
    new_docs: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    num_term_buckets: int = 64,
) -> "tuple[DataFrame, dict]":
    """TF-IDF cosine all-pairs for an ingest increment against the
    corpus history — :func:`weighted_apss_pairs`'s incremental form,
    completing the dedup-store family (MinHash `incremental_dedup`,
    set `incremental_apss`, containment): the daily-crawl workflow
    where today's documents must pair against every prior day without
    re-reading history text.

    FROZEN-IDF contract (the frozen-quantizer convention of the
    PQ/IVF-PQ and set-APSS stores): document frequencies and the
    corpus size n₀ freeze at store creation (persisted as ``idf/``),
    so every doc ever profiled carries weights from the SAME
    vocabulary statistics and stored cosines stay comparable across
    batches. Unseen terms take df₀ = 1. Refreshing the idf = rebuild
    (offline compaction). Cosines therefore equal a batch recompute
    UNDER THE FOUNDING WEIGHTS (test-asserted), not a batch recompute
    with drifted global idf — that is the point, not a caveat.

    Candidates: each doc posts its own top-weight prefix until its
    unposted norm < t_eff/2 (intrinsic, no global order — see
    :func:`_frozen_unit_profiles`); fresh prefixes equi-join history ∪
    batch prefixes. Store: ``idf/`` (term, df) + ``profiles/``
    (doc, terms, wm, pre, tn; partitioned on the doc bucket so the
    exact rejoin reads only the buckets its candidates name) +
    ``postings/`` — the profiles' prefix
    posting rows (doc, tn, s, w) partitioned by term bucket
    ``tb = hash(term) mod num_term_buckets`` (persisted in ``idf/`` so
    the bucketing stays stable for the store's lifetime). The history
    side of an increment's candidate join reads ONLY the tb partitions
    the fresh prefixes touch (the searchindex term-filter pattern) and
    never re-explodes history profiles; the wide profile frame is read
    solely for the candidates' exact rejoin. Ids already stored are
    replay no-ops; history text is never re-read. Founding commit is
    keyed on ``profiles/`` with ``idf/`` and ``postings/`` written
    first, mirroring incremental_apss_apply's crash story; increments
    append postings BEFORE profiles, so a crash between the two
    re-derives the batch as fresh and re-appends — duplicate posting
    rows from such a replay are dropped at read (dropDuplicates on
    (s, doc)), never trusted to be absent.

    Returns (pairs, stats): pairs = (doc_a, doc_b, cos_r) with ≥1
    fresh side; stats = {batch, replayed, appended, pairs_vs_history,
    pairs_in_batch}. Docs whose text tokenizes to ZERO terms persist
    with an empty profile row (terms=[], pre=[], tn=0 — they pair with
    nothing), so a replay of their batch correctly anti-joins them as
    already-seen and ``batch``/``replayed``/``appended`` count every
    distinct input id the same way on the founding and increment
    paths.
    """
    import os as _os

    new_docs = new_docs.dropDuplicates([id_col])
    idf_dir = _os.path.join(store_dir, "idf")
    prof_dir = _os.path.join(store_dir, "profiles")
    post_dir = _os.path.join(store_dir, "postings")
    t_half = (float(threshold) - 1e-6) / 2.0

    def _empty_pairs():
        c = new_docs.select(F.col(id_col)).limit(0)
        return (
            c.select(F.col(id_col).alias("doc_a"))
            .crossJoin(c.select(F.col(id_col).alias("doc_b")))
            .withColumn("cos_r", F.lit(0.0))
        )

    if not _os.path.exists(prof_dir):
        tok = (
            new_docs.select(
                F.col(id_col).alias("doc"),
                F.explode(F.split(F.lower(text_col), " ")).alias("term"),
            )
            .filter(F.length("term") > 0)
            .groupBy("doc", "term")
            .count()
        )
        stats = tok.agg(
            F.countDistinct("doc").alias("nd")
        ).first()
        n0 = float(stats["nd"] or 0)
        tok.groupBy("term").agg(
            F.count("*").cast("double").alias("df")
        ).withColumn("n0", F.lit(n0)).withColumn(
            "ntb", F.lit(int(num_term_buckets))
        ).write.mode("overwrite").parquet(idf_dir)
        idf = spark.read.parquet(idf_dir)
        prof = _frozen_unit_profiles(
            new_docs, idf.select("term", "df"), n0, id_col, text_col, t_half
        ).localCheckpoint(eager=True)
        n_batch = prof.count()
        post = _apss_store_postings(prof, int(num_term_buckets))
        post.repartition(F.col("tb")).write.mode("overwrite").partitionBy(
            "tb"
        ).parquet(post_dir)
        # profiles partitioned on the DOC bucket: increments prune the
        # wide exact-rejoin read to the buckets their candidates name
        prof.withColumn(
            "db", F.pmod(F.xxhash64("doc"), F.lit(int(num_term_buckets))).cast("int")
        ).repartition(F.col("db")).write.partitionBy("db").parquet(prof_dir)
        pairs = _weighted_apss_store_verify(
            prof, prof, threshold, within_batch=True
        )
        return pairs, {
            "batch": n_batch, "replayed": 0, "appended": n_batch,
            "pairs_vs_history": 0, "pairs_in_batch": pairs.count(),
        }

    idf = spark.read.parquet(idf_dir)
    _meta = idf.select("n0", *(["ntb"] if "ntb" in idf.columns else [])).first()
    n0 = float(_meta["n0"])
    ntb = int(_meta["ntb"]) if "ntb" in idf.columns else int(num_term_buckets)
    history = spark.read.parquet(prof_dir).drop("db")
    n_batch = new_docs.count()
    fresh_docs = new_docs.join(
        history.select(F.col("doc").alias(id_col)), id_col, "left_anti"
    )
    prof = _frozen_unit_profiles(
        fresh_docs, idf.select("term", "df"), n0, id_col, text_col, t_half
    ).localCheckpoint(eager=True)
    n_fresh = prof.count()
    if n_fresh == 0:
        return _empty_pairs(), {
            "batch": n_batch, "replayed": n_batch, "appended": 0,
            "pairs_vs_history": 0, "pairs_in_batch": 0,
        }
    fresh_post = _apss_store_postings(prof, ntb).localCheckpoint(eager=True)
    # history candidate rows: tb-pruned posting read (only the term
    # buckets the fresh prefixes touch), deduped against crash-replay
    # double-appends; the file listing is snapshotted HERE, before the
    # appends below, so the returned lazy frames stay pre-append
    tbs = sorted(
        r[0] for r in fresh_post.select("tb").distinct().collect()
    )
    hist_post = (
        spark.read.schema("doc " + prof.schema["doc"].dataType.simpleString()
                          + ", tn double, s string, w double, tb int")
        .parquet(post_dir)
        .filter(F.col("tb").isin(tbs))
        .dropDuplicates(["s", "doc"])
    )
    id_t = prof.schema["doc"].dataType.simpleString()
    prof_schema = (
        f"doc {id_t}, terms array<string>, wm map<string,double>, "
        "pre array<string>, tn double, db int"
    )

    def pruned_hist_profiles(cand: DataFrame) -> DataFrame:
        ids = cand.select(F.col("doc_a").alias("doc")).unionByName(
            cand.select(F.col("doc_b").alias("doc"))
        )
        dbs = sorted(
            r[0]
            for r in ids.select(
                F.pmod(F.xxhash64("doc"), F.lit(ntb)).cast("int").alias("b")
            ).distinct().collect()
        )
        if not dbs:
            return history.limit(0)
        return (
            spark.read.schema(prof_schema)
            .parquet(prof_dir)
            .filter(F.col("db").isin(dbs))
            .drop("db")
        )

    hist_pairs = _weighted_apss_store_verify(
        prof, history, threshold, within_batch=False,
        fresh_post=fresh_post, other_post=hist_post,
        other_prof_for=pruned_hist_profiles,
    )
    batch_pairs = _weighted_apss_store_verify(
        prof, prof, threshold, within_batch=True,
        fresh_post=fresh_post, other_post=fresh_post,
    )
    n_hist = hist_pairs.count()
    n_in_batch = batch_pairs.count()
    # postings append FIRST (see docstring's crash story)
    fresh_post.repartition(F.col("tb")).write.mode("append").partitionBy(
        "tb"
    ).parquet(post_dir)
    prof.withColumn(
        "db", F.pmod(F.xxhash64("doc"), F.lit(ntb)).cast("int")
    ).repartition(F.col("db")).write.mode("append").partitionBy("db").parquet(
        prof_dir
    )
    return hist_pairs.unionByName(batch_pairs), {
        "batch": n_batch, "replayed": n_batch - n_fresh, "appended": n_fresh,
        "pairs_vs_history": n_hist, "pairs_in_batch": n_in_batch,
    }
