"""Classifier-based quality filtering — the model-scored curation stage.

The large-corpus pipelines behind GPT-3 (Brown et al. 2020, §A),
LLaMA (Touvron et al. 2023) and DataComp filter web documents with a
LEARNED quality classifier (a linear model over hashed bag-of-words
features, fasttext-style) rather than rules alone: train on weak
labels (reference corpus = positive, raw crawl = negative), score
every document, keep the high-scoring ones. This module implements
that stage Spark-first and exactly:

- :func:`hashed_token_features` — the feature-hashing trick
  (Weinberger et al. 2009): token → rolling-hash bucket in [0, dim);
  features live in LONG form (doc, idx, val), the idiomatic sparse
  layout at scale (no dim-wide dense vectors shuffled per row).
- :func:`train_logreg` — full-batch gradient descent for logistic
  regression. The MODEL (dim floats) lives on the driver and rides
  into the plan as a literal array; the DATA never leaves the cluster.
  Each iteration is: margin per doc (one doc-keyed partial agg) →
  error join → gradient per feature (one idx-keyed agg, bounded by
  dim) → dim-sized driver collect. Same bounded driver-loop budget
  class as PageRank/BPE (documented, not hidden); n_iter is fixed so
  the whole computation is deterministic and — like q139's PageRank —
  expressible as unrolled SQL for the DuckDB oracle.
- :func:`score_logreg` — sigmoid(w·x) per document, one agg.

Everything is exact double arithmetic on both engines; no RNG
(weights init at zero, features are counts / doc length).

Reference analog: the reference has no ML stage (its "Realtime
analytics" use case, readme.md:40-43, delegates analytics to
consumers); this is part of the §2-beyond LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wing_binlog_go_spark.operators.dedup import tokens
from wing_binlog_go_spark.plans.relational import QuerySpec
from wing_binlog_go_spark.tables import read_table

QUERIES: dict[str, QuerySpec] = {}

#: rolling-hash seed shared with the DuckDB oracle (h = (h*31 + ascii) % dim)
_HASH_SEED = 7


def _bucket(tok: F.Column, dim: int) -> F.Column:
    """Deterministic feature bucket: polynomial rolling hash over the
    token's character codes — (seed*31 + code) % dim folded
    left-to-right, verified cross-engine for NON-EMPTY tokens (Spark
    splits "" to [""] and folds once; DuckDB folds zero times — which
    is why hashed_token_features filters empty tokens out)."""
    return F.aggregate(
        F.transform(F.split(tok, ""), lambda ch: F.ascii(ch)),
        F.lit(_HASH_SEED).cast("long"),
        lambda acc, c: (acc * 31 + c.cast("long")) % dim,
    )


def hashed_token_features(
    docs: DataFrame,
    dim: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc, idx, val): hashed bag-of-words, val = bucket count divided
    by the doc's token count (length-normalized so gradients are
    bounded regardless of document size). Long/sparse form: one row per
    (doc, bucket) pair — at 100 TB this is the only layout that avoids
    shuffling dim-wide dense vectors for mostly-empty buckets."""
    from wing_binlog_go_spark.operators.dedup import _spread_if_narrow

    # single-row-group input ⇒ the explode + per-char bucket folds would
    # run on one core (r13; the r12 §2.5 treatment). Partitioning only —
    # the downstream groupBy counts are integers and val is one exact
    # division, so results carry no summation-order sensitivity.
    toks = _spread_if_narrow(
        docs.select(id_col, text_col), id_col
    ).select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(text_col)).alias("tok"),
        F.size(tokens(text_col)).alias("n_toks"),
    ).filter(F.length("tok") > 0)
    # empty tokens (doubled/leading/trailing spaces) are excluded from
    # FEATURES in both engines: Spark folds [""] to a seed*31 hash while
    # DuckDB's empty char range folds to the bare seed, so keeping them
    # would silently diverge the oracle on any multi-spaced text
    # (n_toks deliberately still counts them — it is a length, not a
    # vocabulary)
    return (
        toks.withColumn("idx", _bucket(F.col("tok"), dim))
        .groupBy("doc", "idx")
        .agg((F.count("*") / F.first("n_toks")).alias("val"))
    )


def _margins(features: DataFrame, w: list[float]) -> DataFrame:
    """(doc, margin = Σ val·w[idx]) — the weights enter as a literal
    array (model-to-data broadcast; dim floats, never a shuffle)."""
    warr = F.array(*[F.lit(float(x)) for x in w])
    return (
        features.withColumn(
            "_wv", F.element_at(warr, F.col("idx").cast("int") + 1) * F.col("val")
        )
        .groupBy("doc")
        .agg(F.sum("_wv").alias("margin"))
    )


def train_logreg(
    features: DataFrame,
    labels: DataFrame,
    dim: int = 256,
    n_iter: int = 8,
    lr: float = 2.0,
    l2: float = 0.0,
    n_batches: int = 1,
) -> list[float]:
    """(Mini-batch) GD for L2-regularized logistic regression over
    long-form features.

    labels: (doc, y) with y ∈ {0.0, 1.0}. Weights start at zero (no
    RNG); iteration i uses the deterministic mini-batch
    ``doc % n_batches == i % n_batches`` (cross-engine expressible —
    no RNG shuffling — so the unrolled-SQL oracle scheme still covers
    the mini-batch form; requires non-negative integer doc ids when
    n_batches > 1) and does margin → sigmoid error → per-idx gradient
    (÷ batch size) → w ← (1 − lr·l2)·w − lr·grad (weight-decay form of
    the L2 term — applied to EVERY weight every iteration, gradient or
    not). Deterministic for fixed n_iter. l2=0, n_batches=1 is the
    original full-batch GD exactly.

    Scale shape: features are persisted once; per iteration two
    doc-keyed shuffles over the BATCH's rows only (the pmod filter is
    row-local — no semi-join shuffle to pick the batch) and one
    idx-keyed agg whose cardinality is ≤ dim, then a dim-sized
    collect. Driver holds only the model."""
    if n_batches < 1:
        raise ValueError(f"train_logreg: n_batches must be >= 1, got {n_batches}")
    # Persist the features DOC-PARTITIONED (r13, guide §2.4: operations
    # keyed the same way share one exchange): every iteration runs a
    # groupBy("doc") (margins) and a join on "doc" (gradient), and
    # hashpartitioning(doc) satisfies both, so the per-iteration
    # exchanges of the WHOLE feature table — 2 × n_iter of them — drop
    # to zero; the only remaining per-iteration shuffle is the ≤dim-row
    # partial-aggregated idx gradient. (The cached layout from the
    # builder's groupBy(doc, idx) does NOT satisfy a doc-only
    # clustering, so each iteration re-exchanged the features before.)
    # The mini-batch pmod filter is row-local and keeps the partitioning.
    feats = features.repartition("doc").persist()
    labs = labels.select(F.col("doc"), F.col("y").cast("double")).persist()
    if n_batches == 1:
        batch_sizes = {0: labs.count()}
    else:
        batch_sizes = {
            r["b"]: r["cnt"]
            for r in labs.groupBy(
                F.pmod("doc", F.lit(n_batches)).cast("int").alias("b")
            )
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
    if sum(batch_sizes.values()) == 0:  # loud, not a silent all-zero model
        feats.unpersist()
        labs.unpersist()
        raise ValueError("train_logreg: labels are empty — nothing to fit")
    w = [0.0] * dim
    decay = 1.0 - lr * l2
    for i in range(n_iter):
        b = i % n_batches
        n_b = batch_sizes.get(b, 0)
        if n_b == 0:
            # empty batch: gradient is zero everywhere; only decay
            # applies (matches the oracle's LEFT JOIN + COALESCE(g, 0))
            if decay != 1.0:
                w = [decay * x for x in w]
            continue
        if n_batches == 1:
            bfeats, blabs = feats, labs
        else:
            bfeats = feats.filter(F.pmod("doc", F.lit(n_batches)) == b)
            blabs = labs.filter(F.pmod("doc", F.lit(n_batches)) == b)
        err = (
            _margins(bfeats, w)
            .join(blabs, "doc")
            .select(
                "doc",
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))) - F.col("y")
                ).alias("err"),
            )
        )
        grad_rows = (
            bfeats.join(err, "doc")
            .groupBy("idx")
            .agg((F.sum(F.col("val") * F.col("err")) / F.lit(float(n_b))).alias("g"))
            .collect()
        )
        grad = {r["idx"]: r["g"] for r in grad_rows}
        w = [decay * x - lr * grad.get(j, 0.0) for j, x in enumerate(w)]
    feats.unpersist()
    labs.unpersist()
    return w


def score_logreg(features: DataFrame, w: list[float]) -> DataFrame:
    """(doc, score = sigmoid(margin)) for every doc with ≥1 feature."""
    return _margins(features, w).select(
        "doc",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))).alias("score"),
    )


def save_logreg(w: list[float], path: str) -> None:
    """Persist a trained model (``maintenance.write_json`` — the file's
    presence is the commit, so a crashed save never leaves a
    half-written model for the streaming scorer to load)."""
    from wing_binlog_go_spark.streaming.maintenance import write_json

    write_json(path, {"dim": len(w), "weights": w})


def load_logreg(path: str) -> tuple[list[float], int]:
    """→ (weights, dim) saved by :func:`save_logreg`."""
    import json as _json

    with open(path) as f:
        meta = _json.load(f)
    return [float(x) for x in meta["weights"]], int(meta["dim"])


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------

# dim 512 = zero hash collisions over the fixture vocabulary (256
# folds 'vector' onto 'the' and caps AUC at 0.85); lr is scaled for
# length-normalized features (||x||_1 = 1), measured AUC 0.99 at both
# test scales with a 0.35+ mean score gap
_DIM = 512
_N_ITER = 16
_LR = 400.0


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train on a weak label derivable from the text itself (does the
    doc contain the token 'vector'), score the whole corpus: a
    fully-learnable target, so the scores visibly separate — and the
    identical unrolled-GD SQL hash-checks the entire train+score chain
    against DuckDB."""
    docs = read_table(spark, sf_dir, "documents")
    feats = hashed_token_features(docs, dim=_DIM)
    labels = docs.select(
        F.col("doc_id").alias("doc"),
        F.array_contains(tokens("text"), "vector").cast("double").alias("y"),
    )
    w = train_logreg(feats, labels, dim=_DIM, n_iter=_N_ITER, lr=_LR)
    return (
        score_logreg(feats, w)
        .select(F.col("doc").alias("doc_id"), F.round("score", 6).alias("score"))
        .orderBy("doc_id")
    )


def _classifier_oracle(dim: int, n_iter: int, lr: float) -> str:
    """Unrolled-GD DuckDB oracle (same scheme as q139's PageRank: a
    fixed iteration count needs no recursion — chain CTEs w0..w{n}).
    Every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    w{i} is referenced twice per iteration, so an un-materialized
    chain doubles the plan per level (2^n inlined parquet scans —
    observed as an fd-exhaustion IOException at n=16). 6-dp rounding
    sits far above cross-engine double jitter."""
    head = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id AS doc, string_split(lower(text), ' ') AS t FROM documents
), toks AS MATERIALIZED (
  SELECT doc, unnest(t) AS tok, len(t) AS n_toks FROM base
), feat AS MATERIALIZED (
  SELECT doc,
         list_reduce(
           list_prepend({_HASH_SEED}::BIGINT,
             list_transform(range(1, length(tok) + 1), i -> ascii(tok[i]))),
           (a, b) -> (a * 31 + b) % {dim}) AS idx,
         COUNT(*)::DOUBLE / ANY_VALUE(n_toks) AS val
  FROM toks WHERE length(tok) > 0 GROUP BY doc, idx
), lab AS MATERIALIZED (
  SELECT doc, list_contains(t, 'vector')::DOUBLE AS y FROM base
), nn AS MATERIALIZED (
  SELECT COUNT(*)::DOUBLE AS n FROM lab
), w0 AS MATERIALIZED (
  SELECT unnest(range(0, {dim})) AS idx, 0.0::DOUBLE AS w
)"""
    steps = []
    for i in range(n_iter):
        steps.append(f""", m{i} AS MATERIALIZED (
  SELECT f.doc, SUM(f.val * w.w) AS margin
  FROM feat f JOIN w{i} w USING (idx) GROUP BY f.doc
), e{i} AS MATERIALIZED (
  SELECT l.doc, 1.0 / (1.0 + exp(-COALESCE(m.margin, 0.0))) - l.y AS err
  FROM lab l LEFT JOIN m{i} m USING (doc)
), g{i} AS MATERIALIZED (
  SELECT f.idx, SUM(f.val * e.err) / (SELECT n FROM nn) AS g
  FROM feat f JOIN e{i} e USING (doc) GROUP BY f.idx
), w{i + 1} AS MATERIALIZED (
  SELECT w.idx, w.w - {lr} * COALESCE(g.g, 0.0) AS w
  FROM w{i} w LEFT JOIN g{i} g USING (idx)
)""")
    tail = f""", mf AS (
  SELECT f.doc, SUM(f.val * w.w) AS margin
  FROM feat f JOIN w{n_iter} w USING (idx) GROUP BY f.doc
)
SELECT doc AS doc_id, ROUND(1.0 / (1.0 + exp(-margin)), 6) AS score
FROM mf ORDER BY doc_id
"""
    return head + "".join(steps) + tail


QUERIES["q146_quality_classifier"] = QuerySpec(
    _q_quality_classifier, _classifier_oracle(_DIM, _N_ITER, _LR)
)


def _q_classifier_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The downstream curation action: keep documents the trained
    classifier scores above the corpus median — the 'classifier-kept'
    half of the GPT-3-style filtering split, joined back to payload
    columns so the output is the corpus a training run would read."""
    # localCheckpoint: the scored frame is read twice below (median
    # collect + the semi-join) and its lineage embeds the whole
    # train+score chain — without the barrier each read re-runs the
    # feature hashing and final scoring agg (r7 advice). The barrier
    # also truncates the HOF-heavy literal-weights projection, the same
    # CollapseProject guard the hash-dedup operators use.
    scored = _q_quality_classifier(spark, sf_dir).localCheckpoint(eager=True)
    # exact interpolated median (matches DuckDB's median() on doubles;
    # approxQuantile picks an element and would disagree on even counts)
    med = scored.agg(F.expr("percentile(score, 0.5)")).collect()[0][0]
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.join(scored.filter(F.col("score") > float(med)), "doc_id", "left_semi")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def _filtered_oracle(dim: int, n_iter: int, lr: float) -> str:
    inner = _classifier_oracle(dim, n_iter, lr).rstrip().rstrip(";")
    return f"""
WITH scored AS ({inner})
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN scored s USING (doc_id)
WHERE s.score > (SELECT median(score) FROM scored)
ORDER BY d.doc_id
"""


QUERIES["q147_classifier_filtered_corpus"] = QuerySpec(
    _q_classifier_filtered_corpus, _filtered_oracle(_DIM, _N_ITER, _LR)
)


# ---------------------------------------------------------------------------
# q152: held-out calibration — mini-batch + L2 training, rank AUC
# ---------------------------------------------------------------------------

# Seed INDEPENDENT of mixing._SAMPLE_SEED (seed-hygiene note on
# deterministic_split: reusing an upstream sampling seed re-reads the
# same draws and piles survivors into one bucket).
_AUC_SEED = 917
_TRAIN_FRAC = 0.8
_L2 = 1e-4
_N_BATCHES = 4


def _q_classifier_heldout_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-shaped evaluation of the quality classifier: split
    the corpus deterministically (the q120 md5 scheme, independent
    seed), train with MINI-BATCH + L2 options on the train split only,
    score the held-out split, and report rank AUC (Mann-Whitney with
    average-rank tie handling) plus score calibration means — the
    numbers that decide whether the filtering stage is trustworthy on
    a real crawl, computed on docs the model never saw.

    Scale shape: training as train_logreg (batch-filtered, bounded
    collects); evaluation groups by DISTINCT rounded score before the
    one global-ordered cumulative window, so the window runs over at
    most |distinct scores| rows — a scalar-metric tail, not a per-doc
    sort. Scores are rounded to 6dp BEFORE ranking so cross-engine
    last-ulp jitter cannot flip a tie (same tolerance q146 relies on).
    """
    from pyspark.sql import Window

    from wing_binlog_go_spark.functions.mixing import _hash_threshold, sample_key

    docs = read_table(spark, sf_dir, "documents")
    lab = docs.select(
        F.col("doc_id").alias("doc"),
        F.array_contains(tokens("text"), "vector").cast("double").alias("y"),
        (
            sample_key(F.col("doc_id"), _AUC_SEED)
            < F.lit(_hash_threshold(_TRAIN_FRAC))
        ).alias("is_train"),
    )
    feats = hashed_token_features(docs, dim=_DIM)
    trlab = lab.filter("is_train").select("doc", "y")
    # one semi-join up front, materialized into train_logreg's persist:
    # cheaper than letting every GD iteration compute margins for
    # held-out docs only to drop them at the error join
    trfeats = feats.join(trlab.select("doc"), "doc", "left_semi")
    w = train_logreg(
        trfeats, trlab, dim=_DIM, n_iter=_N_ITER, lr=_LR,
        l2=_L2, n_batches=_N_BATCHES,
    )
    n_train = trlab.count()
    holab = lab.filter(~F.col("is_train")).select("doc", "y")
    # score ONLY the held-out docs: per-doc margins are unaffected by
    # dropping other docs' feature rows, and the final agg shrinks to
    # the held-out fifth of the corpus (the oracle's mf mirrors this)
    ho = (
        score_logreg(feats.join(holab.select("doc"), "doc", "left_semi"), w)
        .join(holab, "doc")
        .select(F.round("score", 6).alias("score"), "y")
    )
    bys = ho.groupBy("score").agg(
        F.sum("y").alias("np"),
        F.sum(F.lit(1.0) - F.col("y")).alias("nn"),
    )
    cum_w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = bys.withColumn(
        "cnn", F.coalesce(F.sum("nn").over(cum_w), F.lit(0.0))
    )
    return cum.agg(
        (F.sum("np") + F.sum("nn")).cast("long").alias("n_heldout"),
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.round(
            F.sum(F.col("np") * (F.col("cnn") + 0.5 * F.col("nn")))
            / (F.sum("np") * F.sum("nn")),
            6,
        ).alias("auc"),
        F.round(F.sum(F.col("score") * F.col("np")) / F.sum("np"), 6).alias(
            "mean_pos_score"
        ),
        F.round(F.sum(F.col("score") * F.col("nn")) / F.sum("nn"), 6).alias(
            "mean_neg_score"
        ),
    ).select(F.lit(int(n_train)).cast("long").alias("n_train"), "*")


def _auc_oracle(
    dim: int, n_iter: int, lr: float, l2: float, n_batches: int,
    seed: int, train_frac: float,
) -> str:
    """Unrolled mini-batch GD + rank-AUC oracle. Iteration i trains on
    ``doc % n_batches == i % n_batches`` within the md5 train split;
    the weight update carries the (1 − lr·l2) decay. All chained CTEs
    MATERIALIZED (DuckDB inlines plain CTEs — 2^n plan blowup)."""
    from wing_binlog_go_spark.functions.mixing import _hash_threshold

    thr = _hash_threshold(train_frac)
    head = f"""
WITH base AS MATERIALIZED (
  SELECT doc_id AS doc, string_split(lower(text), ' ') AS t,
         substring(md5('{seed}:' || CAST(doc_id AS VARCHAR)), 1, 8) < '{thr}'
           AS is_train
  FROM documents
), toks AS MATERIALIZED (
  SELECT doc, unnest(t) AS tok, len(t) AS n_toks FROM base
), feat AS MATERIALIZED (
  SELECT doc,
         list_reduce(
           list_prepend({_HASH_SEED}::BIGINT,
             list_transform(range(1, length(tok) + 1), i -> ascii(tok[i]))),
           (a, b) -> (a * 31 + b) % {dim}) AS idx,
         COUNT(*)::DOUBLE / ANY_VALUE(n_toks) AS val
  FROM toks WHERE length(tok) > 0 GROUP BY doc, idx
), lab AS MATERIALIZED (
  SELECT doc, list_contains(t, 'vector')::DOUBLE AS y, is_train FROM base
), trlab AS MATERIALIZED (
  SELECT doc, y FROM lab WHERE is_train
), trfeat AS MATERIALIZED (
  SELECT f.doc, f.idx, f.val, f.doc % {n_batches} AS b
  FROM feat f JOIN (SELECT DISTINCT doc FROM trlab) tr USING (doc)
), nb AS MATERIALIZED (
  SELECT doc % {n_batches} AS b, COUNT(*)::DOUBLE AS n FROM trlab GROUP BY b
), w0 AS MATERIALIZED (
  SELECT unnest(range(0, {dim})) AS idx, 0.0::DOUBLE AS w
)"""
    steps = []
    for i in range(n_iter):
        b = i % n_batches
        steps.append(f""", m{i} AS MATERIALIZED (
  SELECT f.doc, SUM(f.val * w.w) AS margin
  FROM trfeat f JOIN w{i} w USING (idx) WHERE f.b = {b} GROUP BY f.doc
), e{i} AS MATERIALIZED (
  SELECT l.doc, 1.0 / (1.0 + exp(-COALESCE(m.margin, 0.0))) - l.y AS err
  FROM trlab l LEFT JOIN m{i} m USING (doc) WHERE l.doc % {n_batches} = {b}
), g{i} AS MATERIALIZED (
  SELECT f.idx,
         SUM(f.val * e.err) / (SELECT n FROM nb WHERE b = {b}) AS g
  FROM trfeat f JOIN e{i} e USING (doc) GROUP BY f.idx
), w{i + 1} AS MATERIALIZED (
  SELECT w.idx, w.w * (1.0 - {lr} * {l2}) - {lr} * COALESCE(g.g, 0.0) AS w
  FROM w{i} w LEFT JOIN g{i} g USING (idx)
)""")
    tail = f""", hofeat AS MATERIALIZED (
  SELECT f.doc, f.idx, f.val
  FROM feat f JOIN lab l USING (doc) WHERE NOT l.is_train
), mf AS MATERIALIZED (
  SELECT f.doc, SUM(f.val * w.w) AS margin
  FROM hofeat f JOIN w{n_iter} w USING (idx) GROUP BY f.doc
), ho AS MATERIALIZED (
  SELECT ROUND(1.0 / (1.0 + exp(-m.margin)), 6) AS score, l.y
  FROM lab l JOIN mf m USING (doc) WHERE NOT l.is_train
), bys AS MATERIALIZED (
  SELECT score, SUM(y) AS np, SUM(1.0 - y) AS nn FROM ho GROUP BY score
), cum AS MATERIALIZED (
  SELECT score, np, nn,
         COALESCE(SUM(nn) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS cnn
  FROM bys
)
SELECT (SELECT COUNT(*) FROM trlab)::BIGINT AS n_train,
       CAST(SUM(np) + SUM(nn) AS BIGINT) AS n_heldout,
       CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       ROUND(SUM(np * (cnn + 0.5 * nn)) / (SUM(np) * SUM(nn)), 6) AS auc,
       ROUND(SUM(score * np) / SUM(np), 6) AS mean_pos_score,
       ROUND(SUM(score * nn) / SUM(nn), 6) AS mean_neg_score
FROM cum
"""
    return head + "".join(steps) + tail


QUERIES["q152_classifier_heldout_auc"] = QuerySpec(
    _q_classifier_heldout_auc,
    _auc_oracle(_DIM, _N_ITER, _LR, _L2, _N_BATCHES, _AUC_SEED, _TRAIN_FRAC),
)
