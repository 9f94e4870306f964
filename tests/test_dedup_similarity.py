"""Property tests for non-oracle operators (SURVEY §5.2 item 4):
MinHash/SimHash recall on planted near-duplicates, LSH ANN recall vs
brute force, approx-distinct and sampling tolerance."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wing_binlog_go_spark.operators.dedup import (
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_dedup_pairs,
)
from wing_binlog_go_spark.operators.similarity import brute_force_topk, lsh_topk
from wing_binlog_go_spark.tables import read_table
from tests.streamwait import await_done


@pytest.fixture(scope="module")
def docs_with_dups(spark, sf_small):
    """Corpus + planted near-dups: for 10 docs, a copy with the last two
    words swapped (high Jaccard), plus 5 exact copies."""
    base = read_table(spark, sf_small, "documents").limit(100)
    toks = F.split(F.lower("text"), " ")
    near = (
        base.limit(10)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat_ws(
                " ", F.concat(F.slice(toks, 1, F.size(toks) - 2), F.array(F.lit("zzz"), F.lit("qqq")))
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    exact = base.limit(5).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return base.unionByName(near).unionByName(exact)


def test_minhash_recalls_planted_dups(docs_with_dups):
    pairs = minhash_dedup_pairs(docs_with_dups, threshold=0.5).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    # exact copies must always collide in every band
    exact_expected = {(i, i + 200000) for i in range(5)}
    assert exact_expected <= found, f"missing exact dups: {exact_expected - found}"
    exact_est = [r.est_jaccard for r in pairs if (r.doc_a, r.doc_b) in exact_expected]
    assert all(e == 1.0 for e in exact_est)
    # near dups (2 words changed out of ≥10): expect most recalled
    near_expected = {(i, i + 100000) for i in range(10)}
    recall = len(near_expected & found) / len(near_expected)
    assert recall >= 0.6, f"near-dup recall {recall}"


def test_simhash_recalls_exact_dups(docs_with_dups):
    pairs = simhash_dedup_pairs(docs_with_dups, max_hamming=3).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    exact_expected = {(i, i + 200000) for i in range(5)}
    assert exact_expected <= found
    assert all(
        r.hamming == 0 for r in pairs if (r.doc_a, r.doc_b) in exact_expected
    )


def test_ngram_jaccard_exact_dup_is_one(docs_with_dups):
    pairs = ngram_jaccard_pairs(docs_with_dups, k=5, threshold=0.99).collect()
    found = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    for i in range(5):
        assert found.get((i, i + 200000)) == 1.0


def test_lsh_ann_recall_vs_brute_force(spark, sf_small):
    emb = read_table(spark, sf_small, "embeddings")
    q = (
        emb.orderBy("vec_id")
        .limit(20)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = lsh_topk(emb, q, k=5, n_bits=4, n_tables=8).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[qid] & approx_sets.get(qid, set())) / len(exact_sets[qid])
        for qid in exact_sets
    ]
    avg_recall = sum(recalls) / len(recalls)
    assert avg_recall >= 0.4, f"ANN recall@5 {avg_recall:.2f}"


def test_dedup_clusters_and_canonical_survivors(spark):
    from wing_binlog_go_spark.operators.dedup import dedup_clusters, keep_canonical

    # two clusters: {1,2,3} via chain 1-2, 2-3; {10,11}; 99 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    labels = {r.doc: r.cluster for r in dedup_clusters(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 10, 11, 99)], "doc_id long, text string"
    )
    kept = sorted(r.doc_id for r in keep_canonical(docs, pairs).collect())
    assert kept == [1, 10, 99]  # one survivor per cluster + untouched doc


def test_dedup_clusters_long_chain_converges(spark):
    from wing_binlog_go_spark.operators.dedup import dedup_clusters

    # a 12-node chain exercises multi-round propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    labels = {r.doc: r.cluster for r in dedup_clusters(pairs).collect()}
    assert set(labels.values()) == {0}


def test_end_to_end_dedup_removes_planted_copies(spark, docs_with_dups):
    from wing_binlog_go_spark.operators.dedup import keep_canonical

    pairs = minhash_dedup_pairs(docs_with_dups, threshold=0.9)
    kept = keep_canonical(docs_with_dups, pairs)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # each exact copy (200000+i of i) loses to its original
    for i in range(5):
        assert i in kept_ids and (i + 200000) not in kept_ids


def test_minhash_estimate_tracks_exact_jaccard(spark, sf_small):
    """est_jaccard (16-hash estimate) stays within ±0.3 of exact 3-gram
    Jaccard on every pair both methods surface."""
    docs = read_table(spark, sf_small, "documents").limit(200)
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_dedup_pairs(docs, threshold=0.0, shingle_k=3).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.05).collect()
    }
    both = set(est) & set(exact)
    assert both, "no overlapping pairs to compare"
    errs = [abs(est[p] - exact[p]) for p in both]
    assert max(errs) <= 0.3, f"max estimate error {max(errs)}"


def test_ivf_ann_recall_vs_brute_force(spark, sf_small):
    from wing_binlog_go_spark.operators.similarity import ivf_topk

    emb = read_table(spark, sf_small, "embeddings")
    q = (
        emb.orderBy("vec_id")
        .limit(20)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = ivf_topk(emb, q, k=5, n_centroids=16, n_probe=6).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[qid] & approx_sets.get(qid, set())) / len(exact_sets[qid])
        for qid in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.6


def test_lsh_near_dup_recall_vs_exact(spark, sf_small):
    from wing_binlog_go_spark.operators.similarity import (
        embedding_near_dup_bruteforce,
        embedding_near_dup_lsh,
    )

    emb = read_table(spark, sf_small, "embeddings")
    # lower threshold so the corpus yields pairs to compare
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_bruteforce(emb, threshold=0.8).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_lsh(emb, threshold=0.8).collect()
    }
    assert approx <= exact  # LSH can miss, never invent
    if exact:
        assert len(approx) / len(exact) >= 0.5


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01"])
def test_bucketed_near_dup_pairs_equal_bruteforce(spark, scale):
    """The default (LSH-bucketed) embedding_near_dup_pairs must return
    EXACTLY the brute-force pair set at the oracle threshold — this is
    what keeps q38c oracle-green now that the query key carries the
    bucketed plan. The fixture corpora are near-orthogonal (max cosine
    ~0.51, so q38c itself is empty-vs-empty); plant 20 near-copies
    (cos ≥ 0.999) so the equality claim is exercised on real pairs.
    """
    import numpy as np

    from wing_binlog_go_spark.operators.similarity import (
        embedding_near_dup_bruteforce,
        embedding_near_dup_pairs,
    )

    emb = read_table(spark, f"/root/testdata/{scale}", "embeddings")
    base = emb.select("vec_id", "embedding").limit(20).collect()
    rng = np.random.RandomState(13)
    planted = [
        (
            100000 + r.vec_id,
            [
                float(x) + float(e)
                for x, e in zip(r.embedding, rng.randn(len(r.embedding)) * 1e-3)
            ],
        )
        for r in base
    ]
    full = emb.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(planted, ["vec_id", "embedding"])
    )
    exact = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in embedding_near_dup_bruteforce(full, threshold=0.95).collect()
    }
    got = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in embedding_near_dup_pairs(full, threshold=0.95).collect()
    }
    assert len(exact) >= 20  # every planted copy pairs with its source
    assert got == exact


def test_approx_count_distinct_tolerance(spark, sf_dir):
    o = read_table(spark, sf_dir, "orders")
    exact = o.select("o_custkey").distinct().count()
    approx = o.agg(F.approx_count_distinct("o_custkey", 0.02).alias("a")).collect()[0].a
    assert abs(approx - exact) / exact < 0.05


def test_sampling_tolerance(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    n = li.count()
    s = li.sample(fraction=0.1, seed=42).count()
    assert 0.07 * n < s < 0.13 * n


def test_minhash_signature_store_roundtrip(spark, docs_with_dups, tmp_path):
    """Amortized path: persisted signatures give the SAME pairs as the
    end-to-end computation (signatures are pure functions of content)."""
    from wing_binlog_go_spark.operators.dedup import (
        load_minhash_signatures,
        persist_minhash_signatures,
    )

    store = str(tmp_path / "sig")
    persist_minhash_signatures(docs_with_dups, store)
    sig = load_minhash_signatures(spark, store)
    from_store = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
        for r in minhash_dedup_pairs(None, signatures=sig, threshold=0.5).collect()
    }
    end_to_end = {
        (r.doc_a, r.doc_b, round(r.est_jaccard, 9))
        for r in minhash_dedup_pairs(docs_with_dups, threshold=0.5).collect()
    }
    assert from_store == end_to_end and from_store


def test_word_shingles_fast_path_matches_hof_on_pathological_spacing(spark):
    """The regex fast path must agree with the HOF builder on texts that
    break the [^ ]+ assumption (empty tokens), which route per-row to
    the fallback branch."""
    from wing_binlog_go_spark.operators.dedup import _word_shingles_hof, word_shingles

    texts = [
        "plain three word shingles here",
        "double  space between tokens",
        " leading space",
        "trailing space ",
        "a  b  c  d",
        "two words",
        "one",
        "",
        "tab\tand newline\nare not separators here",
        "  ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    for k in (2, 3, 5):
        got = {
            r.id: sorted(r.s)
            for r in df.select("id", word_shingles("text", k).alias("s")).collect()
        }
        want = {
            r.id: sorted(r.s)
            for r in df.select("id", _word_shingles_hof("text", k).alias("s")).collect()
        }
        assert got == want, (k, got, want)


# ---------------------------------------------------------------------------
# two-scale recall gates (r2 verdict ask #6): the rows-only variants are
# checked at sf0.001 AND sf0.01 so bucket-width tuning that happens to
# work at one corpus size can't silently regress the other.
# ---------------------------------------------------------------------------

_SCALES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _recall_at_k(exact_rows, approx_rows):
    es, asets = {}, {}
    for r in exact_rows:
        es.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx_rows:
        asets.setdefault(r.query_id, set()).add(r.vec_id)
    return sum(
        len(es[q] & asets.get(q, set())) / len(es[q]) for q in es
    ) / len(es)


@pytest.mark.parametrize("scale", _SCALES)
def test_registered_ann_variants_recall_at_both_scales(spark, scale):
    """q38b (hyperplane LSH), q38d (IVF), q38f (PQ/ADC) and q38i
    (IVF-PQ) — exactly the registered configurations the driver runs
    rows-only — must keep recall@5 ≥ 0.9 against q38's exact brute
    force at both test scales."""
    from wing_binlog_go_spark.registry import all_queries

    qs = all_queries()
    exact = qs["q38_ann_brute_force"].spark(spark, scale).collect()
    for name in ("q38b_ann_lsh", "q38d_ann_ivf", "q38f_ann_pq", "q38i_ann_ivfpq"):
        approx = qs[name].spark(spark, scale).collect()
        r = _recall_at_k(exact, approx)
        assert r >= 0.9, f"{name} recall@5 {r:.2f} at {scale}"


def test_ivf_pq_recall_under_zipf_cluster_skew(spark):
    """100×-scale guard (r4 verdict ask #6): the fixture embeddings are
    near-uniform, but real corpora are Zipf-clustered — one mode holds
    ~30% of the mass and the tail clusters are tiny, which is exactly
    where IVF's coarse quantizer under-allocates centroids and a fixed
    n_probe starves tail queries. Build a seeded synthetic with Zipf
    cluster masses (591..36 over 16 overlapping modes), query every
    cluster INCLUDING the tail, and require recall@10 ≥ 0.9 for the
    worst query — escalating n_probe / refine like an auto-tuner would
    (measured: IVF min-recall 0.6 at n_probe=2 → 1.0 at 4; PQ 0.8 at
    refine=100 → ≥0.9 at 200), and asserting the escalation CONVERGES
    within the probe budget instead of silently passing on averages."""
    import numpy as np

    from wing_binlog_go_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        pq_topk,
    )

    rng = np.random.RandomState(17)
    dim, n_modes, n_total = 64, 16, 2000
    centers = rng.normal(0, 1, (n_modes, dim)) * 1.5  # overlapping modes
    w = 1.0 / np.arange(1, n_modes + 1)  # Zipf mass
    sizes = np.maximum(1, (w / w.sum() * n_total).astype(int))
    rows, qrows, vid = [], [], 0
    for c in range(n_modes):
        for _ in range(sizes[c]):
            v = centers[c] + rng.normal(0, 1.0, dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
        for j in range(2):  # two queries per mode, tail included
            v = centers[c] + rng.normal(0, 1.0, dim)
            qrows.append((10_000 + c * 10 + j, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"]).localCheckpoint()
    queries = spark.createDataFrame(qrows, ["query_id", "embedding"])

    def per_query_recall(exact_rows, approx_rows):
        es, asets = {}, {}
        for r in exact_rows:
            es.setdefault(r.query_id, set()).add(r.vec_id)
        for r in approx_rows:
            asets.setdefault(r.query_id, set()).add(r.vec_id)
        per = [len(es[q] & asets.get(q, set())) / len(es[q]) for q in es]
        return sum(per) / len(per), min(per)

    exact = brute_force_topk(corpus, queries, k=10).collect()

    avg = low = 0.0
    for n_probe in (2, 4, 8):  # auto-raise until the tail holds
        approx = ivf_topk(
            corpus, queries, k=10, n_centroids=16, n_probe=n_probe
        ).collect()
        avg, low = per_query_recall(exact, approx)
        if avg >= 0.95 and low >= 0.9:
            break
    assert avg >= 0.95 and low >= 0.9, (
        f"IVF under Zipf skew: avg {avg:.2f} / min {low:.2f} even at n_probe=8"
    )

    avg = low = 0.0
    for refine in (100, 200, 400):  # deeper exact re-rank for the tail
        approx = pq_topk(corpus, queries, k=10, m=16, refine=refine).collect()
        avg, low = per_query_recall(exact, approx)
        if avg >= 0.95 and low >= 0.9:
            break
    assert avg >= 0.95 and low >= 0.9, (
        f"PQ under Zipf skew: avg {avg:.2f} / min {low:.2f} even at refine=400"
    )

    from wing_binlog_go_spark.operators.similarity import ivfpq_topk

    avg = low = 0.0
    # the composed regime has both levers; escalate them together the
    # way an auto-tuner would (probes widen the lists seen, refine
    # deepens the exact re-rank within them)
    for n_probe, refine in ((4, 100), (8, 200), (12, 400)):
        approx = ivfpq_topk(
            corpus, queries, k=10, n_centroids=16, n_probe=n_probe,
            m=16, refine=refine,
        ).collect()
        avg, low = per_query_recall(exact, approx)
        if avg >= 0.95 and low >= 0.9:
            break
    assert avg >= 0.95 and low >= 0.9, (
        f"IVF-PQ under Zipf skew: avg {avg:.2f} / min {low:.2f} "
        "even at n_probe=12/refine=400"
    )


@pytest.mark.parametrize("scale", _SCALES)
def test_minhash_pair_recall_vs_exact_jaccard_at_both_scales(spark, scale):
    """q37's registered config (est threshold 0.2) must recover ≥ 0.95
    of the pairs the exact 3-gram Jaccard (q37c's method) puts at ≥ 0.3
    — the threshold-crossing band where banding misses would appear."""
    docs = read_table(spark, scale, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.3).collect()
    }
    assert exact, "corpus must contain threshold-crossing pairs"
    approx = {
        (r.doc_a, r.doc_b)
        for r in minhash_dedup_pairs(docs, threshold=0.2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"minhash pair recall {recall:.2f} at {scale}"


@pytest.mark.parametrize("scale", _SCALES)
def test_simhash_chunk_join_is_complete_within_radius(spark, scale):
    """The pigeonhole chunk equi-join must surface EVERY pair within
    max_hamming — candidate generation completeness, checked against a
    numpy brute-force hamming matrix over all signatures. (SimHash at
    hamming ≤ 3/64 with unigram features targets ~token-identical docs;
    its *selectivity* is by design — what must never happen is the
    bucketed join missing a pair the radius includes.)"""
    import numpy as np

    from wing_binlog_go_spark.operators.dedup import simhash_signature

    docs = read_table(spark, scale, "documents")
    sig_rows = simhash_signature(docs, "doc_id", "text").collect()
    ids = np.array([r.doc_id for r in sig_rows], dtype=np.int64)
    sigs = np.array([r.simhash for r in sig_rows], dtype=np.int64).view(np.uint64)
    xor = sigs[:, None] ^ sigs[None, :]
    ham = np.zeros_like(xor, dtype=np.int64)
    for _ in range(64):  # popcount via shift-and-mask (no np.popcount in env)
        ham += (xor & 1).astype(np.int64)
        xor >>= 1
    ii, jj = np.where((ham <= 3) & (ids[:, None] < ids[None, :]))
    expected = {(int(ids[i]), int(ids[j])) for i, j in zip(ii, jj)}
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_dedup_pairs(docs, max_hamming=3).collect()
    }
    assert got == expected, (
        f"missing={len(expected - got)} extra={len(got - expected)} at {scale}"
    )


def test_pq_index_store_roundtrip(spark, sf_small, tmp_path):
    """Amortized PQ path: a persisted index (codes + codebooks) yields
    the SAME top-k as the end-to-end train+encode run."""
    from wing_binlog_go_spark.operators.similarity import (
        load_pq_index,
        persist_pq_index,
        pq_topk,
    )

    emb = read_table(spark, sf_small, "embeddings")
    q = (
        emb.orderBy("vec_id")
        .limit(10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    store = str(tmp_path / "pq")
    persist_pq_index(emb, store, m=16, n_codes=16)
    idx = load_pq_index(spark, store)
    from_store = [
        tuple(r) for r in pq_topk(None, q, k=5, refine=60, index=idx)
        .orderBy("query_id", "rnk").collect()
    ]
    end_to_end = [
        tuple(r) for r in pq_topk(emb, q, k=5, m=16, refine=60)
        .orderBy("query_id", "rnk").collect()
    ]
    assert from_store == end_to_end and from_store


def test_semantic_dedup_drops_planted_near_identical_vectors(spark, sf_small):
    """SemDeDup-style pruning: planted exact copies and tiny-epsilon
    perturbations of existing vectors must be dropped (the copy with the
    larger id goes); semantically distinct vectors all survive."""
    import numpy as np
    from pyspark.sql import types as T

    from wing_binlog_go_spark.operators.similarity import semantic_dedup

    emb = read_table(spark, sf_small, "embeddings")
    base = emb.orderBy("vec_id").limit(20).collect()
    max_id = emb.agg(F.max("vec_id")).first()[0]
    rng = np.random.RandomState(11)
    planted = []
    for j, r in enumerate(base):
        v = np.asarray(r.embedding, dtype=np.float64)
        if j % 2 == 0:  # exact copy
            w = v
        else:  # cos > 0.999 perturbation
            w = v + rng.normal(0, 1e-3, v.shape) * np.linalg.norm(v) / np.sqrt(len(v))
        planted.append((int(max_id) + 1 + j, [float(x) for x in w], int(r.label)))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    corpus = emb.unionByName(spark.createDataFrame(planted, schema))
    survivors = {r.vec_id for r in semantic_dedup(corpus, threshold=0.99, n_clusters=8).collect()}
    # every planted copy (larger id than its original) must be gone
    gone = {pid for pid, _, _ in planted}
    assert not (gone & survivors), f"planted copies survived: {gone & survivors}"
    # the originals themselves survive
    assert {r.vec_id for r in base} <= survivors


def test_semantic_dedup_no_near_dups_keeps_everything(spark, sf_small):
    """On the raw corpus (no planted dups) at an extreme threshold no
    pair qualifies, so semantic_dedup must be the identity."""
    from wing_binlog_go_spark.operators.similarity import semantic_dedup

    emb = read_table(spark, sf_small, "embeddings")
    survivors = semantic_dedup(emb, threshold=0.999999, n_clusters=4)
    assert survivors.count() == emb.count()
    assert "_cluster" in survivors.columns


def test_incremental_semantic_dedup_across_batches(spark, sf_small, tmp_path):
    """Streaming SemDeDup: batch 2's near-identical copy of a batch-1
    embedding is dropped via the persisted centroid+vector store
    WITHOUT rescanning batch 1; same-batch near-copies collapse to the
    min id; replays are no-ops and the store does not grow."""
    import json as _json

    import numpy as np

    from wing_binlog_go_spark.operators.similarity import (
        incremental_semantic_dedup_apply,
    )

    store = str(tmp_path / "semstore")
    emb = read_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    b1 = emb.orderBy("vec_id").limit(50)
    s1, st1 = incremental_semantic_dedup_apply(
        spark, b1, store, threshold=0.97, n_clusters=4
    )
    assert st1 == {"batch": 50, "replayed": 0, "dup_vs_history": 0,
                   "dup_in_batch": 0, "appended": 50}
    assert s1.count() == 50
    # centroids frozen on disk after batch 1
    with open(f"{store}/centroids.json") as f:
        cents1 = _json.load(f)["centroids"]
    assert len(cents1) == 4

    # batch 2: a perturbed near-copy AND a scaled near-copy of batch-1
    # vectors (both dups vs history — cosine is scale-invariant), plus
    # one genuinely fresh vector
    rows = b1.orderBy("vec_id").limit(2).collect()
    rng = np.random.RandomState(3)
    v0 = np.asarray(rows[0].embedding, dtype=np.float64)
    near_hist = v0 + rng.normal(0, 1e-4, v0.shape)
    fresh_vec = rng.normal(0, 1.0, v0.shape)  # near-orthogonal to all
    v1 = np.asarray(rows[1].embedding, dtype=np.float64)
    pair_a = v1 * 2.0 + rng.normal(0, 1e-5, v1.shape)  # scaled: cos ~1 to v1
    b2 = spark.createDataFrame(
        [
            (9001, [float(x) for x in near_hist]),   # dup vs history
            (9002, [float(x) for x in fresh_vec]),   # survives
            (9003, [float(x) for x in pair_a]),      # dup vs history (v1)
        ],
        ["vec_id", "embedding"],
    )
    s2, st2 = incremental_semantic_dedup_apply(
        spark, b2, store, threshold=0.97, n_clusters=4
    )
    assert {r.vec_id for r in s2.collect()} == {9002}
    assert st2["dup_vs_history"] == 2 and st2["appended"] == 1
    # centroids unchanged — batch 2 did NOT retrain the quantizer
    with open(f"{store}/centroids.json") as f:
        assert _json.load(f)["centroids"] == cents1

    # replay of batch 2: 9002 replays by id, 9001/9003 re-dedupe → no-op
    s2r, st2r = incremental_semantic_dedup_apply(
        spark, b2, store, threshold=0.97, n_clusters=4
    )
    assert s2r.count() == 0
    assert st2r["replayed"] == 1 and st2r["appended"] == 0
    stored = spark.read.parquet(f"{store}/vectors")
    assert stored.count() == 51
    assert "_cluster" in stored.columns


def test_incremental_semantic_dedup_same_batch_pair_min_id(spark, tmp_path):
    """Two near-identical vectors arriving in ONE batch collapse to the
    smaller id even with no history."""
    import numpy as np

    from wing_binlog_go_spark.operators.similarity import (
        incremental_semantic_dedup_apply,
    )

    rng = np.random.RandomState(5)
    a = rng.normal(0, 1, 16)
    b = a + rng.normal(0, 1e-5, 16)
    c = rng.normal(0, 1, 16)
    batch = spark.createDataFrame(
        [(1, [float(x) for x in a]), (2, [float(x) for x in b]),
         (3, [float(x) for x in c])],
        ["vec_id", "embedding"],
    )
    store = str(tmp_path / "s")
    s, st = incremental_semantic_dedup_apply(
        spark, batch, store, threshold=0.97, n_clusters=2
    )
    assert {r.vec_id for r in s.collect()} == {1, 3}
    assert st["dup_in_batch"] == 1 and st["appended"] == 2


def test_incremental_semantic_dedup_stats_off_two_actions(
    spark, tmp_path, monkeypatch
):
    """collect_stats=False: same 2-driver-action budget as the MinHash
    incremental path (appended count + store append)."""
    import numpy as np
    import pyspark.sql.readwriter as _RW

    try:
        import pyspark.sql.classic.dataframe as _D
    except ImportError:  # pragma: no cover - older pyspark
        import pyspark.sql.dataframe as _D

    from wing_binlog_go_spark.operators.similarity import (
        incremental_semantic_dedup_apply,
    )

    store = str(tmp_path / "s")
    rng = np.random.RandomState(9)
    batch = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(6)],
        ["vec_id", "embedding"],
    )
    # train + freeze centroids first (first batch pays the one-time
    # KMeans job; the steady-state budget is what we assert)
    incremental_semantic_dedup_apply(
        spark, batch, store, threshold=0.97, n_clusters=2
    )

    calls = {"count": 0, "collect": 0, "write": 0}
    orig_count, orig_collect = _D.DataFrame.count, _D.DataFrame.collect
    orig_parquet = _RW.DataFrameWriter.parquet
    monkeypatch.setattr(
        _D.DataFrame, "count",
        lambda self: (calls.__setitem__("count", calls["count"] + 1), orig_count(self))[1],
    )
    monkeypatch.setattr(
        _D.DataFrame, "collect",
        lambda self: (calls.__setitem__("collect", calls["collect"] + 1), orig_collect(self))[1],
    )
    monkeypatch.setattr(
        _RW.DataFrameWriter, "parquet",
        lambda self, *a, **kw: (calls.__setitem__("write", calls["write"] + 1), orig_parquet(self, *a, **kw))[1],
    )
    b2 = spark.createDataFrame(
        [(100, [float(x) for x in rng.normal(0, 1, 16)])],
        ["vec_id", "embedding"],
    )
    s, st = incremental_semantic_dedup_apply(
        spark, b2, store, threshold=0.97, n_clusters=2, collect_stats=False
    )
    assert calls == {"count": 1, "collect": 0, "write": 1}, calls
    assert st["appended"] == 1 and st["batch"] is None


def test_assign_clusters_empty_corpus_fails_loudly(spark):
    from pyspark.sql import types as T

    from wing_binlog_go_spark.operators.similarity import semantic_dedup

    empty = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty"):
        semantic_dedup(empty, n_clusters=4)


def test_incremental_dedup_across_batches(spark, tmp_path):
    """The daily-increment workflow: batch 2's copy of a batch-1 doc is
    dropped via the signature store WITHOUT re-reading batch 1's text;
    batch-internal copies collapse to the min id; replays are no-ops."""
    from wing_binlog_go_spark.operators.dedup import incremental_dedup_apply

    store = str(tmp_path / "sigs")
    b1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog while the "
                "patient grey owl watches from a very tall oak tree near "
                "the quiet river bend at dawn each morning in spring"),
            (2, "completely different prose about distributed query engines "
                "and the storage layouts that make large scans fast when "
                "columns prune and predicates push into the file footers"),
        ],
        ["doc_id", "text"],
    )
    s1, st1 = incremental_dedup_apply(spark, b1, store, threshold=0.7)
    assert {r.doc_id for r in s1.collect()} == {1, 2}
    assert st1 == {"batch": 2, "replayed": 0, "dup_vs_history": 0,
                   "dup_in_batch": 0, "appended": 2}

    b2 = spark.createDataFrame(
        [
            # near-copy of doc 1 (one word changed) → dup vs history
            (10, "the quick brown fox jumps over the lazy cat while the "
                 "patient grey owl watches from a very tall oak tree near "
                 "the quiet river bend at dawn each morning in spring"),
            # fresh content, duplicated within the batch → keep 11 only
            (11, "novel sentences about incremental corpus construction today"),
            (12, "novel sentences about incremental corpus construction today"),
        ],
        ["doc_id", "text"],
    )
    s2, st2 = incremental_dedup_apply(spark, b2, store, threshold=0.7)
    assert {r.doc_id for r in s2.collect()} == {11}
    assert st2["dup_vs_history"] == 1 and st2["dup_in_batch"] == 1
    assert st2["appended"] == 1

    # replay of batch 2: every id already in store or dropped before;
    # store must not grow and nothing new survives... ids 10/12 were
    # DROPPED (not stored), so they re-dedupe the same way
    s2r, st2r = incremental_dedup_apply(spark, b2, store, threshold=0.7)
    assert {r.doc_id for r in s2r.collect()} == set()
    assert st2r["replayed"] == 1            # id 11 is in the store now
    assert st2r["appended"] == 0
    from wing_binlog_go_spark.operators.dedup import load_minhash_signatures

    assert load_minhash_signatures(spark, store).count() == 3  # ids 1, 2, 11


def test_incremental_dedup_stats_off_runs_two_actions(spark, tmp_path, monkeypatch):
    """collect_stats=False (the streaming micro-batch path) must submit
    exactly TWO driver actions — the appended count (the commit
    decision) and the store append — and still converge to the same
    survivors/store as the stats path. Actions are counted directly
    (AQE fans one action into many Spark jobs, so job ids are not the
    unit of scheduler overhead we care about)."""
    import pyspark.sql.readwriter as _RW

    # Spark 4: the concrete DataFrame (whose count/collect actually run)
    # is pyspark.sql.classic.dataframe.DataFrame, not the abstract base
    try:
        import pyspark.sql.classic.dataframe as _D
    except ImportError:  # pragma: no cover - older pyspark
        import pyspark.sql.dataframe as _D

    from wing_binlog_go_spark.operators.dedup import (
        incremental_dedup_apply,
        load_minhash_signatures,
    )

    calls = {"count": 0, "collect": 0, "write": 0}
    orig_count, orig_collect = _D.DataFrame.count, _D.DataFrame.collect
    orig_parquet = _RW.DataFrameWriter.parquet

    def counted_count(self):
        calls["count"] += 1
        return orig_count(self)

    def counted_collect(self):
        calls["collect"] += 1
        return orig_collect(self)

    def counted_parquet(self, *a, **kw):
        calls["write"] += 1
        return orig_parquet(self, *a, **kw)

    monkeypatch.setattr(_D.DataFrame, "count", counted_count)
    monkeypatch.setattr(_D.DataFrame, "collect", counted_collect)
    monkeypatch.setattr(_RW.DataFrameWriter, "parquet", counted_parquet)

    store = str(tmp_path / "sigs")
    b1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog while the "
                "patient grey owl watches from a very tall oak tree near "
                "the quiet river bend at dawn each morning in spring"),
            (2, "novel sentences about incremental corpus construction today"),
            (3, "novel sentences about incremental corpus construction today"),
        ],
        ["doc_id", "text"],
    )
    s1, st1 = incremental_dedup_apply(
        spark, b1, store, threshold=0.7, collect_stats=False
    )
    assert calls == {"count": 1, "collect": 0, "write": 1}, calls
    assert st1["appended"] == 2
    assert st1["batch"] is None and st1["dup_in_batch"] is None
    assert {r.doc_id for r in s1.collect()} == {1, 2}
    assert load_minhash_signatures(spark, store).count() == 2

    # second batch against existing history: near-copy of doc 1 is
    # dropped via the store, nothing appends → 1 count + 0 writes
    calls.update({"count": 0, "collect": 0, "write": 0})
    b2 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy cat while the "
              "patient grey owl watches from a very tall oak tree near "
              "the quiet river bend at dawn each morning in spring")],
        ["doc_id", "text"],
    )
    s2, st2 = incremental_dedup_apply(
        spark, b2, store, threshold=0.7, collect_stats=False
    )
    assert calls == {"count": 1, "collect": 0, "write": 0}, calls
    assert st2["appended"] == 0
    assert {r.doc_id for r in s2.collect()} == set()
    assert load_minhash_signatures(spark, store).count() == 2


def test_fuzzy_edit_join_catches_indels_and_substitutions(spark, sf_small):
    """PassJoin completeness: planted variants of fixture prefixes with
    SUBSTITUTIONS, INSERTIONS and DELETIONS (the shift handling is what
    separates PassJoin from naive positional blocking) must all pair
    with their source at the exact distance, verified against a brute
    force computed with Spark's own levenshtein."""
    from wing_binlog_go_spark.operators.dedup import fuzzy_prefix_pairs

    base = read_table(spark, sf_small, "documents").filter(
        F.length("text") >= 40
    ).select("doc_id", "text").orderBy("doc_id").limit(6).collect()
    variants = []
    for j, r in enumerate(base):
        t = r.text[:40]
        if j % 3 == 0:  # two substitutions
            v = "XY" + t[2:]
        elif j % 3 == 1:  # deletion of 3 chars (shifts everything left)
            v = t[3:] + "ZZZ"  # pad back so length >= prefix_len
        else:  # insertion of 2 chars at the front (shifts right)
            v = "QQ" + t
        variants.append((100000 + r.doc_id, v + r.text[40:]))
    docs = (
        read_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .unionByName(spark.createDataFrame(variants, ["doc_id", "text"]))
    )
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in fuzzy_prefix_pairs(docs, k=8, prefix_len=30).collect()
    }
    # brute-force truth using the same engine's levenshtein
    p = docs.filter(F.length("text") >= 30).select(
        "doc_id", F.substring("text", 1, 30).alias("t")
    )
    brute = {
        (r.id_a, r.id_b, r.dist)
        for r in p.alias("a")
        .join(p.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.levenshtein("a.t", "b.t").alias("dist"),
        )
        .filter(F.col("dist") <= 8)
        .collect()
    }
    assert got == brute
    # every planted variant found its source
    planted_pairs = {a for a, b, _ in got if b >= 100000} | {
        b - 100000 for a, b, _ in got if b >= 100000 and a == b - 100000
    }
    for j, r in enumerate(base):
        assert any(
            a == r.doc_id and b == 100000 + r.doc_id for a, b, _ in got
        ), f"variant of doc {r.doc_id} (mode {j % 3}) not recovered"


def test_incremental_pq_index_appends_with_frozen_codebooks(spark, sf_small, tmp_path):
    """Vector-DB ingestion path: batch 1 trains + creates the PQ index,
    batch 2 encodes against the FROZEN codebooks and appends, replay is
    a no-op, and ANN through the incrementally-built index keeps
    recall@5 ≥ 0.9 vs brute force over the full corpus."""
    import json as _json

    from wing_binlog_go_spark.operators.similarity import (
        brute_force_topk,
        incremental_pq_index_apply,
        load_pq_index,
        pq_topk,
    )

    store = str(tmp_path / "pq")
    emb = read_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    b1 = emb.filter(F.col("vec_id") < 250)
    b2 = emb.filter(F.col("vec_id") >= 250)

    st1 = incremental_pq_index_apply(spark, b1, store, m=16)
    assert st1 == {"batch": 250, "replayed": 0, "appended": 250}
    with open(f"{store}/codebooks.json") as f:
        books1 = _json.load(f)["books"]

    st2 = incremental_pq_index_apply(spark, b2, store, m=16)
    assert st2 == {"batch": 250, "replayed": 0, "appended": 250}
    with open(f"{store}/codebooks.json") as f:
        assert _json.load(f)["books"] == books1  # frozen, not retrained

    # replay of batch 2: ids already coded → nothing appended
    st2r = incremental_pq_index_apply(spark, b2, store, m=16)
    assert st2r == {"batch": 250, "replayed": 250, "appended": 0}

    idx = load_pq_index(spark, store)
    assert idx[0].count() == 500

    q = (
        emb.orderBy("vec_id").limit(10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = brute_force_topk(emb, q, k=5).collect()
    # refine=100 (vs the full-corpus config's 60): codebooks trained on
    # the FIRST increment quantize later arrivals slightly worse, and a
    # deeper exact re-rank is the documented compensation lever until
    # an offline reindex
    approx = pq_topk(None, q, k=5, refine=100, index=idx).collect()
    es, asets = {}, {}
    for r in exact:
        es.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        asets.setdefault(r.query_id, set()).add(r.vec_id)
    rec = sum(len(es[i] & asets.get(i, set())) / len(es[i]) for i in es) / len(es)
    assert rec >= 0.9, f"recall@5 through incremental index: {rec:.2f}"


def test_zero_norm_embedding_does_not_poison_ann_indexes(spark):
    """An all-zero embedding must encode to valid (non-NaN) list
    assignments and codes in every quantized regime (ADVICE r5): the
    norm clamp keeps it a zero vector instead of NaN rows that would
    corrupt argmin-based assignments for the whole Arrow batch."""
    import numpy as np

    from wing_binlog_go_spark.operators.similarity import (
        ivfpq_topk,
        pq_encode,
        pq_topk,
        pq_train,
    )

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).tolist()) for i in range(200)]
    rows.append((200, [0.0] * 16))  # the poison pill
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    books = pq_train(corpus, m=4, n_codes=8)
    assert np.isfinite(books).all()
    coded = pq_encode(corpus, books).collect()
    assert len(coded) == 201
    for r in coded:
        assert all(0 <= c < 8 for c in r._codes), r

    q = spark.createDataFrame(
        [(0, rows[0][1]), (1, [0.0] * 16)],
        "query_id long, embedding array<double>",
    )
    for df in (
        pq_topk(corpus, q, k=3, m=4, n_codes=8, refine=20),
        ivfpq_topk(corpus, q, k=3, n_centroids=4, m=4, n_codes=8, refine=20),
    ):
        got = df.collect()
        # both queries produce k well-formed candidate rows
        by_q = {}
        for r in got:
            by_q.setdefault(r.query_id, []).append(r)
        assert set(by_q) == {0, 1} and all(len(v) == 3 for v in by_q.values())


def test_fuzzy_varlen_join_matches_bruteforce_across_lengths(spark):
    """Variable-length PassJoin completeness (q114): random short
    strings with edits of ALL types — including net length changes up
    to k, the case the fixed-length form excludes — must yield exactly
    the brute-force pair set at k=3.  The probe bounds
    (|d| + |Δ-d| <= k and |Δ-d| <= k-i) were additionally validated
    exhaustively off-Spark; this is the end-to-end check on the
    DataFrame implementation."""
    import random

    from wing_binlog_go_spark.operators.dedup import fuzzy_edit_join

    rng = random.Random(42)
    alpha = "abcd"
    rows = []
    for i in range(40):
        rows.append((i, "".join(rng.choice(alpha) for _ in range(rng.randint(6, 18)))))
    # planted variants with net length drift -3..+3
    for j in range(20):
        src_id, t = rows[j]
        ops = rng.randint(1, 3)
        v = t
        for _ in range(ops):
            pos = rng.randrange(len(v))
            kind = rng.choice("sid")
            if kind == "s":
                v = v[:pos] + rng.choice(alpha) + v[pos + 1:]
            elif kind == "i":
                v = v[:pos] + rng.choice(alpha) + v[pos:]
            elif len(v) > 4:
                v = v[:pos] + v[pos + 1:]
        rows.append((1000 + src_id, v))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.id_a, r.id_b, r.dist) for r in fuzzy_edit_join(docs, k=3).collect()}
    p = docs.filter(F.length("text") > 3)
    brute = {
        (r.id_a, r.id_b, r.dist)
        for r in p.alias("a")
        .join(p.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.levenshtein("a.text", "b.text").alias("dist"),
        )
        .filter(F.col("dist") <= 3)
        .collect()
    }
    assert brute, "fixture must contain within-k pairs"
    assert got == brute


def test_incremental_ivfpq_index_appends_with_frozen_quantizers(
    spark, sf_small, tmp_path
):
    """IVF-PQ vector-DB ingestion: batch 1 trains coarse+residual
    quantizers and creates the LIST-PARTITIONED store, batch 2 encodes
    against the frozen pair and appends only into its lists'
    partitions, replay is a no-op, and ANN through the
    incrementally-built index keeps recall@5 ≥ 0.9 vs brute force."""
    import json as _json
    import os

    from wing_binlog_go_spark.operators.similarity import (
        brute_force_topk,
        incremental_ivfpq_index_apply,
        ivfpq_topk,
        load_ivfpq_index,
    )

    store = str(tmp_path / "ivfpq")
    emb = read_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    b1 = emb.filter(F.col("vec_id") < 250)
    b2 = emb.filter(F.col("vec_id") >= 250)

    st1 = incremental_ivfpq_index_apply(spark, b1, store, m=16)
    assert st1 == {"batch": 250, "replayed": 0, "appended": 250}
    with open(f"{store}/quantizers.json") as f:
        q1 = _json.load(f)
    # inverted-list layout on disk: one partition dir per coarse cell
    lists = [d for d in os.listdir(f"{store}/codes") if d.startswith("_list=")]
    assert len(lists) > 1

    st2 = incremental_ivfpq_index_apply(spark, b2, store, m=16)
    assert st2 == {"batch": 250, "replayed": 0, "appended": 250}
    with open(f"{store}/quantizers.json") as f:
        q2 = _json.load(f)
    assert q2["coarse"] == q1["coarse"] and q2["books"] == q1["books"]

    st2r = incremental_ivfpq_index_apply(spark, b2, store, m=16)
    assert st2r == {"batch": 250, "replayed": 250, "appended": 0}

    idx = load_ivfpq_index(spark, store)
    assert idx[0].count() == 500

    q = (
        emb.orderBy("vec_id").limit(10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = brute_force_topk(emb, q, k=5).collect()
    # wider probes/refine than the full-corpus config: quantizers
    # trained on the first increment assign later arrivals slightly
    # worse — the same documented compensation lever as the PQ store
    approx = ivfpq_topk(
        None, q, k=5, n_probe=14, refine=150, index=idx
    ).collect()
    es, asets = {}, {}
    for r in exact:
        es.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        asets.setdefault(r.query_id, set()).add(r.vec_id)
    rec = sum(len(es[i] & asets.get(i, set())) / len(es[i]) for i in es) / len(es)
    assert rec >= 0.9, f"recall@5 through incremental IVF-PQ index: {rec:.2f}"


def test_apss_prefix_join_equals_full_inverted_index(spark, sf_small):
    """Prefix filtering is EXACT (q117): the candidate prefix join +
    verify must return the identical (pair, jaccard) set as the full
    inverted-index join at the same (k, threshold) — the lemma says
    any J >= t pair shares a prefix element, so recall is 1.0, and the
    verify step makes precision 1.0."""
    from wing_binlog_go_spark.operators.dedup import (
        apss_prefix_pairs,
        ngram_jaccard_pairs,
    )

    docs = read_table(spark, sf_small, "documents")
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in apss_prefix_pairs(docs, k=3, threshold=0.5).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    assert want, "fixture must contain >= t pairs"
    assert got == want


def test_apss_prefix_filter_prunes_candidates(spark, sf_small):
    """The scale claim: the prefix join must generate strictly fewer
    candidate pairs than 'docs sharing ANY element' (what the full
    inverted index enumerates) — hot elements sort out of prefixes."""
    from wing_binlog_go_spark.operators.dedup import word_shingles

    docs = read_table(spark, sf_small, "documents")
    el = docs.select(
        F.col("doc_id").alias("doc"), F.explode(word_shingles("text", 3)).alias("s")
    )
    a, b = el.alias("a"), el.alias("b")
    sharing_any = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .select("a.doc", "b.doc")
        .distinct()
        .count()
    )

    # reproduce the operator's candidate stage (prefix explode + join)
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
            F.expr("slice(els, 1, size(els) - cast(ceil(0.5 * size(els)) as int) + 1)")
        ).alias("s"),
    )
    pa, pb = pre.alias("a"), pre.alias("b")
    prefix_cands = (
        pa.join(pb, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .filter(F.least("a.n", "b.n") >= F.lit(0.5) * F.greatest("a.n", "b.n"))
        .select("a.doc", "b.doc")
        .distinct()
        .count()
    )
    assert prefix_cands < sharing_any / 4, (prefix_cands, sharing_any)


def test_apss_random_corpora_match_bruteforce(spark):
    """Randomized APSS completeness: on seeded random corpora with a
    small vocabulary (max shingle collision pressure), prefix-filtered
    pairs must equal the brute-force all-pairs Jaccard at several
    thresholds, including ones where almost everything matches."""
    import itertools
    import random

    from wing_binlog_go_spark.operators.dedup import apss_prefix_pairs

    rng = random.Random(7)
    vocab = ["a", "b", "c", "d", "e"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        for i in range(60)
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")

    def shingles(text, k):
        t = text.lower().split(" ")
        if len(t) < k:
            return {" ".join(t)}
        return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}

    for k, t in [(2, 0.3), (2, 0.8), (3, 0.5)]:
        sets = {i: shingles(x, k) for i, x in docs}
        want = set()
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= t:
                want.add((a, b, round(j, 6)))
        got = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in apss_prefix_pairs(sdf, k=k, threshold=t).collect()
        }
        assert want, (k, t)
        assert got == want, (k, t)


def test_incremental_apss_matches_batch_operator(spark, sf_small, tmp_path):
    """Exactness across increments: the union of pair sets from two
    incremental_apss_apply batches must equal ngram_jaccard_pairs on
    the full corpus at the same (k, threshold) — the frozen founding
    order changes candidate efficiency, never the answer. Replays are
    id-no-ops returning no pairs."""
    from wing_binlog_go_spark.operators.dedup import (
        incremental_apss_apply,
        ngram_jaccard_pairs,
    )

    docs = read_table(spark, sf_small, "documents")
    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    store = str(tmp_path / "apss")

    p1, st1 = incremental_apss_apply(spark, b1, store, k=3, threshold=0.5)
    assert st1["replayed"] == 0 and st1["appended"] == st1["batch"]
    p2, st2 = incremental_apss_apply(spark, b2, store, k=3, threshold=0.5)
    assert st2["replayed"] == 0 and st2["appended"] == st2["batch"]

    got = {
        (r.doc_a, r.doc_b, r.jaccard) for r in p1.collect()
    } | {(r.doc_a, r.doc_b, r.jaccard) for r in p2.collect()}
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    assert want and got == want

    p2r, st2r = incremental_apss_apply(spark, b2, store, k=3, threshold=0.5)
    assert st2r == {
        "batch": st2["batch"], "replayed": st2["batch"], "appended": 0,
        "pairs_vs_history": 0, "pairs_in_batch": 0,
    }
    assert p2r.count() == 0


def test_compact_ivfpq_index_retrains_and_preserves_vectors(
    spark, sf_small, tmp_path
):
    """Offline compaction: after incremental builds, compaction
    retrains quantizers on the FULL corpus (quantizers change), keeps
    every vector, rewrites the list-partitioned layout atomically, and
    the compacted index still answers with recall ≥ 0.9 at the same
    probe config as the incremental store (the fixture embeddings are
    near-orthogonal — no real cluster structure — so wide probes are
    the regime regardless of training freshness)."""
    import json as _json

    from wing_binlog_go_spark.operators.similarity import (
        brute_force_topk,
        compact_ivfpq_index,
        incremental_ivfpq_index_apply,
        ivfpq_topk,
        load_ivfpq_index,
    )

    store = str(tmp_path / "ivfpq")
    emb = read_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    incremental_ivfpq_index_apply(
        spark, emb.filter(F.col("vec_id") < 250), store, m=16
    )
    incremental_ivfpq_index_apply(
        spark, emb.filter(F.col("vec_id") >= 250), store, m=16
    )
    with open(f"{store}/quantizers.json") as f:
        before = _json.load(f)

    stats = compact_ivfpq_index(spark, store, m=16)
    assert stats["vectors"] == 500 and stats["n_lists"] > 1
    with open(f"{store}/quantizers.json") as f:
        after = _json.load(f)
    assert after["coarse"] != before["coarse"]  # genuinely retrained

    # atomicity: the quantizers commit WITH the codes swap (embedded
    # underscore file inside codes/), so a crash before the root-level
    # convenience copy cannot pair new quantizers with old codes — the
    # embedded copy is preferred even if the root copy is stale/corrupt
    with open(f"{store}/codes/_quantizers.json") as f:
        embedded = _json.load(f)
    assert embedded["coarse"] == after["coarse"]
    with open(f"{store}/quantizers.json", "w") as f:
        f.write("{corrupt")  # simulate crash-before-convenience-copy
    idx_pref = load_ivfpq_index(spark, store)
    assert idx_pref[1].tolist() == after["coarse"]
    with open(f"{store}/quantizers.json", "w") as f:
        _json.dump(after, f)  # restore for the rest of the test

    idx = load_ivfpq_index(spark, store)
    assert idx[0].count() == 500
    q = (
        emb.orderBy("vec_id").limit(10)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = ivfpq_topk(None, q, k=5, n_probe=14, refine=150, index=idx).collect()
    es, asets = {}, {}
    for r in exact:
        es.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx:
        asets.setdefault(r.query_id, set()).add(r.vec_id)
    rec = sum(len(es[i] & asets.get(i, set())) / len(es[i]) for i in es) / len(es)
    assert rec >= 0.9, rec


def test_feature_hash_embed_bridges_text_to_semantic_dedup(spark, sf_small):
    """The hashing-trick embeddings must (a) be unit-norm and
    deterministic, (b) place a doc and its lightly-edited copy at high
    cosine while unrelated docs stay lower, and (c) feed semantic_dedup
    so the planted copies get dropped — text → vector family with no
    external model."""
    import math

    from wing_binlog_go_spark.operators.similarity import (
        feature_hash_embed,
        semantic_dedup,
    )

    base = read_table(spark, sf_small, "documents").limit(40)
    toks = F.split(F.lower("text"), " ")
    copies = base.limit(8).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.slice(toks, 1, F.size(toks) - 1), F.array(F.lit("zzz"))),
        ).alias("text"),
    )
    corpus = base.select("doc_id", "text").unionByName(copies)
    emb = feature_hash_embed(corpus, dim=64)
    rows = {r.doc_id: r.embedding for r in emb.collect()}
    again = {r.doc_id: r.embedding for r in feature_hash_embed(corpus, dim=64).collect()}
    assert rows == again  # deterministic
    for v in rows.values():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-9

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    pair_cos = [cos(rows[i], rows[i + 500000]) for i in range(8)]
    cross_cos = [cos(rows[i], rows[i + 1]) for i in range(7)]
    assert min(pair_cos) > 0.9, pair_cos
    assert max(cross_cos) < min(pair_cos), (max(cross_cos), min(pair_cos))

    kept = {
        r.doc_id
        for r in semantic_dedup(
            emb, id_col="doc_id", threshold=0.95, n_clusters=4
        ).select("doc_id").collect()
    }
    for i in range(8):  # min-id survivor keeps the original
        assert i in kept and (i + 500000) not in kept


def test_fuzzy_varlen_join_covers_short_strings(spark):
    """q114 domain-completeness regression: strings of length <= k
    (where segment blocking is impossible) must still join — the
    length-window pass makes the operator's domain identical to the
    registered oracle's (ALL lengths), verified against brute force
    including empty strings and short-long pairs."""
    import itertools

    from wing_binlog_go_spark.operators.dedup import fuzzy_edit_join

    texts = ["ab", "abc", "", "xyz", "abcdefgh", "abcdefghx",
             "zzzzzzzzzzzz", "ab cd", "abq"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    got = {(r.id_a, r.id_b, r.dist) for r in fuzzy_edit_join(docs, k=5).collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[len(b)]

    want = {
        (i, j, lev(texts[i], texts[j]))
        for i, j in itertools.combinations(range(len(texts)), 2)
        if lev(texts[i], texts[j]) <= 5
    }
    assert got == want
    # the pair classes partition: short-short, short-long, long-long
    assert (0, 1, 1) in want and (4, 5, 1) in want and (1, 8, 1) in want


def test_containment_planted_snippet_found_and_jaccard_blind(spark):
    """q138's reason to exist: a short snippet verbatim inside a long
    host has high containment but tiny Jaccard. The planted pair must
    surface in containment_pairs and NOT in the symmetric join at the
    same shingle size."""
    from wing_binlog_go_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    host_words = [f"w{i}" for i in range(400)]
    snippet = " ".join(host_words[100:130])  # 30 words embedded verbatim
    other = " ".join(f"x{i}" for i in range(300))
    docs = spark.createDataFrame(
        [(1, " ".join(host_words)), (2, snippet), (3, other)],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(docs, k=3, threshold=0.8).collect()
    }
    assert (2, 1) in got and got[(2, 1)] == 1.0  # snippet ⊂ host
    assert (1, 2) not in got  # direction matters: host ⊄ snippet
    sym = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    assert (1, 2) not in sym and (2, 1) not in sym  # Jaccard is blind here


def test_containment_equals_bruteforce_on_fixture(spark, sf_small):
    """Prefix filtering on the contained side is EXACT: candidates +
    verify must equal the unfiltered directional overlap ratio."""
    from wing_binlog_go_spark.operators.dedup import (
        containment_pairs,
        word_shingles,
    )

    docs = read_table(spark, sf_small, "documents")
    got = {
        (r.doc_a, r.doc_b, r.containment)
        for r in containment_pairs(docs, k=3, threshold=0.8).collect()
    }
    el = docs.select(
        F.col("doc_id").alias("doc"), F.explode(word_shingles("text", 3)).alias("s")
    )
    n = el.groupBy("doc").count()
    brute = (
        el.alias("a")
        .join(el.alias("b"), (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") != F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("ov"))
        .join(n.withColumnRenamed("doc", "doc_a").withColumnRenamed("count", "n_a"), "doc_a")
        .filter(F.col("ov") / F.col("n_a") >= 0.8)
        .select("doc_a", "doc_b", F.round(F.col("ov") / F.col("n_a"), 6).alias("containment"))
    )
    want = {(r.doc_a, r.doc_b, r.containment) for r in brute.collect()}
    assert want, "fixture must contain containment pairs"
    assert got == want


def test_incremental_containment_matches_batch_operator(spark, sf_small, tmp_path):
    """The union of every increment's pairs equals containment_pairs on
    the cumulative corpus (both directions); replay is a no-op."""
    from wing_binlog_go_spark.operators.dedup import (
        containment_pairs,
        incremental_containment_apply,
    )

    docs = read_table(spark, sf_small, "documents").orderBy("doc_id").limit(240)
    parts = [
        docs.filter(F.col("doc_id") % 3 == i).localCheckpoint(eager=True)
        for i in range(3)
    ]
    store = str(tmp_path / "cont")
    got = set()
    for p in parts:
        pairs, stats = incremental_containment_apply(
            spark, p, store, k=3, threshold=0.8
        )
        got |= {
            (r.doc_a, r.doc_b, r.containment) for r in pairs.collect()
        }
        assert stats["appended"] > 0
    want_df = containment_pairs(
        docs, k=3, threshold=0.8
    )
    want = {(r.doc_a, r.doc_b, r.containment) for r in want_df.collect()}
    assert want, "fixture must contain containment pairs"
    assert got == want

    # replay: the last increment redelivered contributes nothing new
    pairs, stats = incremental_containment_apply(
        spark, parts[-1], store, k=3, threshold=0.8
    )
    assert stats["appended"] == 0 and stats["replayed"] == stats["batch"]
    assert pairs.count() == 0


def test_incremental_containment_dedup_rules_and_replay(spark, tmp_path):
    """Drop rules: snippet ⊂ history host drops; mutual near-equals
    keep the min id; unrelated docs survive; one-directional batch
    containment drops the contained side; replay is a no-op."""
    from wing_binlog_go_spark.operators.dedup import (
        incremental_containment_dedup_apply,
    )

    store = str(tmp_path / "cstore")
    host = " ".join(f"w{i}" for i in range(200))
    b1 = spark.createDataFrame(
        [(1, host), (2, " ".join(f"x{i}" for i in range(100)))],
        "doc_id long, text string",
    )
    surv1, s1 = incremental_containment_dedup_apply(spark, b1, store)
    assert {r.doc_id for r in surv1.collect()} == {1, 2}
    assert s1["appended"] == 2

    snippet = " ".join(f"w{i}" for i in range(50, 90))  # ⊂ host (history)
    near_a = " ".join(f"y{i}" for i in range(80))
    near_b = near_a + " y999"  # mutual ≥0.8 pair with near_a
    contained_new = " ".join(f"x{i}" for i in range(10, 40))  # ⊂ doc 2? history!
    b2 = spark.createDataFrame(
        [(10, snippet), (11, near_a), (12, near_b), (13, contained_new)],
        "doc_id long, text string",
    )
    surv2, s2 = incremental_containment_dedup_apply(spark, b2, store)
    got = {r.doc_id for r in surv2.collect()}
    # 10 ⊂ history host; 13 ⊂ history doc 2; mutual (11,12) keeps 11
    assert got == {11}
    assert s2["dropped_vs_history"] == 2
    assert s2["dropped_in_batch"] == 1
    assert s2["appended"] == 1

    # replay of b2: 11 is in the store (replay no-op, not re-emitted —
    # id-presence IS the commit); the dropped three are re-judged
    # against the SAME store and drop again — nothing appends twice
    surv2r, s2r = incremental_containment_dedup_apply(spark, b2, store)
    assert surv2r.count() == 0
    assert s2r["appended"] == 0 and s2r["replayed"] == 1
    # 12's mutual partner 11 is HISTORY on replay: it now drops as a
    # history containment, alongside 10 and 13
    assert s2r["dropped_vs_history"] == 3 and s2r["dropped_in_batch"] == 0


def test_containment_corpus_route_e2e(spark, tmp_path):
    """Pipeline route: host arrives in batch 1, its snippet + an
    unrelated doc in batch 2 — the corpus keeps host + unrelated."""
    import json as _json

    from wing_binlog_go_spark.streaming.pipeline import Route, run_pipeline
    from wing_binlog_go_spark.streaming.sinks import (
        containment_corpus_writer,
        read_containment_corpus,
    )

    log = tmp_path / "log"
    log.mkdir()
    host = " ".join(f"w{i}" for i in range(150))

    def rec(pos, did, text):
        return {
            "binlog_file": "mysql-bin.000001", "binlog_pos": pos,
            "xid_commit": True, "database": "shop", "table": "docs",
            "action": "insert", "row_no": 0, "before": None,
            "after": {"id": str(did), "text": text}, "ddl_query": None,
            "ts_header": "2018-04-19T05:21:27.000Z", "gtid": None,
        }

    import os as _os
    import time as _time

    with open(log / "a.jsonl", "w") as f:
        f.write(_json.dumps(rec(100, 1, host)) + "\n")
    with open(log / "b.jsonl", "w") as f:
        f.write(_json.dumps(rec(200, 2, " ".join(f"w{i}" for i in range(40, 80)))) + "\n")
        f.write(_json.dumps(rec(201, 3, " ".join(f"z{i}" for i in range(60)))) + "\n")
    # the file source picks batches by mtime: pin a.jsonl strictly
    # older so the host is ingested before its snippet
    now = _time.time()
    _os.utime(log / "a.jsonl", (now - 60, now - 60))
    _os.utime(log / "b.jsonl", (now, now))
    store = str(tmp_path / "cstore")
    q = run_pipeline(
        spark,
        str(log),
        [Route("cont", containment_corpus_writer(store, "shop.docs"))],
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
    )
    await_done(q)
    assert sorted(
        r.doc_id for r in read_containment_corpus(spark, store).collect()
    ) == [1, 3]


def test_incremental_containment_dedup_string_ids(spark, tmp_path):
    """The drop-set plumbing must not assume integer ids (the empty
    history frame is derived from the sets schema, not hardcoded)."""
    from wing_binlog_go_spark.operators.dedup import (
        incremental_containment_dedup_apply,
    )

    store = str(tmp_path / "cstore")
    host = " ".join(f"w{i}" for i in range(120))
    b1 = spark.createDataFrame([("host-1", host)], "doc_id string, text string")
    surv1, _ = incremental_containment_dedup_apply(spark, b1, store)
    assert [r.doc_id for r in surv1.collect()] == ["host-1"]
    b2 = spark.createDataFrame(
        [("snip-2", " ".join(f"w{i}" for i in range(30, 60))),
         ("new-3", " ".join(f"q{i}" for i in range(50)))],
        "doc_id string, text string",
    )
    surv2, s2 = incremental_containment_dedup_apply(spark, b2, store)
    assert sorted(r.doc_id for r in surv2.collect()) == ["new-3"]
    assert s2["dropped_vs_history"] == 1


def test_incremental_apss_founding_crash_recovers(spark, sf_small, tmp_path):
    """A crash between the founding order/ write and the sets/ write
    (the ADVICE r6 finding) must not wedge the store: the retry re-takes
    the founding branch (keyed on sets/, the commit point), overwrites
    the orphan order/, and the result still equals the batch operator."""
    from wing_binlog_go_spark.operators.dedup import (
        incremental_apss_apply,
        ngram_jaccard_pairs,
        word_shingles,
    )

    docs = read_table(spark, sf_small, "documents").filter(F.col("doc_id") < 120)
    store = tmp_path / "apss_crash"
    order_dir = str(store / "order")

    # Simulate the crashed founding attempt: order/ exists (from a
    # PARTIAL batch, so a stale rarity order), sets/ does not.
    partial = docs.filter(F.col("doc_id") < 30)
    partial.select(
        F.col("doc_id").alias("doc"), F.explode(word_shingles("text", 3)).alias("s")
    ).groupBy("s").agg(F.count("*").alias("df")).write.parquet(order_dir)
    assert not (store / "sets").exists()

    pairs, st = incremental_apss_apply(spark, docs, str(store), k=3, threshold=0.5)
    assert st["replayed"] == 0 and st["appended"] == st["batch"]
    got = {(r.doc_a, r.doc_b, r.jaccard) for r in pairs.collect()}
    want = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    assert want and got == want

    # And the recovered store keeps working incrementally.
    b2 = read_table(spark, sf_small, "documents").filter(
        (F.col("doc_id") >= 120) & (F.col("doc_id") < 180)
    )
    _, st2 = incremental_apss_apply(spark, b2, str(store), k=3, threshold=0.5)
    assert st2["replayed"] == 0 and st2["appended"] == st2["batch"]


def test_knn_graph_recall_and_structure(spark, sf_small):
    """The LSH-bucketed kNN graph must carry >= 0.9 avg per-node recall
    vs the exact top-k on the fixture embeddings, emit exactly <= k
    strictly-ranked neighbors per node with no self-edges, and its plan
    must stay an equi self-join (no cartesian, no Python)."""
    import io
    from contextlib import redirect_stdout

    from wing_binlog_go_spark.operators.similarity import (
        brute_force_topk,
        knn_graph,
    )

    emb = read_table(spark, sf_small, "embeddings")
    k = 5
    g = knn_graph(emb, k=k, n_bits=3, n_tables=32)

    buf = io.StringIO()
    with redirect_stdout(buf):
        g.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p
    # bucket projection is Arrow-batched (the repo's accepted Python
    # boundary); row-at-a-time Python stays forbidden
    assert "BatchEvalPython" not in p

    rows = g.collect()
    by_src: dict = {}
    for r in rows:
        assert r.src != r.dst
        by_src.setdefault(r.src, []).append((r.rnk, r.dst))
    for src, lst in by_src.items():
        assert sorted(rk for rk, _ in lst) == list(range(1, len(lst) + 1))
        assert len(lst) <= k

    # exact graph via the audited brute-force operator (it already
    # excludes self-matches, so k=k is the exact neighbor list)
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    want: dict = {}
    for r in brute_force_topk(emb, q, k=k).collect():
        want.setdefault(r.query_id, set()).add(r.vec_id)
    got = {s: {d for _, d in lst} for s, lst in by_src.items()}
    per_node = [
        len(want[s] & got.get(s, set())) / len(want[s]) for s in want
    ]
    assert sum(per_node) / len(per_node) >= 0.9, sum(per_node) / len(per_node)


def test_incremental_knn_graph_converges_replays_and_heals_crash(
    spark, sf_small, tmp_path
):
    """incremental_knn_graph_apply over two increments must equal the
    batch knn_graph_clustered on the cumulative corpus; replayed ids
    are vector no-ops but still rebuild their clusters (that is the
    crash-heal mechanism); a crash between the vector append and the
    edge swap converges on replay."""
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.similarity import (
        incremental_knn_graph_apply,
        knn_graph_clustered,
        load_frozen_centroids,
        read_knn_graph,
    )
    from wing_binlog_go_spark.tables import read_table

    emb = read_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    cents = load_frozen_centroids()
    b1 = emb.filter(F.col("vec_id") < 250)
    b2 = emb.filter(F.col("vec_id") >= 250)
    store = str(tmp_path / "g")

    _, st1 = incremental_knn_graph_apply(spark, b1, store, cents, k=5)
    assert st1["replayed"] == 0 and st1["appended"] == st1["batch"]
    _, st2 = incremental_knn_graph_apply(spark, b2, store, cents, k=5)
    assert st2["replayed"] == 0

    want = {
        (r.src, r.dst, r.rnk)
        for r in knn_graph_clustered(emb, cents, k=5).collect()
    }
    got = {
        (r.src, r.dst, r.rnk)
        for r in read_knn_graph(spark, store).collect()
    }
    assert got == want

    # replay batch 2 wholesale: vector no-ops, graph unchanged
    _, st2r = incremental_knn_graph_apply(spark, b2, store, cents, k=5)
    assert st2r["appended"] == 0 and st2r["replayed"] == st2r["batch"]
    assert {
        (r.src, r.dst, r.rnk) for r in read_knn_graph(spark, store).collect()
    } == want

    # crash sim: batch-3 vectors appended but the edge swap was lost —
    # wipe one touched cluster's edge partition entirely, then replay
    # the batch; the batch-named rebuild must restore it
    import os
    import shutil

    b3 = emb.orderBy(F.desc("vec_id")).limit(20).select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
    )
    _, st3 = incremental_knn_graph_apply(spark, b3, store, cents, k=5)
    full = {
        (r.src, r.dst, r.rnk) for r in read_knn_graph(spark, store).collect()
    }
    lost = st3["clusters_rebuilt"][0]
    shutil.rmtree(os.path.join(store, "edges", f"cluster={lost}"))
    _, st3r = incremental_knn_graph_apply(spark, b3, store, cents, k=5)
    assert st3r["appended"] == 0  # vectors survived the crash
    assert lost in st3r["clusters_rebuilt"]
    assert {
        (r.src, r.dst, r.rnk) for r in read_knn_graph(spark, store).collect()
    } == full


def test_incremental_knn_graph_dedupes_within_batch(spark, sf_small, tmp_path):
    """Regression (r8 advice): an at-least-once CDC feed can deliver the
    same INSERT twice INSIDE one micro-batch — the store anti-join only
    screens against history, so without in-batch dedup the duplicate
    would write two vector rows permanently (duplicate nodes/edges in
    every later rebuild, diverging from the batch build)."""
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.similarity import (
        incremental_knn_graph_apply,
        knn_graph_clustered,
        load_frozen_centroids,
        read_knn_graph,
    )
    from wing_binlog_go_spark.tables import read_table

    emb = (
        read_table(spark, sf_small, "embeddings")
        .select("vec_id", "embedding")
        .limit(60)
    )
    cents = load_frozen_centroids()
    store = str(tmp_path / "g")

    # first batch carries every row TWICE (the first-batch path used to
    # append verbatim), second batch re-delivers a subset twice more
    dup1 = emb.unionByName(emb)
    _, st1 = incremental_knn_graph_apply(spark, dup1, store, cents, k=5)
    assert st1["batch"] == 60  # dedup happens before any counting
    dup2 = emb.limit(10).unionByName(emb.limit(10))
    _, st2 = incremental_knn_graph_apply(spark, dup2, store, cents, k=5)
    assert st2["batch"] == 10 and st2["appended"] == 0

    import os

    vecs = spark.read.parquet(os.path.join(store, "vectors"))
    assert vecs.count() == 60
    assert vecs.select("vec_id").distinct().count() == 60
    want = {
        (r.src, r.dst, r.rnk)
        for r in knn_graph_clustered(emb, cents, k=5).collect()
    }
    assert {
        (r.src, r.dst, r.rnk) for r in read_knn_graph(spark, store).collect()
    } == want


def test_knn_graph_delete_offline_retraction(spark, sf_small, tmp_path):
    """knn_graph_delete is the documented offline retraction path the
    stream route refuses online: after deleting ids the maintained
    graph must equal the batch build over the REMAINING corpus; a
    cluster fully retracted loses its edge partition; re-running the
    same delete is a no-op (idempotent = crash-healable); and a later
    ingest increment still converges."""
    import os

    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.similarity import (
        incremental_knn_graph_apply,
        knn_graph_clustered,
        knn_graph_delete,
        load_frozen_centroids,
        read_knn_graph,
    )
    from wing_binlog_go_spark.tables import read_table

    emb = (
        read_table(spark, sf_small, "embeddings")
        .select("vec_id", "embedding")
        .limit(120)
    )
    cents = load_frozen_centroids()
    store = str(tmp_path / "g")
    incremental_knn_graph_apply(spark, emb, store, cents, k=5)

    victims = [r.vec_id for r in emb.orderBy("vec_id").limit(15).collect()]
    st = knn_graph_delete(spark, store, victims, k=5)
    assert st["deleted"] == 15 and st["clusters_rebuilt"]

    remaining = emb.filter(~F.col("vec_id").isin(victims))
    want = {
        (r.src, r.dst, r.rnk)
        for r in knn_graph_clustered(remaining, cents, k=5).collect()
    }
    got = {
        (r.src, r.dst, r.rnk) for r in read_knn_graph(spark, store).collect()
    }
    assert got == want
    # no deleted id survives as a node or a neighbor
    assert not any(s in victims or d in victims for s, d, _ in got)

    # idempotent: the same delete again removes nothing, changes nothing
    st2 = knn_graph_delete(spark, store, victims, k=5)
    assert st2["deleted"] == 0 and st2["clusters_rebuilt"] == []
    assert {
        (r.src, r.dst, r.rnk) for r in read_knn_graph(spark, store).collect()
    } == want

    # a later ingest increment over the retracted store still converges
    more = emb.orderBy(F.desc("vec_id")).limit(10).select(
        (F.col("vec_id") + 7_000_000).alias("vec_id"), "embedding"
    )
    incremental_knn_graph_apply(spark, more, store, cents, k=5)
    want2 = {
        (r.src, r.dst, r.rnk)
        for r in knn_graph_clustered(
            remaining.unionByName(more), cents, k=5
        ).collect()
    }
    assert {
        (r.src, r.dst, r.rnk) for r in read_knn_graph(spark, store).collect()
    } == want2


def test_knn_graph_delete_empties_a_cluster(spark, tmp_path):
    """Retracting every member of a cluster must remove its edge
    partition from the store directory, not leave an empty husk."""
    import os

    import numpy as np

    from wing_binlog_go_spark.operators.similarity import (
        incremental_knn_graph_apply,
        knn_graph_delete,
        read_knn_graph,
    )

    # two tight groups around two orthogonal centroids
    cents = [[1.0] + [0.0] * 15, [0.0, 1.0] + [0.0] * 14]
    rng = np.random.RandomState(5)
    rows = []
    for i in range(6):  # cluster 0 members: ids 1..6
        v = np.array(cents[0]) + rng.normal(0, 0.01, 16)
        rows.append((i + 1, [float(x) for x in v]))
    for i in range(6):  # cluster 1 members: ids 11..16
        v = np.array(cents[1]) + rng.normal(0, 0.01, 16)
        rows.append((i + 11, [float(x) for x in v]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    store = str(tmp_path / "g")
    incremental_knn_graph_apply(spark, vecs, store, cents, k=3)
    assert os.path.isdir(os.path.join(store, "edges", "cluster=0"))

    st = knn_graph_delete(spark, store, [1, 2, 3, 4, 5, 6], k=3)
    assert st["clusters_rebuilt"] == [0]
    assert not os.path.isdir(os.path.join(store, "edges", "cluster=0"))
    left = read_knn_graph(spark, store)
    assert left.filter("cluster = 0").count() == 0
    assert left.filter("cluster = 1").count() > 0  # untouched survives


def test_incremental_stores_dedupe_within_batch(spark, sf_small, tmp_path):
    """The r8-advice in-batch duplicate hole, closed across EVERY
    incremental store (not just the kNN graph): the store anti-join
    only screens against history and equal ids never pair under the
    smaller-id rule, so an INSERT delivered twice inside one
    micro-batch (at-least-once CDC) used to enter the MinHash corpus,
    the semantic-dedup vector store, and the PQ codes twice —
    permanently. First-batch and later-batch paths both covered."""
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.dedup import incremental_dedup_apply
    from wing_binlog_go_spark.operators.similarity import (
        incremental_pq_index_apply,
        incremental_semantic_dedup_apply,
    )
    from wing_binlog_go_spark.tables import read_table

    docs = (
        read_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .limit(30)
    )
    dup_docs = docs.unionByName(docs)
    store = str(tmp_path / "mh")
    incremental_dedup_apply(spark, dup_docs, store, payload_cols=["text"])
    mh = spark.read.parquet(store)
    assert mh.count() == mh.select("doc_id").distinct().count()
    # later batch: re-deliver a known doc twice plus a fresh dup pair
    nxt = (
        read_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id").between(200, 205))
    )
    incremental_dedup_apply(
        spark, nxt.unionByName(nxt).unionByName(docs.limit(3)), store,
        payload_cols=["text"],
    )
    mh = spark.read.parquet(store)
    assert mh.count() == mh.select("doc_id").distinct().count()

    emb = (
        read_table(spark, sf_small, "embeddings")
        .select("vec_id", "embedding")
        .limit(40)
    )
    dup_emb = emb.unionByName(emb)
    sstore = str(tmp_path / "sem")
    incremental_semantic_dedup_apply(spark, dup_emb, sstore, n_clusters=4)
    import os

    vecs = spark.read.parquet(os.path.join(sstore, "vectors"))
    assert vecs.count() == vecs.select("vec_id").distinct().count()

    pstore = str(tmp_path / "pq")
    incremental_pq_index_apply(spark, dup_emb, pstore, m=4, n_codes=4)
    codes = spark.read.parquet(os.path.join(pstore, "codes"))
    per_id = codes.groupBy("vec_id").count().select("count").distinct().collect()
    assert len(per_id) == 1  # every id has exactly m code rows, once


def test_pq_and_ivfpq_index_delete(spark, sf_small, tmp_path):
    """The ANN stores' offline retraction (the ghost-vector fix for the
    index side): deleted ids vanish from the codes, survivors'
    codes are byte-identical (frozen codebooks untouched), re-running
    is a no-op, and for IVF-PQ only the lists that contained the ids
    are rewritten — with a fully-retracted list losing its partition."""
    import os

    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.similarity import (
        incremental_ivfpq_index_apply,
        incremental_pq_index_apply,
        ivfpq_index_delete,
        pq_index_delete,
    )
    from wing_binlog_go_spark.tables import read_table

    emb = (
        read_table(spark, sf_small, "embeddings")
        .select("vec_id", "embedding")
        .limit(80)
    )
    victims = [r.vec_id for r in emb.orderBy("vec_id").limit(12).collect()]

    pstore = str(tmp_path / "pq")
    incremental_pq_index_apply(spark, emb, pstore, m=4, n_codes=4)
    before = {
        (r.vec_id, tuple(r._codes))
        for r in spark.read.parquet(os.path.join(pstore, "codes"))
        .select("vec_id", "_codes").collect()
    }
    st = pq_index_delete(spark, pstore, victims)
    assert st["deleted_ids"] == 12
    after = {
        (r.vec_id, tuple(r._codes))
        for r in spark.read.parquet(os.path.join(pstore, "codes"))
        .select("vec_id", "_codes").collect()
    }
    assert after == {t for t in before if t[0] not in victims}
    assert pq_index_delete(spark, pstore, victims) == {"deleted_ids": 0}

    istore = str(tmp_path / "ivfpq")
    incremental_ivfpq_index_apply(
        spark, emb, istore, n_centroids=4, m=4, n_codes=4
    )
    codes_dir = os.path.join(istore, "codes")
    coded = spark.read.parquet(codes_dir)
    victim_lists = {
        r._list for r in coded.filter(F.col("vec_id").isin(victims))
        .select("_list").distinct().collect()
    }
    # swap_dir's documented isolation honesty: a DataFrame created
    # before the swap pins the old file listing — read what's needed
    # BEFORE deleting, re-read after
    n_before = coded.count()
    sti = ivfpq_index_delete(spark, istore, victims)
    assert sti["deleted_ids"] == 12
    assert set(sti["lists_rewritten"]) == {int(x) for x in victim_lists}
    left = spark.read.parquet(codes_dir)
    assert left.filter(F.col("vec_id").isin(victims)).count() == 0
    assert left.count() == n_before - 12
    assert ivfpq_index_delete(spark, istore, victims)["deleted_ids"] == 0

    # fully-retract one list → its partition directory disappears
    lst = int(left.select("_list").first()._list)
    members = [
        r.vec_id for r in left.filter(F.col("_list") == lst)
        .select("vec_id").collect()
    ]
    ivfpq_index_delete(spark, istore, members)
    assert not os.path.isdir(os.path.join(codes_dir, f"_list={lst}"))


def test_ivfpq_delete_interrupted_swap_is_restored(spark, sf_small, tmp_path):
    """Crash window between 'retire old partition' and 'promote staged'
    (codes are SOURCE data — a lost list is unrecoverable by rebuild):
    _recover_list_swaps must restore the retired copy, after which
    re-running the delete converges. Exercised through BOTH healers:
    the next incremental apply and the delete itself."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.similarity import (
        incremental_ivfpq_index_apply,
        ivfpq_index_delete,
    )
    from wing_binlog_go_spark.tables import read_table

    emb = (
        read_table(spark, sf_small, "embeddings")
        .select("vec_id", "embedding")
        .limit(60)
    )
    istore = str(tmp_path / "ivfpq")
    incremental_ivfpq_index_apply(
        spark, emb, istore, n_centroids=4, m=4, n_codes=4
    )
    codes_dir = os.path.join(istore, "codes")
    full = {r.vec_id for r in spark.read.parquet(codes_dir)
            .select("vec_id").collect()}
    lst = int(
        spark.read.parquet(codes_dir).select("_list").first()._list
    )
    # simulate the crash: the list was retired but never promoted
    final = os.path.join(codes_dir, f"_list={lst}")
    old = os.path.join(codes_dir, "_staging", f"_list={lst}.old")
    os.makedirs(os.path.dirname(old), exist_ok=True)
    os.rename(final, old)

    # healer #1: the next stream increment restores the list first, so
    # its ids are NOT re-appended as fresh
    st = incremental_ivfpq_index_apply(
        spark, emb, istore, n_centroids=4, m=4, n_codes=4
    )
    assert st["appended"] == 0 and st["replayed"] == st["batch"]
    assert {r.vec_id for r in spark.read.parquet(codes_dir)
            .select("vec_id").collect()} == full

    # crash again; healer #2: the delete itself restores, then deletes
    os.rename(final, old)
    victims = [r.vec_id for r in emb.orderBy("vec_id").limit(5).collect()]
    st2 = ivfpq_index_delete(spark, istore, victims)
    assert st2["deleted_ids"] == 5
    assert {r.vec_id for r in spark.read.parquet(codes_dir)
            .select("vec_id").collect()} == full - set(victims)


def test_ivfpq_delete_interrupted_current_swap_is_restored(
    spark, sf_small, tmp_path
):
    """The same crash window under the current partition swap
    (``maintenance.rewrite_dir``): a crash between ``swap_dir``'s
    renames leaves the list only at its hidden ``backup_path``, which
    partition discovery skips. Both healers restore it — the next
    incremental apply (so its ids are not re-appended as fresh) and the
    delete itself."""
    import os

    from wing_binlog_go_spark.operators.similarity import (
        incremental_ivfpq_index_apply,
        ivfpq_index_delete,
    )
    from wing_binlog_go_spark.streaming.maintenance import backup_path

    emb = (
        read_table(spark, sf_small, "embeddings")
        .select("vec_id", "embedding")
        .limit(60)
    )
    istore = str(tmp_path / "ivfpq")
    incremental_ivfpq_index_apply(
        spark, emb, istore, n_centroids=4, m=4, n_codes=4
    )
    codes_dir = os.path.join(istore, "codes")
    full = {r.vec_id for r in spark.read.parquet(codes_dir)
            .select("vec_id").collect()}
    lst = int(
        spark.read.parquet(codes_dir).select("_list").first()._list
    )
    final = os.path.join(codes_dir, f"_list={lst}")
    os.rename(final, backup_path(final))

    st = incremental_ivfpq_index_apply(
        spark, emb, istore, n_centroids=4, m=4, n_codes=4
    )
    assert st["appended"] == 0 and st["replayed"] == st["batch"]
    assert not os.path.exists(backup_path(final))
    assert {r.vec_id for r in spark.read.parquet(codes_dir)
            .select("vec_id").collect()} == full

    os.rename(final, backup_path(final))
    victims = [r.vec_id for r in emb.orderBy("vec_id").limit(5).collect()]
    st2 = ivfpq_index_delete(spark, istore, victims)
    assert st2["deleted_ids"] == 5
    assert {r.vec_id for r in spark.read.parquet(codes_dir)
            .select("vec_id").collect()} == full - set(victims)


def test_corpus_store_deletes(spark, sf_small, tmp_path):
    """dedup_corpus_delete (flat MinHash store) and
    semantic_corpus_delete (cluster-partitioned vector store): deleted
    ids vanish, survivors are untouched, re-running is a no-op, only
    the touched clusters are rewritten on the semantic side, and the
    NEXT ingest increment treats a deleted id as genuinely fresh —
    retraction then re-insert works end to end."""
    import os

    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.dedup import (
        dedup_corpus_delete,
        incremental_dedup_apply,
    )
    from wing_binlog_go_spark.operators.similarity import (
        incremental_semantic_dedup_apply,
        semantic_corpus_delete,
    )
    from wing_binlog_go_spark.tables import read_table

    docs = (
        read_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .limit(40)
    )
    store = str(tmp_path / "mh")
    incremental_dedup_apply(spark, docs, store, payload_cols=["text"])
    kept = {r.doc_id for r in spark.read.parquet(store).select("doc_id").collect()}
    victims = sorted(kept)[:8]
    st = dedup_corpus_delete(spark, store, victims)
    assert st["deleted_ids"] == 8
    now = {r.doc_id for r in spark.read.parquet(store).select("doc_id").collect()}
    assert now == kept - set(victims)
    assert dedup_corpus_delete(spark, store, victims) == {"deleted_ids": 0}
    # a deleted id re-inserted through the stream is FRESH again
    re_add = docs.filter(F.col("doc_id") == victims[0])
    _, st2 = incremental_dedup_apply(spark, re_add, store, payload_cols=["text"])
    assert st2["replayed"] == 0 and st2["batch"] == 1

    emb = (
        read_table(spark, sf_small, "embeddings")
        .select("vec_id", "embedding")
        .limit(60)
    )
    sstore = str(tmp_path / "sem")
    incremental_semantic_dedup_apply(spark, emb, sstore, n_clusters=4)
    vec_dir = os.path.join(sstore, "vectors")
    before = {r.vec_id for r in spark.read.parquet(vec_dir)
              .select("vec_id").collect()}
    svictims = sorted(before)[:6]
    victim_clusters = {
        int(r._cluster) for r in spark.read.parquet(vec_dir)
        .filter(F.col("vec_id").isin(svictims))
        .select("_cluster").distinct().collect()
    }
    sts = semantic_corpus_delete(spark, sstore, svictims)
    assert sts["deleted_ids"] == 6
    assert set(sts["clusters_rewritten"]) == victim_clusters
    after = {r.vec_id for r in spark.read.parquet(vec_dir)
             .select("vec_id").collect()}
    assert after == before - set(svictims)
    assert semantic_corpus_delete(spark, sstore, svictims)["deleted_ids"] == 0
    # centroids untouched; a re-inserted id is fresh under the same
    # frozen assignment
    re_add = emb.filter(F.col("vec_id").isin(svictims))
    _, st3 = incremental_semantic_dedup_apply(
        spark, re_add, sstore, n_clusters=4
    )
    assert st3["replayed"] == 0 and st3["batch"] == 6


def test_containment_corpus_delete(spark, sf_small, tmp_path):
    """containment_corpus_delete: deleted docs vanish from sets/ AND
    both posting indexes; survivors untouched; a deleted doc no longer
    suppresses a later re-arrival of its own containing text (it is
    fresh again and survives); idempotent."""
    import os

    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.dedup import (
        containment_corpus_delete,
        incremental_containment_dedup_apply,
    )
    from wing_binlog_go_spark.tables import read_table

    docs = (
        read_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .limit(30)
    )
    store = str(tmp_path / "cont")
    survivors, _ = incremental_containment_dedup_apply(spark, docs, store)
    kept = {r.doc_id for r in survivors.select("doc_id").collect()}
    victims = sorted(kept)[:5]

    st = containment_corpus_delete(spark, store, victims)
    assert st["deleted_ids"] == 5
    for sub in ("sets", "els_index", "pre_index"):
        tbl = spark.read.parquet(os.path.join(store, sub))
        assert tbl.filter(F.col("doc").isin(victims)).count() == 0, sub
    left = {r.doc for r in spark.read.parquet(os.path.join(store, "sets"))
            .select("doc").collect()}
    assert left == kept - set(victims)
    assert containment_corpus_delete(spark, store, victims) == {
        "deleted_ids": 0
    }

    # the deleted doc's text re-delivered under the SAME id is fresh
    # again and, with its old copy gone, survives
    re_add = docs.filter(F.col("doc_id") == victims[0])
    surv2, st2 = incremental_containment_dedup_apply(spark, re_add, store)
    assert st2["replayed"] == 0
    assert {r.doc_id for r in surv2.select("doc_id").collect()} == {victims[0]}


def test_knn_graph_update_moves_vector_across_clusters(spark, tmp_path):
    """knn_graph_update = delete + re-ingest: an UPDATE that moves a
    vector's embedding to a different cluster must rebuild BOTH
    clusters — the old one loses the node and its edges, the new one
    gains them — and the final graph equals the batch build over the
    updated corpus. Unknown ids degrade to plain inserts."""
    import numpy as np

    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.similarity import (
        incremental_knn_graph_apply,
        knn_graph_clustered,
        knn_graph_update,
        read_knn_graph,
    )

    cents = [[1.0] + [0.0] * 15, [0.0, 1.0] + [0.0] * 14]
    rng = np.random.RandomState(9)
    rows = [
        (i + 1, [float(x) for x in np.array(cents[0]) + rng.normal(0, 0.01, 16)])
        for i in range(6)
    ] + [
        (i + 11, [float(x) for x in np.array(cents[1]) + rng.normal(0, 0.01, 16)])
        for i in range(6)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    store = str(tmp_path / "g")
    incremental_knn_graph_apply(spark, vecs, store, cents, k=3)

    # move id 1 from cluster 0's neighborhood to cluster 1's, and add
    # a brand-new id 99 (update on an unknown id = insert)
    moved = [float(x) for x in np.array(cents[1]) + rng.normal(0, 0.01, 16)]
    newv = [float(x) for x in np.array(cents[0]) + rng.normal(0, 0.01, 16)]
    upd = spark.createDataFrame(
        [(1, moved), (99, newv)], "vec_id long, embedding array<double>"
    )
    st = knn_graph_update(spark, store, upd, cents, k=3)
    assert st["deleted"] == 1 and st["clusters_retracted"] == [0]
    assert st["appended"] == 2 and sorted(st["clusters_rebuilt"]) == [0, 1]

    updated = vecs.filter(F.col("vec_id") != 1).unionByName(upd)
    want = {
        (r.src, r.dst, r.rnk)
        for r in knn_graph_clustered(updated, cents, k=3).collect()
    }
    got = {
        (r.src, r.dst, r.rnk) for r in read_knn_graph(spark, store).collect()
    }
    assert got == want
    # the moved node now lives in cluster 1's edge set
    g = read_knn_graph(spark, store)
    assert g.filter("src = 1 AND cluster = 1").count() > 0
    assert g.filter("src = 1 AND cluster = 0").count() == 0


def test_pq_index_update_reencodes_against_frozen_books(spark, sf_small, tmp_path):
    """pq_index_update = delete + re-encode: the updated id gets fresh
    codes under the UNCHANGED frozen codebooks, untouched rows'
    codes are byte-identical, and an unknown id degrades to insert."""
    import json as _json
    import os

    from wing_binlog_go_spark.operators.similarity import (
        incremental_pq_index_apply,
        load_pq_index,
        pq_encode,
        pq_index_update,
    )
    from wing_binlog_go_spark.tables import read_table

    emb = (
        read_table(spark, sf_small, "embeddings")
        .select("vec_id", "embedding")
        .limit(80)
    )
    store = str(tmp_path / "pq")
    incremental_pq_index_apply(spark, emb, store, m=4, n_codes=4)
    with open(os.path.join(store, "codebooks.json")) as f:
        books_before = _json.load(f)["books"]
    before = {
        r.vec_id: tuple(r._codes)
        for r in spark.read.parquet(os.path.join(store, "codes")).collect()
    }

    # update id 3 to id 77's embedding; insert unknown id 9001
    donor = emb.filter(F.col("vec_id") == 77).first().embedding
    upd = spark.createDataFrame(
        [(3, donor), (9001, donor)], "vec_id long, embedding array<double>"
    )
    st = pq_index_update(spark, store, upd, m=4, n_codes=4)
    assert st == {"deleted": 1, "appended": 2, "replayed": 0}

    with open(os.path.join(store, "codebooks.json")) as f:
        assert _json.load(f)["books"] == books_before  # frozen across update

    after = {
        r.vec_id: tuple(r._codes)
        for r in spark.read.parquet(os.path.join(store, "codes")).collect()
    }
    assert len(after) == len(before) + 1
    _, books = load_pq_index(spark, store)
    want = tuple(
        pq_encode(upd.filter("vec_id = 3"), books).first()._codes
    )
    assert after[3] == want and after[9001] == want
    assert after[3] == after[77]  # same embedding now → same codes
    for vid, codes in before.items():
        if vid != 3:
            assert after[vid] == codes  # untouched rows byte-identical

    # idempotent: re-running the same update converges to the same store
    st2 = pq_index_update(spark, store, upd, m=4, n_codes=4)
    assert st2 == {"deleted": 2, "appended": 2, "replayed": 0}
    again = {
        r.vec_id: tuple(r._codes)
        for r in spark.read.parquet(os.path.join(store, "codes")).collect()
    }
    assert again == after


def test_ivfpq_index_update_moves_vector_across_lists(spark, sf_small, tmp_path):
    """ivfpq_index_update: an update that moves a vector's embedding to
    another inverted list retracts it from the old list's partition and
    lands it in the new one; both halves partition-bounded."""
    import os

    from wing_binlog_go_spark.operators.similarity import (
        incremental_ivfpq_index_apply,
        ivfpq_index_update,
    )
    from wing_binlog_go_spark.tables import read_table

    emb = (
        read_table(spark, sf_small, "embeddings")
        .select("vec_id", "embedding")
        .limit(80)
    )
    store = str(tmp_path / "ivfpq")
    incremental_ivfpq_index_apply(spark, emb, store, n_centroids=4, m=4, n_codes=4)
    codes_dir = os.path.join(store, "codes")
    coded = spark.read.parquet(codes_dir)
    n_before = coded.count()

    # pick a victim and a donor that live in DIFFERENT lists
    lists = {r.vec_id: r._list for r in coded.select("vec_id", "_list").collect()}
    victim = min(lists)
    donor = next(v for v in sorted(lists) if lists[v] != lists[victim])
    donor_vec = emb.filter(F.col("vec_id") == donor).first().embedding
    upd = spark.createDataFrame(
        [(victim, donor_vec)], "vec_id long, embedding array<double>"
    )
    st = ivfpq_index_update(
        spark, store, upd, n_centroids=4, m=4, n_codes=4
    )
    assert st["deleted"] == 1 and st["appended"] == 1 and st["replayed"] == 0
    assert st["lists_retracted"] == [int(lists[victim])]

    after = spark.read.parquet(codes_dir)
    assert after.count() == n_before
    moved = after.filter(F.col("vec_id") == victim).collect()
    assert len(moved) == 1 and int(moved[0]._list) == int(lists[donor])
    assert tuple(moved[0]._codes) == tuple(
        after.filter(F.col("vec_id") == donor).first()._codes
    )


def test_semantic_corpus_update_dedupes_as_if_fresh(spark, sf_small, tmp_path):
    """semantic_corpus_update: an update that turns a doc into a
    near-duplicate of surviving history REMOVES it (survivor-store
    semantics), one that moves it to fresh content keeps it with the
    new vector; the frozen centroids never move."""
    import json as _json
    import os

    import numpy as np

    from wing_binlog_go_spark.operators.similarity import (
        incremental_semantic_dedup_apply,
        semantic_corpus_update,
    )
    from wing_binlog_go_spark.tables import read_table

    store = str(tmp_path / "sem")
    emb = read_table(spark, sf_small, "embeddings").select("vec_id", "embedding")
    b1 = emb.orderBy("vec_id").limit(50)
    incremental_semantic_dedup_apply(spark, b1, store, threshold=0.97, n_clusters=4)
    with open(os.path.join(store, "centroids.json")) as f:
        cents_before = _json.load(f)["centroids"]

    rows = b1.orderBy("vec_id").limit(2).collect()
    rng = np.random.RandomState(11)
    v_other = np.asarray(rows[1].embedding, dtype=np.float64)
    near_dup = v_other + rng.normal(0, 1e-5, v_other.shape)
    fresh = rng.normal(0, 1.0, v_other.shape)

    # update doc rows[0] into a near-copy of rows[1] → dropped
    vid = rows[0].vec_id
    upd1 = spark.createDataFrame(
        [(vid, [float(x) for x in near_dup])], "vec_id long, embedding array<double>"
    )
    surv1, st1 = semantic_corpus_update(
        spark, store, upd1, threshold=0.97, n_clusters=4
    )
    assert st1["deleted"] == 1 and st1["appended"] == 0
    assert surv1.count() == 0
    stored = spark.read.parquet(os.path.join(store, "vectors"))
    assert stored.filter(F.col("vec_id") == vid).count() == 0
    assert stored.count() == 49

    # update the same id again, now to fresh content → re-admitted
    upd2 = spark.createDataFrame(
        [(vid, [float(x) for x in fresh])], "vec_id long, embedding array<double>"
    )
    surv2, st2 = semantic_corpus_update(
        spark, store, upd2, threshold=0.97, n_clusters=4
    )
    assert st2["deleted"] == 0 and st2["appended"] == 1
    assert {r.vec_id for r in surv2.collect()} == {vid}
    assert spark.read.parquet(os.path.join(store, "vectors")).count() == 50

    with open(os.path.join(store, "centroids.json")) as f:
        assert _json.load(f)["centroids"] == cents_before  # frozen


def test_dedup_corpus_update_changes_suppression(spark, tmp_path):
    """dedup_corpus_update: the OLD text stops suppressing future
    near-duplicates the moment the update lands, the NEW text starts —
    and an update that makes the doc a near-copy of other history
    removes it (survivor-store semantics)."""
    import random

    from wing_binlog_go_spark.operators.dedup import (
        dedup_corpus_update,
        incremental_dedup_apply,
    )

    rng = random.Random(7)
    words = [f"w{rng.randrange(10**6)}" for _ in range(200)]
    t1 = " ".join(words[:60])
    t2 = " ".join(words[60:120])
    t3 = " ".join(words[120:180])
    store = str(tmp_path / "mh")
    docs = spark.createDataFrame([(1, t1), (2, t2)], "doc_id long, text string")
    incremental_dedup_apply(spark, docs, store)

    # update doc 1's text to t3 (fresh content) → survives with new text
    upd = spark.createDataFrame([(1, t3)], "doc_id long, text string")
    surv, st = dedup_corpus_update(spark, store, upd)
    assert st["deleted"] == 1 and st["appended"] == 1
    assert {r.doc_id for r in surv.collect()} == {1}

    # a near-copy of the RETIRED t1 is fresh again; near-copies of t2
    # and of the NEW t3 are suppressed
    near = lambda t: t.rsplit(" ", 1)[0] + " zz"
    probe = spark.createDataFrame(
        [(50, near(t1)), (51, near(t2)), (52, near(t3))],
        "doc_id long, text string",
    )
    surv2, st2 = incremental_dedup_apply(spark, probe, store)
    assert {r.doc_id for r in surv2.collect()} == {50}
    assert st2["dup_vs_history"] == 2

    # update doc 1 into a near-copy of doc 2 → removed entirely
    upd2 = spark.createDataFrame([(1, near(t2))], "doc_id long, text string")
    surv3, st3 = dedup_corpus_update(spark, store, upd2)
    assert st3["deleted"] == 1 and st3["appended"] == 0
    assert surv3.count() == 0
    assert spark.read.parquet(store).filter("doc_id = 1").count() == 0


def test_containment_corpus_update_swaps_the_container(spark, tmp_path):
    """containment_corpus_update: a snippet of the doc's NEW text is
    caught after the update, a snippet of its OLD text is not — under
    the UNCHANGED frozen founding order."""
    import random

    from wing_binlog_go_spark.operators.dedup import (
        containment_corpus_update,
        incremental_containment_dedup_apply,
    )

    rng = random.Random(13)
    words = [f"c{rng.randrange(10**6)}" for _ in range(120)]
    old_text = " ".join(words[:40])
    other = " ".join(words[40:80])
    new_text = " ".join(words[80:120])
    store = str(tmp_path / "cont")
    docs = spark.createDataFrame(
        [(1, old_text), (2, other)], "doc_id long, text string"
    )
    incremental_containment_dedup_apply(spark, docs, store)

    upd = spark.createDataFrame([(1, new_text)], "doc_id long, text string")
    surv, st = containment_corpus_update(spark, store, upd)
    assert st["deleted"] == 1
    assert {r.doc_id for r in surv.collect()} == {1}

    # quote of the NEW text → contained in updated doc 1, dropped;
    # quote of the OLD text → nothing contains it anymore, survives
    probe = spark.createDataFrame(
        [(50, " ".join(words[80:100])), (51, " ".join(words[:20]))],
        "doc_id long, text string",
    )
    surv2, _ = incremental_containment_dedup_apply(spark, probe, store)
    assert {r.doc_id for r in surv2.collect()} == {51}


def test_rrf_hybrid_is_labeled_audit_twin_of_q167():
    """q162's exact dense leg scales with corpus size (1.8 s at sf0.1 →
    57 s at the sf1 decade, SCALE.md table 2), so it carries the q38
    brute-force convention: the docstring must label it audit-only and
    point at the index-backed production route (q167's rrf_bm25_ann),
    so nobody wires the exhaustive form into a large-corpus pipeline."""
    from wing_binlog_go_spark.operators.similarity import (
        rrf_bm25_ann,
        rrf_hybrid_topk,
    )

    doc = rrf_hybrid_topk.__doc__
    assert "AUDIT-ONLY" in doc
    assert "rrf_bm25_ann" in doc
    # and the production route really is the index-backed form
    assert "BM25" in rrf_bm25_ann.__doc__
    assert "IVF" in rrf_bm25_ann.__doc__


def test_rrf_hybrid_fuses_lexical_and_dense(spark):
    """RRF fusion: a planted doc that is BOTH the lexical and the dense
    top-1 for a query outranks docs that win only one list; docs
    missing from a list contribute nothing for it; ranks and the
    1/(60+r) arithmetic follow the published formula exactly."""
    import numpy as np

    from wing_binlog_go_spark.operators.similarity import rrf_hybrid_topk

    rng = np.random.RandomState(23)
    d = 8
    qv = rng.normal(0, 1, d)
    base_txt = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(0, base_txt, [float(x) for x in qv])]  # the query doc
    # doc 1: near-identical text AND near-identical vector → both lists' top
    rows.append((1, base_txt + " iota", [float(x) for x in qv + rng.normal(0, 1e-3, d)]))
    # doc 2: shares half the text, orthogonal-ish vector → lexical only
    rows.append((2, "alpha beta gamma delta unrelated words here now",
                 [float(x) for x in rng.normal(0, 1, d)]))
    # doc 3: no shared words, near vector → dense only
    rows.append((3, "completely different tokens nothing shared at all ok",
                 [float(x) for x in qv + rng.normal(0, 1e-2, d)]))
    for i in range(4, 12):  # background noise
        rows.append((i, " ".join(f"n{i}w{j}" for j in range(8)),
                     [float(x) for x in rng.normal(0, 1, d)]))

    docs = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    emb = spark.createDataFrame(
        [(i, v) for i, _, v in rows], "vec_id long, embedding array<double>"
    )
    out = rrf_hybrid_topk(docs, emb, n_queries=1, k_side=5, out_k=5)
    got = {r.doc_id: r for r in out.collect()}

    assert got[1].rnk == 1  # wins both lists
    assert got[1].lex_rank >= 1 and got[1].dense_rank >= 1
    assert got[1].rrf_r == round(
        1.0 / (60 + got[1].lex_rank) + 1.0 / (60 + got[1].dense_rank), 6
    )
    assert got[2].dense_rank == 0 or got[2].lex_rank >= 1
    assert got[3].lex_rank == 0  # shares no shingle → absent from lexical
    assert got[3].dense_rank >= 1
    # single-list docs score strictly below the double-list winner
    assert got[1].rrf_r > got[3].rrf_r


def test_weighted_apss_complete_vs_bruteforce(spark, sf_small):
    """BOTH candidate paths are COMPLETE: the dense-GEMM dispatch (the
    fixture vocab is tiny, so it is the default route) and the sparse
    t/2-prefix + L2-extension + Cauchy-Schwarz path (forced via
    dense_vocab_cutoff=0) each return exactly the brute-force TF-IDF
    cosine pairs at several thresholds."""
    from pyspark.sql import functions as F

    from wing_binlog_go_spark.operators.dedup import weighted_apss_pairs
    from wing_binlog_go_spark.tables import read_table

    docs = read_table(spark, sf_small, "documents").limit(200)

    # brute force: full term join, exact cosine, rounded like the op
    tok = (
        docs.select(
            F.col("doc_id").alias("doc"),
            F.explode(F.split(F.lower("text"), " ")).alias("term"),
        )
        .filter(F.length("term") > 0)
        .groupBy("doc", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    n = tok.select("doc").distinct().count()
    dfq = tok.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    w = tok.join(dfq, "term").select(
        "doc", "term",
        (F.col("tf") * F.log(1.0 + F.lit(float(n)) / F.col("df"))).alias("w"),
    )
    nrm = w.groupBy("doc").agg(F.sqrt(F.sum(F.col("w") ** 2)).alias("nn"))
    u = w.join(nrm, "doc").select(
        "doc", "term", (F.col("w") / F.col("nn")).alias("w")
    )
    ua = u.select(F.col("doc").alias("doc_a"), "term", F.col("w").alias("wa"))
    ub = u.select(F.col("doc").alias("doc_b"), "term", F.col("w").alias("wb"))
    brute = (
        ua.join(ub, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.round(F.sum(F.col("wa") * F.col("wb")), 6).alias("cos_r"))
    )
    for t in (0.95, 0.9, 0.8):
        want = {
            (r.doc_a, r.doc_b)
            for r in brute.filter(F.col("cos_r") >= t).collect()
        }
        for cutoff in (1024, 0):  # dense dispatch, then forced sparse
            got = {
                (r.doc_a, r.doc_b)
                for r in weighted_apss_pairs(
                    docs, threshold=t, dense_vocab_cutoff=cutoff
                ).collect()
            }
            assert got == want, (t, cutoff)


def test_weighted_apss_random_corpora_both_paths_complete(spark):
    """Randomized completeness guard for the r11 candidate machinery:
    seeded synthetic corpora with skewed Zipf-ish term draws (repeats
    ⇒ tf weights; singleton terms ⇒ rank-order and extension edges),
    checked at two thresholds through BOTH dispatch routes and two
    ext_beta settings (0.45 ⇒ no extension — core bounds must stay
    complete on their own; 0.2 = default). Expected answer = exact
    TF-IDF cosine over all pairs computed in numpy with the same
    6dp-rounded compare."""
    import itertools
    import math
    import random as _random

    import numpy as np

    from wing_binlog_go_spark.operators.dedup import weighted_apss_pairs

    for seed in (7, 23):
        rng = _random.Random(seed)
        vocab = [f"w{i}" for i in range(14)]
        docs_py = []
        for d in range(48):
            n_terms = rng.randint(1, 12)
            # skew: low-index words are hot; occasional repeats drive tf
            words = [vocab[min(int(abs(rng.gauss(0, 4))), 13)]
                     for _ in range(n_terms)]
            if d % 7 == 0 and d:  # planted near-dups of the previous doc
                words = docs_py[-1][1].split(" ")[: max(1, n_terms)] + [
                    vocab[rng.randrange(14)]
                ]
            docs_py.append((d, " ".join(words)))
        docs = spark.createDataFrame(docs_py, "doc_id long, text string")

        # exact numpy answer with the operator's weighting
        tf: dict = {}
        for d, text in docs_py:
            for w in text.lower().split(" "):
                if w:
                    tf[(d, w)] = tf.get((d, w), 0) + 1
        n_docs = len({d for d, _ in tf})
        df_ct: dict = {}
        for (_, w) in tf:
            df_ct[w] = df_ct.get(w, 0) + 1
        weights: dict = {}
        for (d, w), c in tf.items():
            weights.setdefault(d, {})[w] = c * math.log(
                1.0 + n_docs / df_ct[w])
        for d, wm in weights.items():
            nn = math.sqrt(sum(v * v for v in wm.values()))
            for w in wm:
                wm[w] /= nn
        for t in (0.85, 0.95):
            want = set()
            for a, b in itertools.combinations(sorted(weights), 2):
                # ascending-term fold order, rounded like the operator
                dot = np.float64(0.0)
                for w in sorted(set(weights[a]) & set(weights[b])):
                    dot = dot + weights[a][w] * weights[b][w]
                if round(float(dot), 6) >= t:
                    want.add((a, b))
            for cutoff, beta in ((1024, 0.2), (0, 0.2), (0, 0.45)):
                got = {
                    (r.doc_a, r.doc_b)
                    for r in weighted_apss_pairs(
                        docs, threshold=t,
                        dense_vocab_cutoff=cutoff, ext_beta=beta,
                    ).collect()
                }
                assert got == want, (seed, t, cutoff, beta)


def test_incremental_weighted_apss_store(spark, tmp_path, sf_small):
    """Frozen-idf incremental weighted APSS: founding batch + two
    increments accumulate exactly the pairs a single one-shot founding
    over the full corpus would produce UNDER THE FOUNDING IDF (the
    frozen contract — weights come from batch-1 document frequencies
    for every doc ever profiled). Replay of an absorbed batch is a
    no-op; every emitted pair has at least one fresh side."""
    from wing_binlog_go_spark.operators.dedup import (
        incremental_weighted_apss_apply,
    )
    from wing_binlog_go_spark.tables import read_table

    docs = read_table(spark, sf_small, "documents").limit(120).cache()
    b1 = docs.filter(F.col("doc_id") % 3 == 0)
    b2 = docs.filter(F.col("doc_id") % 3 == 1)
    b3 = docs.filter(F.col("doc_id") % 3 == 2)

    store = str(tmp_path / "wapss")
    got: dict = {}
    stats_all = []
    for b in (b1, b2, b3):
        pairs, st = incremental_weighted_apss_apply(spark, b, store)
        stats_all.append(st)
        for r in pairs.collect():
            got[(r.doc_a, r.doc_b)] = r.cos_r
    assert stats_all[0]["replayed"] == 0
    assert sum(s["appended"] for s in stats_all) == docs.count()

    # reference: ONE founding over the full corpus in a fresh store —
    # same frozen weighting (idf over the whole corpus at founding),
    # except the incremental run froze idf at b1. Recompute the
    # expected set with b1's frozen idf via a third store founded on
    # b1 then fed the rest in ONE batch: pairwise results must agree
    # with the 3-batch accumulation exactly (associativity of the
    # store under the frozen weights).
    store2 = str(tmp_path / "wapss2")
    want: dict = {}
    p1, _ = incremental_weighted_apss_apply(spark, b1, store2)
    p2, _ = incremental_weighted_apss_apply(
        spark, b2.unionByName(b3), store2
    )
    for r in p1.collect() + p2.collect():
        want[(r.doc_a, r.doc_b)] = r.cos_r
    assert got == want

    # replay: re-applying b2 appends nothing and emits nothing
    pairs_r, st_r = incremental_weighted_apss_apply(spark, b2, store)
    assert st_r["appended"] == 0 and st_r["replayed"] == st_r["batch"]
    assert pairs_r.count() == 0

    # cross-check against the batch operator on b1 alone: a store
    # founded on b1 emits exactly weighted_apss_pairs(b1) (founding
    # idf == global idf when the corpus IS the founding batch)
    from wing_binlog_go_spark.operators.dedup import weighted_apss_pairs

    store3 = str(tmp_path / "wapss3")
    p_store, _ = incremental_weighted_apss_apply(spark, b1, store3)
    batch = {
        (r.doc_a, r.doc_b): r.cos_r
        for r in weighted_apss_pairs(b1, threshold=0.9).collect()
    }
    assert {(r.doc_a, r.doc_b): r.cos_r for r in p_store.collect()} == batch


def test_incremental_weighted_apss_store_empty_text_docs(spark, tmp_path):
    """Docs whose text tokenizes to zero terms (empty string, spaces)
    persist with an empty profile row: the founding batch counts them
    in batch/appended, a replay anti-joins them as already-seen
    (replayed == batch, appended == 0), and they pair with nothing —
    the r11 ADVICE stats-contract fix."""
    from wing_binlog_go_spark.operators.dedup import (
        incremental_weighted_apss_apply,
    )

    rows = [
        (1, "the quick brown fox jumps"),
        (2, "the quick brown fox jumps"),
        (3, ""),            # zero terms
        (4, "   "),         # whitespace-only: zero terms after split
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    store = str(tmp_path / "wapss_empty")

    pairs, st = incremental_weighted_apss_apply(spark, docs, store)
    assert st["batch"] == 4 and st["appended"] == 4 and st["replayed"] == 0
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got == {(1, 2)}  # empty docs pair with nothing

    # exact replay: EVERY doc (including the empty ones) is recognized
    pairs_r, st_r = incremental_weighted_apss_apply(spark, docs, store)
    assert st_r["batch"] == 4 and st_r["replayed"] == 4
    assert st_r["appended"] == 0 and pairs_r.count() == 0

    # an increment mixing a fresh empty doc and a fresh near-dup
    inc = spark.createDataFrame(
        [(5, ""), (6, "the quick brown fox jumps")],
        "doc_id long, text string",
    )
    pairs_i, st_i = incremental_weighted_apss_apply(spark, inc, store)
    assert st_i["batch"] == 2 and st_i["appended"] == 2
    assert st_i["replayed"] == 0
    got_i = {(r.doc_a, r.doc_b) for r in pairs_i.collect()}
    assert got_i == {(1, 6), (2, 6)}


def test_incremental_weighted_apss_store_term_bucket_prune(spark, tmp_path):
    """The r12 posting layout: an increment's history probe reads ONLY
    the postings/ term buckets its fresh prefixes hash to (corrupt
    parquet planted in an un-probed bucket proves it — an unpruned
    read would raise), and a crash-replay double-append of the same
    posting rows changes nothing (read-side dedup)."""
    import glob
    import os
    import shutil

    from wing_binlog_go_spark.operators.dedup import (
        incremental_weighted_apss_apply,
    )

    ntb = 16
    store = str(tmp_path / "wapss_tb")
    found = spark.createDataFrame(
        [(i, f"alpha bravo t{i} t{i} t{i}") for i in range(40)]
        + [(100, "xray yankee zulu zulu")],
        "doc_id long, text string",
    )
    incremental_weighted_apss_apply(
        spark, found, store, num_term_buckets=ntb
    )[0].count()
    buckets = {
        int(d.rsplit("=", 1)[1])
        for d in glob.glob(os.path.join(store, "postings", "tb=*"))
    }
    assert len(buckets) > 2  # founding vocabulary spans several buckets

    # the increment's prefixes: terms of "xray yankee zulu" only
    inc = spark.createDataFrame(
        [(101, "xray yankee zulu zulu")], "doc_id long, text string"
    )
    from wing_binlog_go_spark.operators.dedup import (
        _apss_store_postings,
        _frozen_unit_profiles,
    )

    idf = spark.read.parquet(os.path.join(store, "idf"))
    n0 = float(idf.select("n0").first()["n0"])
    probe_tbs = {
        r.tb
        for r in _apss_store_postings(
            _frozen_unit_profiles(
                inc, idf.select("term", "df"), n0, "doc_id", "text",
                (0.9 - 1e-6) / 2.0,
            ),
            ntb,
        ).select("tb").distinct().collect()
    }
    dead = sorted(buckets - probe_tbs)
    assert dead, "fixture must have history buckets outside the probe set"
    planted = os.path.join(store, "postings", f"tb={dead[0]}",
                           "part-99999.snappy.parquet")
    with open(planted, "wb") as f:
        f.write(b"not parquet at all")

    pairs, st = incremental_weighted_apss_apply(
        spark, inc, store, num_term_buckets=ntb
    )
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}  # pruned: no raise
    assert got == {(100, 101)}
    os.remove(planted)

    # crash-replay double-append: copy every posting file again (the
    # postings-before-profiles crash picture), then add one more doc —
    # pair results must be unchanged by the duplicates
    post_dir = os.path.join(store, "postings")
    for fp in glob.glob(os.path.join(post_dir, "tb=*", "part-*.parquet")):
        shutil.copy(fp, fp.replace("part-", "dup-part-"))
    inc2 = spark.createDataFrame(
        [(102, "xray yankee zulu zulu")], "doc_id long, text string"
    )
    pairs2, _ = incremental_weighted_apss_apply(
        spark, inc2, store, num_term_buckets=ntb
    )
    got2 = {(r.doc_a, r.doc_b) for r in pairs2.collect()}
    assert got2 == {(100, 102), (101, 102)}


def test_weighted_apss_cost_model_dispatch(spark):
    """The r12 dispatch extension: past the hard vocab<=1024 cutoff the
    path choice is a measured cost model (dense when n^2*V < sum(df^2)
    * 3000 and the GEMM group count is schedulable). A Zipf-skewed
    moderate-vocab corpus must route DENSE (its hot posting lists make
    the sparse join quadratic), an all-unique-terms corpus must stay
    SPARSE, and dense_vocab_cutoff=0 must force sparse regardless.
    Result equality of the two paths is asserted by
    test_weighted_apss_random_corpora_both_paths_complete."""
    import random as _random

    from wing_binlog_go_spark.operators.dedup import weighted_apss_pairs

    rng = _random.Random(1207)
    n = 1500
    # Zipf-ish skew over ~2000 terms (> the 1024 hard cutoff)
    skew_rows = [
        (i, " ".join(
            f"t{min(2000, int(rng.paretovariate(0.7)))}" for _ in range(20)
        ))
        for i in range(n)
    ]
    skew = spark.createDataFrame(skew_rows, "doc_id long, text string")
    plan_dense = weighted_apss_pairs(skew, threshold=0.9)._jdf.queryExecution(
    ).analyzed().toString()
    assert "FlatMapGroupsInPandas" in plan_dense  # the blocked GEMM

    # every doc carries only its own private terms: sum(df^2) = vocab,
    # the sparse join is empty-cheap -> cost model keeps sparse
    uniq_rows = [
        (i, " ".join(f"u{i}_{j}" for j in range(10))) for i in range(n)
    ]
    uniq = spark.createDataFrame(uniq_rows, "doc_id long, text string")
    plan_sparse = weighted_apss_pairs(uniq, threshold=0.9)._jdf.queryExecution(
    ).analyzed().toString()
    assert "FlatMapGroupsInPandas" not in plan_sparse

    # forced sparse (the q168b oracle twin's form) never goes dense
    plan_forced = weighted_apss_pairs(
        skew, threshold=0.9, dense_vocab_cutoff=0
    )._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandas" not in plan_forced


def test_auto_lsh_params_fixture_parity_and_scaling():
    """auto_lsh_params must reproduce the pre-r10 (4, 16) signature at
    fixture scale (so committed evidence is untouched), grow bits
    logarithmically with the corpus (bounded bucket occupancy), grow
    tables with bits (the recall bound), and cap signature width at the
    documented IVF handoff point."""
    import math

    from wing_binlog_go_spark.operators.similarity import auto_lsh_params

    assert auto_lsh_params(200, 0.95) == (4, 16)     # fixture parity
    assert auto_lsh_params(1, 0.95)[0] == 4          # floor
    prev_b = prev_l = 0
    for n in (200, 2_000, 20_000, 10**6, 10**9):
        b, l = auto_lsh_params(n, 0.95)
        assert b >= prev_b and l >= prev_l, (n, b, l)
        prev_b, prev_l = b, l
        # the recall bound really holds at the returned (b, L)
        p = (1.0 - math.acos(0.95) / math.pi) ** b
        assert (1.0 - p) ** l <= 1e-7, (n, b, l)
    assert auto_lsh_params(10**12, 0.95)[0] == 16    # max_bits cap
    # a looser threshold needs fewer tables at the same bits
    assert auto_lsh_params(200, 0.99)[1] <= auto_lsh_params(200, 0.95)[1]
    # loose thresholds at saturated bits hit the max_tables clamp (the
    # recall-derived L would otherwise run to hundreds of tables —
    # ~620 at t=0.8 — multiplying the posexplode fan-out per vector);
    # the clamp logs the weakened miss bound and points at IVF/IVF-PQ
    assert auto_lsh_params(10**9, 0.8)[1] == 96
    assert auto_lsh_params(10**9, 0.8, max_tables=32)[1] == 32


def test_spread_if_narrow_is_adaptive(spark, sf_small):
    """_spread_if_narrow must widen a single-split scan to full
    parallelism and leave an already-wide frame untouched (the 100 TB
    no-op branch)."""
    from wing_binlog_go_spark.operators.dedup import _spread_if_narrow

    docs = read_table(spark, sf_small, "documents").select("doc_id", "text")
    target = spark.sparkContext.defaultParallelism
    narrow_parts = docs.rdd.getNumPartitions()
    spread = _spread_if_narrow(docs, "doc_id")
    if narrow_parts * 2 <= target:
        assert spread.rdd.getNumPartitions() == target
        # spreading must not change the row multiset
        assert sorted(r.doc_id for r in spread.collect()) == sorted(
            r.doc_id for r in docs.collect()
        )
    wide = docs.repartition(target * 2, "doc_id")
    assert _spread_if_narrow(wide, "doc_id") is wide  # no-op branch


# ---------------------------------------------------------------------------
# r13: parsed-SQL expression builders must be bit-identical to the
# Column-API forms they replaced (construction-cost optimization only —
# both paths coexist; string args take the one-F.expr fast path, Column
# args the original py4j composition)
# ---------------------------------------------------------------------------

_EDGE_TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, ""),
    (3, "one"),
    (4, "two words"),
    (5, "  leading doubled  and trailing spaces  "),
    (6, "UPPER Case MiXeD tokens here"),
    (7, "a b c d e f g h i j k l m n o p"),
    (8, "repeat repeat repeat repeat repeat"),
]


def test_expr_string_builders_match_column_api(spark):
    """word_shingles / word_ngrams_all / _sig_agree / dot / norm /
    as_double / _adc_expr: string-arg (parsed SQL) and Column-arg
    (py4j-composed) paths must yield identical rows on edge texts."""
    from wing_binlog_go_spark.operators import dedup as D
    from wing_binlog_go_spark.operators import similarity as S

    df = spark.createDataFrame(_EDGE_TEXTS, ["doc_id", "text"])
    for k in (2, 3, 5):
        got = df.select(
            D.word_shingles("text", k).alias("s_new"),
            D.word_shingles(F.col("text"), k).alias("s_old"),
            D.word_ngrams_all("text", k).alias("g_new"),
            D.word_ngrams_all(F.col("text"), k).alias("g_old"),
        ).collect()
        for r in got:
            assert r.s_new == r.s_old, (k, r)
            assert r.g_new == r.g_old, (k, r)

    sig = df.select(
        "doc_id",
        F.expr("transform(sequence(1, 16), i -> xxhash64(i, doc_id))").alias("mh"),
    )
    pairs = sig.alias("a").crossJoin(sig.alias("b"))
    agree = pairs.select(
        D._sig_agree("a.mh", "b.mh", 16).alias("new"),
        D._sig_agree(F.col("a.mh"), F.col("b.mh"), 16).alias("old"),
    ).collect()
    assert all(r.new == r.old for r in agree)

    vecs = spark.range(20).select(
        F.col("id"),
        F.expr(
            "transform(sequence(1, 8), i -> CAST(xxhash64(i, id) % 1000 AS DOUBLE)"
            " / 250.0)"
        ).alias("v"),
        F.expr("transform(sequence(1, 8), i -> CAST(pmod(xxhash64(i, id + 7), 16)"
               " AS INT))").alias("codes"),
        F.expr("transform(sequence(1, 128), i -> CAST(xxhash64(i, id) % 100 AS"
               " DOUBLE) / 10.0)").alias("tbl"),
    )
    both = vecs.alias("a").crossJoin(vecs.alias("b")).select(
        S.dot("a.v", "b.v").alias("dot_new"),
        S.dot(F.col("a.v"), F.col("b.v")).alias("dot_old"),
        S.norm("a.v").alias("n_new"),
        S.norm(F.col("a.v")).alias("n_old"),
        S._adc_expr("a.codes", "a.tbl", 8, 16).alias("adc_new"),
        S._adc_expr(F.col("a.codes"), F.col("a.tbl"), 8, 16).alias("adc_old"),
        S.as_double("a.v").alias("d_new"),
        S.as_double(F.col("a.v")).alias("d_old"),
    ).collect()
    for r in both:
        # bitwise equality, not approx: both forms must fold in the
        # same order over the same element expressions
        assert r.dot_new == r.dot_old
        assert r.n_new == r.n_old
        assert r.adc_new == r.adc_old
        assert r.d_new == r.d_old


def test_minhash_signature_matches_hof_reference(spark):
    """The parsed-SQL minhash fold equals the original Column-API
    nested-lambda fold (kept inline here as the reference)."""
    from wing_binlog_go_spark.operators import dedup as D

    df = spark.createDataFrame(_EDGE_TEXTS, ["doc_id", "text"])
    num_hashes, k = 16, 3
    shingle_hashes = F.transform(
        D.word_shingles(F.col("text"), k), lambda s: F.xxhash64(s)
    )
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    ref = F.aggregate(
        shingle_hashes,
        F.array_repeat(F.lit(2**63 - 1).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(acc, seeds, lambda a, i: F.least(a, F.xxhash64(i, h))),
    )
    got = (
        D.minhash_signature(df, "doc_id", "text", num_hashes, k)
        .join(df.select("doc_id", ref.alias("ref")), "doc_id")
        .collect()
    )
    assert len(got) == len(_EDGE_TEXTS)
    for r in got:
        assert r.mh == r.ref, r.doc_id


def test_simhash_swar_fold_matches_wide_reference(spark):
    """r13: the 16-lane SWAR popcount fold in simhash_signature must be
    bit-identical to the original 64-wide ±1 fold (kept inline here as
    the reference): lane k of acc[j] counts bit (j+16k), and the sign
    test 2*cnt > n is exactly the old sum > 0."""
    from wing_binlog_go_spark.operators.dedup import simhash_signature

    df = spark.createDataFrame(_EDGE_TEXTS, ["doc_id", "text"])
    ref = F.expr(
        """
        aggregate(
          zip_with(
            aggregate(transform(array_distinct(split(lower(text), ' ')),
                                t -> xxhash64(t)),
                      array_repeat(0, 64),
                      (acc, h) -> zip_with(acc, sequence(0, 63),
                        (a, b) -> a + IF((shiftright(h, b) & 1) = 1, 1, -1))),
            sequence(0, 63),
            (s, b) -> IF(s > 0, shiftleft(cast(1 as long), b),
                         cast(0 as long))),
          cast(0 as long), (acc, x) -> acc | x)
        """
    )
    got = (
        simhash_signature(df, "doc_id", "text")
        .join(df.select("doc_id", ref.alias("ref")), "doc_id")
        .collect()
    )
    assert len(got) == len(_EDGE_TEXTS)
    for r in got:
        assert r.simhash == r.ref, r.doc_id


def test_rolling_fused_fold_matches_per_base_reference(spark):
    """r13: the fused 8-accumulator rolling fold must be bit-identical
    per base to the original 8 separate array_min folds (built here from
    _roll, the kept Column-API reference)."""
    from wing_binlog_go_spark.operators.dedup import (
        _MH_ROLL_BASES,
        _roll,
        rolling_signatures,
        word_shingles,
    )

    df = spark.createDataFrame(_EDGE_TEXTS, ["doc_id", "text"])
    sh = F.filter(word_shingles(F.col("text"), 3), lambda s: F.length(s) > 0)
    def _min_roll(base: int):
        # NB: a default-arg lambda (s, base=base) would be read by
        # F.transform as the two-arg (element, index) form
        return F.array_min(F.transform(sh, lambda s: _roll(s, base)))

    ref = F.array(*[_min_roll(b) for b in _MH_ROLL_BASES])
    refs = df.select("doc_id", ref.alias("ref")).filter(F.size(sh) > 0)
    got = (
        rolling_signatures(df, "doc_id", "text")
        .join(refs, F.col("doc") == F.col("doc_id"))
        .collect()
    )
    assert len(got) == refs.count()
    for r in got:
        assert r.mh == r.ref, r.doc


def test_simhash_rolling_swar_matches_pow_reference(spark):
    """r13: q37g's 48-bit fingerprint via the 16-lane SWAR fold must be
    bit-identical to the original pow/floor ±1-sum formulation (kept
    inline here as the reference, built from the same shingle+roll
    chain)."""
    from wing_binlog_go_spark.operators.dedup import (
        _MH_ROLL_P,
        _MH_ROLL_SEED,
        simhash_rolling_pairs,
    )

    df = spark.createDataFrame(
        _EDGE_TEXTS
        + [
            (101, "alpha beta gamma delta epsilon zeta eta theta"),
            (102, "alpha beta gamma delta epsilon zeta eta theta"),
            (103, "alpha beta gamma delta epsilon zeta eta iota"),
        ],
        ["doc_id", "text"],
    )
    # reference fingerprints: the original pow/floor formulation
    roll = (
        f"aggregate(transform(split(t, ''), ch -> ascii(ch)), "
        f"CAST({_MH_ROLL_SEED} AS BIGINT), "
        f"(acc, c) -> ((acc * 31 + CAST(c AS BIGINT)) % {_MH_ROLL_P}))"
    )
    from wing_binlog_go_spark.operators.dedup import _ngrams_sql

    hashed = (
        f"transform(filter({_ngrams_sql('text', 3, distinct=True)}, "
        f"t -> length(t) > 0), t -> {roll})"
    )
    ref_fp = F.expr(
        f"""
        aggregate(
          zip_with(
            aggregate({hashed}, array_repeat(cast(0 as long), 48),
              (acc, h) -> zip_with(acc, sequence(0, 47),
                (a, j) -> a + IF(CAST(floor(CAST(h AS DOUBLE)
                                  / power(2.0, CAST(j AS DOUBLE))) AS BIGINT)
                                 % 2 = 1, 1, -1))),
            sequence(0, 47),
            (s, j) -> IF(s > 0, CAST(power(2.0, CAST(j AS DOUBLE)) AS BIGINT),
                         cast(0 as long))),
          cast(0 as long), (acc, x) -> acc + x)
        """
    )
    refs = df.select("doc_id", ref_fp.alias("fp")).filter(
        F.expr(f"size({hashed})") > 0
    )
    ref_rows = {r.doc_id: r.fp for r in refs.collect()}
    # reference pairs: chunk join + hamming filter over the reference fps
    import itertools

    exp_pairs = set()
    for a, b in itertools.combinations(sorted(ref_rows), 2):
        fa, fb = ref_rows[a], ref_rows[b]
        shares_chunk = any(
            (fa >> off) & 0xFFFF == (fb >> off) & 0xFFFF
            for off in (0, 16, 32)
        )
        if shares_chunk and bin(fa ^ fb).count("1") <= 2:
            exp_pairs.add((a, b))
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_rolling_pairs(df, "doc_id", "text").collect()
    }
    assert got == exp_pairs
    assert (101, 102) in got  # identical docs must pair


def test_persisted_signature_length_mismatch_fails_loudly(spark, tmp_path):
    """ADVICE r12: a signature store built with fewer hashes than the
    num_hashes passed to minhash_dedup_pairs must raise, not silently
    return zero duplicate pairs (out-of-bounds element_at -> NULL agree
    sum -> every candidate filtered)."""
    from wing_binlog_go_spark.operators.dedup import (
        load_minhash_signatures,
        minhash_dedup_pairs,
        persist_minhash_signatures,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "alpha beta gamma delta epsilon"),
         (3, "completely different text right here")],
        ["doc_id", "text"],
    )
    store = str(tmp_path / "sigstore")
    persist_minhash_signatures(docs, store, num_hashes=8)
    sigs = load_minhash_signatures(spark, store)

    # matching width: the exact-dup pair is found
    ok = minhash_dedup_pairs(None, num_hashes=8, bands=4, signatures=sigs)
    assert [(r.doc_a, r.doc_b) for r in ok.collect()] == [(1, 2)]

    # mismatched width: loud failure instead of an empty result
    import pytest as _pytest

    bad = minhash_dedup_pairs(None, num_hashes=16, bands=8, signatures=sigs)
    with _pytest.raises(Exception) as ei:
        bad.collect()
    assert "does not match num_hashes=16" in str(ei.value)


def test_prefilter_threshold_equals_postfilter_composition(spark, docs_with_dups):
    """r13 shuffle cut: the band-join estimate filter moved BELOW the
    dedupe exchange (filter → groupBy.first instead of groupBy.first →
    filter). Legal because every band-copy of a pair carries the
    identical estimate. This test pins the commutation on real data:
    each operator at threshold=t must equal itself at threshold=0 (all
    collisions kept through the dedupe) filtered post-hoc — the old
    composition."""
    from wing_binlog_go_spark.operators.dedup import (
        fuzzy_decontaminate_pairs,
        minhash_rolling_pairs,
    )

    t = 0.5
    docs = docs_with_dups

    new = minhash_dedup_pairs(docs, threshold=t)
    old = minhash_dedup_pairs(docs, threshold=0.0).filter(
        F.col("est_jaccard") >= t
    )
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0

    new = minhash_rolling_pairs(docs, threshold=t)
    old = minhash_rolling_pairs(docs, threshold=0.0).filter(
        F.col("est_jaccard") >= t
    )
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0

    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    new = fuzzy_decontaminate_pairs(corpus, bench, threshold=t)
    old = fuzzy_decontaminate_pairs(corpus, bench, threshold=0.0).filter(
        F.col("est_jaccard") >= t
    )
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0
