"""Dedup-family tests: LSH recall vs exact baselines on planted
near-duplicates (SURVEY.md §5.2.4), plus skew/empty-input unit tests."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from go_mapreduce_spark.operators import dedup as D


@pytest.fixture(scope="module")
def planted_docs(spark):
    """200 random docs + 30 planted near-duplicate pairs (small token
    edits → Jaccard ≥ ~0.7) + 5 exact dup pairs."""
    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    did = 0
    for _ in range(200):
        rows.append((did, " ".join(rng.choice(vocab) for _ in range(60))))
        did += 1
    planted = []
    for _ in range(30):
        base = [rng.choice(vocab) for _ in range(60)]
        edited = list(base)
        edited[rng.randrange(60)] = rng.choice(vocab)  # one token swap
        rows.append((did, " ".join(base)))
        rows.append((did + 1, " ".join(edited)))
        planted.append((did, did + 1))
        did += 2
    for _ in range(5):
        text = " ".join(rng.choice(vocab) for _ in range(60))
        rows.append((did, text))
        rows.append((did + 1, text))
        planted.append((did, did + 1))
        did += 2
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df, planted


def _lsh_pairs_from_docs(spark, docs, threshold=0.5):
    """Run the x4 pipeline body against an arbitrary docs DataFrame."""
    shingles = D.doc_shingles(docs)
    sig = D.minhash_signatures(shingles)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"s{b * D.ROWS_PER_BAND + r}") for r in range(D.ROWS_PER_BAND)]
                        ).alias("bucket"),
                    )
                    for b in range(D.N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a, b = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets_ = shingles.groupBy("doc_id").agg(F.collect_set("sh").alias("shset"))
    return (
        cands.join(sets_.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sa")), "doc_a")
        .join(sets_.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("sb")), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / (F.size("sa") + F.size("sb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b")
    )


def _exact_pairs(docs, threshold=0.5):
    return (
        D._pairwise_jaccard(D.doc_shingles(docs))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b")
    )


def test_minhash_lsh_recall_on_planted_dups(spark, planted_docs):
    docs, planted = planted_docs
    got = {(r.doc_a, r.doc_b) for r in _lsh_pairs_from_docs(spark, docs).collect()}
    truth = {(r.doc_a, r.doc_b) for r in _exact_pairs(docs).collect()}
    assert truth, "planted dups must appear in the exact baseline"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"LSH recall {recall:.2f} below bound"
    # verification step guarantees precision == 1.0 vs the same threshold
    assert got <= truth


def test_minhash_signature_deterministic(spark, planted_docs):
    docs, _ = planted_docs
    s1 = D.minhash_signatures(D.doc_shingles(docs)).orderBy("doc_id").collect()
    s2 = D.minhash_signatures(D.doc_shingles(docs)).orderBy("doc_id").collect()
    assert s1 == s2


def test_simhash_exact_dup_has_zero_hamming(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.bits for r in D.simhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]


def test_simhash_skewed_key_tolerance(spark):
    """One doc repeated 50% of rows (skew stress, SURVEY.md §5.2.3)."""
    rows = [(i, "hot key doc text repeated again and again here") for i in range(100)]
    rows += [(100 + i, f"cold doc number {i} with words w{i} x{i} y{i} z{i}") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = D.simhash_signatures(docs)
    assert sigs.count() == 200


def test_exact_dedup_keeps_min_id(spark):
    docs = spark.createDataFrame(
        [(5, "same text"), (3, "same text"), (9, "other text")],
        "doc_id long, text string",
    )
    out = (
        docs.groupBy(F.sha2(F.col("text"), 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    assert {r.doc_id for r in out.collect()} == {3, 9}


def test_shingles_empty_and_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, "one two"), (3, "one two three four")],
        "doc_id long, text string",
    )
    sh = D.doc_shingles(docs)
    by_doc = {r.doc_id: r.cnt for r in sh.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()}
    assert 1 not in by_doc and 2 not in by_doc  # < 3 tokens → no shingles
    assert by_doc[3] == 2


# ---------------------------------------------------------------------------
# max_df posting-list cap (the 100 TB stop-shingle guard)
# ---------------------------------------------------------------------------

def _alpha(i: int) -> str:
    """Letter-only suffix — the dedup tokenizer is [a-z]+, so numeric
    suffixes would be stripped and collapse the docs into duplicates."""
    return "".join(chr(97 + int(d)) for d in str(i))


@pytest.fixture(scope="module")
def stop_shingle_docs(spark):
    """40 docs, half sharing one hot shingle prefix ("common alpha
    beta gamma" → 2 shingles with df=20), plus one planted exact-dup
    pair built from rare shingles only."""
    rows = []
    for i in range(20):
        a = _alpha(i)
        rows.append((i, f"common alpha beta gamma tail{a} more{a} words{a}"))
    for i in range(20, 40):
        a = _alpha(i)
        rows.append((i, f"unique{a} only{a} here{a} now{a} end{a}"))
    dup = "rare red fox jumps over the lazy dog tonight"
    rows += [(100, dup), (101, dup)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_max_df_cap_bounds_candidates(spark, stop_shingle_docs):
    """With the cap, the O(d²) blowup from the hot shingle disappears:
    candidates drop from >=C(20,2) to just the rare-shingle pairs."""
    sh = D.doc_shingles(stop_shingle_docs)
    uncapped = D._candidate_pairs(sh).count()
    capped = D._candidate_pairs(sh, max_df=5).count()
    assert uncapped >= 190 + 1  # hot-shingle quadratic pairs + planted dup
    assert capped < 20          # hot shingle removed from candidate gen
    assert capped >= 1          # planted dup survives (rare shingles)


def test_max_df_cap_keeps_threshold_pairs(spark, stop_shingle_docs):
    """Pairs at Jaccard >= threshold are identical with and without
    the cap (scores are always verified on FULL shingle sets)."""
    sh = D.doc_shingles(stop_shingle_docs)
    thr = 0.8
    def pairs(max_df):
        return {
            (r.doc_a, r.doc_b, round(r.jaccard, 6))
            for r in D._pairwise_jaccard(sh, max_df=max_df)
            .filter(F.col("jaccard") >= thr)
            .collect()
        }
    got_capped = pairs(5)
    got_uncapped = pairs(None)
    assert got_capped == got_uncapped
    assert (100, 101, 1.0) in got_capped


# ---------------------------------------------------------------------------
# connected-components: checkpointing bounds lineage on deep graphs
# ---------------------------------------------------------------------------

def test_cc_chain_graph_converges_with_bounded_lineage(spark):
    """A diameter-10 chain forces ~10 propagation rounds (labels move
    one hop per round); localCheckpoint every 3 rounds must keep the
    final plan depth bounded by the rounds since the last checkpoint,
    not the total round count."""
    edges = [(i, i + 1) for i in range(10)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = D.connected_components(pairs)
    labels = {r.doc_id: r.cluster_id for r in out.collect()}
    assert labels == {i: 0 for i in range(11)}  # one component, min label 0
    # lineage assertion: the plan must bottom out at the checkpoint
    # leaf (Scan ExistingRDD).  Each un-checkpointed round embeds the
    # previous round's plan TWICE (labels feeds both join inputs), so
    # plan text grows ~2× per round: 11 rounds ≈ 2^11 units, while ≤
    # CC_CHECKPOINT_EVERY rounds above the leaf stays small — a flat cap
    # on the string length is a real lineage-depth bound.
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert len(plan) < 100_000, f"plan text {len(plan)} chars — lineage not truncated"


def test_incremental_dedup_matches_cross_slice_of_x6(spark, sf_dir):
    """x96 (batch-vs-corpus) must equal exactly the x6 pairs that
    cross the ingestion split — same scores, nothing extra/missing."""
    from pyspark.sql import functions as F

    from go_mapreduce_spark.operators.dedup import (
        INCR_SPLIT_DOC_ID,
        x6_dedup_ngram_jaccard,
        x96_incremental_dedup,
    )

    got = {
        (r.dup_doc, r.new_doc): r.jaccard
        for r in x96_incremental_dedup(spark, sf_dir).collect()
    }
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in x6_dedup_ngram_jaccard(spark, sf_dir).collect()
        if r.doc_a < INCR_SPLIT_DOC_ID <= r.doc_b
    }
    assert got == full
