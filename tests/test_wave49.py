"""Wave-49 tests: rank-order lang-ID on a separable corpus, item-rec
cosine sanity, l-diversity census parity."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_x278_classifies_trigram_separable_corpus(spark, tmp_path):
    from go_mapreduce_spark.operators.text import x278_rank_order_langid

    docs, did = [], 0
    for lang, words in {
        "aa": ["aaaaa", "aabaa", "abaab"],
        "zz": ["zzzzz", "zzyzz", "zyzzy"],
    }.items():
        for w in words:
            did += 1
            docs.append((did, f"{w} {w} {w}", lang, "synthetic", 17))
    d = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r.lang: r for r in x278_rank_order_langid(spark, d).collect()}
    for lang, r in got.items():
        assert r.accuracy == 1.0, (lang, r)


def test_x279_cosine_bounds_and_self_consistency(spark, sf_dir):
    from go_mapreduce_spark.operators import analytics as AN

    rows = AN.x279_item_recommendations(spark, sf_dir).collect()
    assert rows
    per_part: dict = {}
    for r in rows:
        assert 0 < r.cosine <= 1 + 1e-9
        assert r.support >= AN.RECS_MIN_SUPPORT
        per_part.setdefault(r.part, []).append(r)
    for part, recs in per_part.items():
        recs.sort(key=lambda r: r.rk)
        assert [r.rk for r in recs] == list(range(1, len(recs) + 1))
        # ranked by cosine descending
        assert all(
            a.cosine >= b.cosine - 1e-12 for a, b in zip(recs, recs[1:])
        ), part


def test_x280_flags_match_full_census(spark, sf_dir):
    from go_mapreduce_spark.operators import curation as C
    from go_mapreduce_spark.sources.registry import load_table

    rows = C.x280_l_diversity(spark, sf_dir).collect()
    census = (
        load_table(spark, sf_dir, "customer")
        .join(
            load_table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
        )
        .agg(
            F.count(F.lit(1)).alias("cs"),
            F.count_distinct("c_mktsegment").alias("ld"),
        )
        .collect()
    )
    want = sorted(
        (
            (r.ld, r.cs, r.n_name, r.bal_band)
            for r in census
            if r.ld < C.L_DIVERSITY_L
        )
    )[: C.L_DIV_TOP_N]
    got = [(r.l_div, r.class_size, r.n_name, r.bal_band) for r in rows]
    assert got == want
    assert all(r.l_div < C.L_DIVERSITY_L for r in rows)
