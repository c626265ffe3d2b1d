"""Wave-50 tests: rule metrics recompute, Flesch formula parity,
assortativity vs direct Pearson."""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F


def test_x281_rule_metrics_recompute(spark, sf_dir):
    from go_mapreduce_spark.operators import analytics as AN
    from go_mapreduce_spark.sources.registry import load_table

    rows = AN.x281_association_rules(spark, sf_dir).collect()
    assert rows
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    baskets: dict = {}
    for r in (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .collect()
    ):
        baskets.setdefault(r.l_orderkey, set()).add(r.p_brand)
    n_orders = len(baskets)
    item = Counter()
    for items in baskets.values():
        item.update(items)
    for r in rows[:5]:
        ab = sum(1 for it in baskets.values() if {r.pa, r.pb} <= it)
        abc = sum(1 for it in baskets.values() if {r.pa, r.pb, r.pc} <= it)
        assert r.support == abc
        assert abs(r.confidence - abc / ab) < 1e-6
        assert abs(r.lift - (abc / ab) / (item[r.pc] / n_orders)) < 1e-5
        assert r.pa < r.pb and r.pc not in (r.pa, r.pb)


def test_x282_flesch_hand_example(spark, tmp_path):
    import os

    from go_mapreduce_spark.operators.text import x282_readability

    # "the cat sat. the dog ran!" -> 2 sentence terminators,
    # 6 words, vowel groups: e,a,a,e,o,a = 6
    d = str(tmp_path)
    spark.createDataFrame(
        [(1, "the cat sat. the dog ran!", "en", "s", 25)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    r = x282_readability(spark, d).collect()[0]
    assert (r.words, r.words_per_sentence, r.syllables_per_word) == (6, 3.0, 1.0)
    want = 206.835 - 1.015 * 3.0 - 84.6 * 1.0
    assert abs(r.mean_flesch - want) < 1e-6


def test_x283_matches_direct_pearson(spark, sf_dir):
    from go_mapreduce_spark.operators import analytics as AN
    from go_mapreduce_spark.operators.dedup import x6_dedup_ngram_jaccard

    got = AN.x283_degree_assortativity(spark, sf_dir).collect()[0]
    pairs = [(r.doc_a, r.doc_b) for r in x6_dedup_ngram_jaccard(spark, sf_dir).collect()]
    deg = Counter()
    for a, b in pairs:
        deg[a] += 1
        deg[b] += 1
    xs, ys = [], []
    for a, b in pairs:
        xs += [deg[a], deg[b]]
        ys += [deg[b], deg[a]]
    m = len(xs)
    sx, sy = sum(xs), sum(ys)
    cov = m * sum(x * y for x, y in zip(xs, ys)) - sx * sy
    vx = m * sum(x * x for x in xs) - sx * sx
    vy = m * sum(y * y for y in ys) - sy * sy
    assert got.n_edges == len(pairs)
    assert abs(got.assortativity - cov / math.sqrt(vx * vy)) < 1e-6
    assert -1 - 1e-9 <= got.assortativity <= 1 + 1e-9
