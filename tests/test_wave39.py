"""Wave-39 tests: SQL-UDF inlining parity, mergeSchema NULL semantics,
RESTORE snapshot algebra, naive-Bayes mechanics on a separable corpus."""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_x250_sql_udf_matches_inline_expressions(spark, sf_dir):
    from go_mapreduce_spark.operators import relational_ext as RX
    from go_mapreduce_spark.sources.registry import load_table

    got = {
        (r.band, r.l_returnflag): (r.n_rows, r.net_revenue)
        for r in RX.x250_sql_udf(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    want = {
        (r.band, r.l_returnflag): (r.n_rows, r.net_revenue)
        for r in li.groupBy(
            F.when(F.col("l_quantity") < 10, "small")
            .when(F.col("l_quantity") < 30, "medium")
            .otherwise("large")
            .alias("band"),
            "l_returnflag",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice")
                        * (1 - F.col("l_discount"))
                        * (1 + F.col("l_tax"))
                    ).cast("decimal(38,6)")
                ).cast("double"),
                4,
            ).alias("net_revenue"),
        )
        .collect()
    }
    assert got == want


def test_x251_old_files_surface_null_for_new_column(spark, sf_dir):
    from go_mapreduce_spark.operators import relational_ext as RX
    from go_mapreduce_spark.sources.registry import load_table

    rows = {r.priority: r for r in RX.x251_schema_evolution_read(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    n_even = orders.filter(F.col("o_orderkey") % 2 == 0).count()
    assert rows["<pre-evolution>"].n_orders == n_even
    assert sum(r.n_orders for r in rows.values()) == orders.count()
    # every other bucket is a real gen-2 priority value
    assert all(p == "<pre-evolution>" or p[0].isdigit() for p in rows)


def test_x252_restore_is_metadata_only_and_preserves_ledger(spark, sf_dir):
    from go_mapreduce_spark import lakehouse as LH
    from go_mapreduce_spark.sources.registry import load_table

    root = LH.ensure_restore_demo(spark, sf_dir)
    assert LH.current_version(root) == 4
    # restored snapshot is bit-identical to v1
    v1 = LH.read_table(spark, root, version=1)
    v4 = LH.read_table(spark, root, version=4)
    assert sorted(map(tuple, v1.collect())) == sorted(map(tuple, v4.collect()))
    # metadata-only: the restore commit references v1's files verbatim
    m1, m4 = LH.read_manifest(root, 1), LH.read_manifest(root, 4)
    assert m4["files"] == m1["files"] and m4["op"] == "restore"
    # the idempotency ledger survives the rollback: replaying the
    # already-delivered append batch is a no-op
    orders = load_table(spark, sf_dir, "orders").select(*LH._DEMO_COLS)
    v_after = LH.append_table(
        spark,
        orders.filter(F.col("o_orderkey") % 4 == 2),
        root,
        batch_id="a1",
    )
    assert v_after == 4
    # the bad history remains time-travelable
    assert LH.read_manifest(root, 3)["op"] == "delete"


def test_x253_classifies_a_separable_corpus(spark, tmp_path):
    """On a corpus whose languages share no character bigrams, NB must
    reach accuracy 1.0 for every label."""
    from go_mapreduce_spark.operators.text import x253_naive_bayes_langid

    docs = []
    did = 0
    for lang, words in {
        "aa": ["aaaa", "aaab", "abaa"],
        "zz": ["zzzz", "zzzy", "zyzz"],
    }.items():
        for w in words:
            did += 1
            docs.append((did, f"{w} {w}", lang, "synthetic", len(w) * 2 + 1))
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r.lang: r for r in x253_naive_bayes_langid(spark, d).collect()}
    assert set(got) == {"aa", "zz"}
    for lang, r in got.items():
        assert r.n_docs == 3 and r.n_correct == 3 and r.accuracy == 1.0


def test_x253_fixture_counts_are_complete(spark, sf_dir):
    from go_mapreduce_spark.operators.text import x253_naive_bayes_langid
    from go_mapreduce_spark.sources.registry import load_table

    rows = x253_naive_bayes_langid(spark, sf_dir).collect()
    n_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length(F.lower("text")) >= 2)
        .count()
    )
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(0.0 <= r.accuracy <= 1.0 for r in rows)
    assert all(r.n_correct <= r.n_docs for r in rows)
