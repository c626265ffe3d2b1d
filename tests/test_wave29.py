"""Wave 29: parameterized SQL (x212) and the custom streaming Python
data source (x213)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_parameterized_sql_binds_like_literals(spark, sf_dir):
    from go_mapreduce_spark.operators.relational_ext import (
        PARAM_MIN_ORDERS,
        PARAM_SEGMENT,
        x212_parameterized_sql,
    )
    from go_mapreduce_spark.sources.registry import load_table

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    direct = {
        r.c_custkey: (r.n, round(r.rev, 4))
        for r in cust.filter(F.col("c_mktsegment") == PARAM_SEGMENT)
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("rev"),
        )
        .filter(F.col("n") >= PARAM_MIN_ORDERS)
        .collect()
    }
    got = {
        r.c_custkey: (r.n_orders, r.revenue)
        for r in x212_parameterized_sql(spark, sf_dir).collect()
    }
    assert got == direct


def test_stream_source_drains_in_multiple_batches(spark, sf_dir):
    """The custom source must deliver every row exactly once AND do it
    across several rate-limited micro-batches (the offset contract),
    matching the batch aggregate bit-for-bit."""
    from go_mapreduce_spark.sources.pydatasource import (
        x213_custom_stream_source,
    )
    from go_mapreduce_spark.sources.registry import load_table

    got = {
        r.event_type: (r.n_events, r.total_value)
        for r in x213_custom_stream_source(spark, sf_dir).collect()
    }
    direct = {
        r.event_type: (r.n, round(r.tv, 4))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("tv"),
        )
        .collect()
    }
    assert got == direct


def test_xml_roundtrip_matches_raw_aggregate(spark, sf_dir):
    from go_mapreduce_spark.operators.relational_ext import x214_xml_roundtrip
    from go_mapreduce_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events")
    direct = {
        r.event_type: (r.n, r.sk, r.nu, r.mn)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.get_json_object("props", "$.k").cast("bigint")
            ).alias("sk"),
            F.count_distinct("user_id").alias("nu"),
            F.min("event_id").alias("mn"),
        )
        .collect()
    }
    got = {
        r.event_type: (r.n_events, r.sum_k, r.n_users, r.min_event_id)
        for r in x214_xml_roundtrip(spark, sf_dir).collect()
    }
    assert got == direct


def test_lakehouse_stream_refuses_merge_versions(spark, sf_dir, tmp_path):
    """A merge commit inside the streamed window must raise — file
    provenance cannot attribute in-place row changes (the x170 rule,
    enforced on the streaming path too)."""
    import pytest

    import go_mapreduce_spark.lakehouse as lh

    root = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "k bigint, v double"
    )
    lh.create_table(spark, df, root, key_col="k")
    batch = spark.createDataFrame([(1, 99.0, "upsert")], "k bigint, v double, _op string")
    lh.merge_table(spark, batch, root, batch_id="m1")

    # the stream reader's partitions take each version's files from
    # lakehouse.added_files
    assert lh.added_files(root, 1)  # create version has provenance
    with pytest.raises(ValueError, match="table_changes"):
        lh.added_files(root, 2)  # merge version refuses


def test_lakehouse_stream_matches_batch_totals(spark, sf_dir):
    from go_mapreduce_spark.sources.pydatasource import (
        x215_lakehouse_stream_source,
    )
    from go_mapreduce_spark.sources.registry import load_table

    got = {
        r.event_type: (r.n_events, r.total_value)
        for r in x215_lakehouse_stream_source(spark, sf_dir).collect()
    }
    direct = {
        r.event_type: (r.n, round(r.tv, 4))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("tv"),
        )
        .collect()
    }
    assert got == direct
