"""Wave-47 tests: expectations catch planted violations; manifest
stats agree with actual snapshot reads."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F


def test_x273_catches_planted_violations(spark, tmp_path):
    from go_mapreduce_spark.operators.curation import x273_data_expectations

    base = datetime.datetime(1995, 6, 1)
    rows = [
        (1, 101, 10.0, base),
        (1, 102, 20.0, base),                      # duplicate key
        (2, None, 30.0, base),                     # null custkey
        (3, 103, -5.0, base),                      # non-positive price
        (4, 104, 40.0, datetime.datetime(2050, 1, 1)),  # out-of-range date
        (5, 999, 50.0, base),                      # FK miss
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_totalprice double, o_orderdate timestamp",
    ).write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
    spark.createDataFrame(
        [(101,), (102,), (103,), (104,)], "c_custkey long"
    ).write.mode("overwrite").parquet(os.path.join(d, "customer.parquet"))
    got = {r.expectation: r for r in x273_data_expectations(spark, d).collect()}
    assert got["unique:o_orderkey"].n_violations == 1
    assert got["not_null:o_custkey"].n_violations == 1
    assert got["positive:o_totalprice"].n_violations == 1
    assert got["in_range:o_orderdate"].n_violations == 1
    assert got["fk:o_custkey->customer"].n_violations == 1
    assert not any(r.passed for r in got.values())


def test_x273_fixture_is_clean(spark, sf_dir):
    from go_mapreduce_spark.operators.curation import x273_data_expectations

    rows = x273_data_expectations(spark, sf_dir).collect()
    assert len(rows) == 5
    assert all(r.passed for r in rows)


def test_x274_manifest_rows_match_snapshot_reads(spark, sf_dir):
    from go_mapreduce_spark import lakehouse as LH

    stats = {r.version: r for r in LH.x274_manifest_table_stats(spark, sf_dir).collect()}
    root = LH.ensure_demo_table(spark, sf_dir)
    for v, s in stats.items():
        t = LH.read_table(spark, root, version=v)
        agg = t.agg(
            F.count(F.lit(1)), F.min("o_orderkey"), F.max("o_orderkey")
        ).collect()[0]
        assert (s.total_rows, s.min_key, s.max_key) == (agg[0], agg[1], agg[2]), v
