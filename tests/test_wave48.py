"""Wave-48 tests: DST-boundary civil-day mapping, try_* NULL
semantics, inferred-schema parse losslessness."""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F


def test_x275_dst_boundary_day_assignment(spark, tmp_path):
    """Events an hour apart across the US spring-forward instant must
    land on the right New-York day even though UTC days differ."""
    from go_mapreduce_spark.operators.relational_ext import x275_local_day_rollup

    rows = [
        # 2024-03-10 06:59 UTC = 01:59 EST (Mar 10 local)
        (1, datetime.datetime(2024, 3, 10, 6, 59), 1, "a", 1.0, None),
        # 2024-03-10 07:01 UTC = 03:01 EDT (still Mar 10 local)
        (2, datetime.datetime(2024, 3, 10, 7, 1), 1, "a", 1.0, None),
        # 2024-03-11 03:00 UTC = Mar 10 23:00 EDT (Mar 10 local!)
        (3, datetime.datetime(2024, 3, 11, 3, 0), 1, "a", 1.0, None),
        # 2024-03-11 05:00 UTC = Mar 11 01:00 EDT
        (4, datetime.datetime(2024, 3, 11, 5, 0), 1, "a", 1.0, None),
    ]
    d = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {
        str(r.local_day): r.n_events
        for r in x275_local_day_rollup(spark, d).collect()
    }
    assert got == {"2024-03-10": 3, "2024-03-11": 1}


def test_x276_try_divide_yields_null_not_error(spark):
    df = spark.createDataFrame([(10.0, 0.0), (10.0, 2.0)], "a double, b double")
    vals = [r[0] for r in df.select(F.try_divide("a", "b")).collect()]
    assert vals == [None, 5.0]
    casts = [
        r[0]
        for r in spark.createDataFrame([("7",), ("x",)], "s string")
        .select(F.col("s").try_cast("int"))
        .collect()
    ]
    assert casts == [7, None]


def test_x277_inferred_parse_matches_direct_extraction(spark, sf_dir):
    from go_mapreduce_spark.operators.relational_ext import (
        x277_json_schema_inference,
    )
    from go_mapreduce_spark.sources.registry import load_table

    got = {r.event_type: r for r in x277_json_schema_inference(spark, sf_dir).collect()}
    want = {
        r.event_type: r
        for r in load_table(spark, sf_dir, "events")
        .withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy("event_type")
        .agg(F.count("k").alias("n"), F.sum("k").alias("t"))
        .collect()
    }
    for et, r in got.items():
        assert (r.n_parsed, r.k_total) == (want[et].n, want[et].t), et
