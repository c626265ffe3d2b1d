"""Custom stateful streaming operator: running totals across
micro-batches must converge to the batch aggregate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_mapreduce_spark.sources.registry import load_table
from go_mapreduce_spark.streaming.events import read_event_stream
from go_mapreduce_spark.streaming.stateful import user_running_totals


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stateful"))
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_stateful_running_totals_converge_to_batch(spark, sf_dir, stream_dir):
    stream = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        user_running_totals(stream)
        .writeStream.format("memory")
        .queryName("t_running")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # multiple snapshot rows per user (one per batch it appeared in);
    # the FINAL state per user must equal the batch aggregate
    final = spark.sql(
        """
        select user_id, n_events, total_value from (
          select *, row_number() over (partition by user_id order by n_events desc) rn
          from t_running) where rn = 1
        """
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
    )
    f = {(r.user_id, r.n_events, round(r.total_value, 6)) for r in final.collect()}
    b = {(r.user_id, r.n_events, round(r.total_value, 6)) for r in batch.collect()}
    assert f == b
    # and state updates were actually incremental (multiple batches)
    n_updates = spark.sql("select count(*) c from t_running").collect()[0].c
    assert n_updates > batch.count(), "expected >1 update per user across batches"
