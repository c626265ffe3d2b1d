"""Wave 26: RocksDB state store provider (x206)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F


def test_rocksdb_replay_matches_batch_and_engages_rocksdb(spark, sf_dir, scratch_dirs):
    """The RocksDB-backed replay must (a) equal the batch aggregate
    under the watermark-finalization rule, (b) actually have run on
    RocksDB (changelog files in the state checkpoint — the default
    provider writes .delta files instead), and (c) leave the session
    provider conf untouched."""
    from go_mapreduce_spark.streaming.events import x206_rocksdb_stateful
    from go_mapreduce_spark.sources.registry import load_table

    before = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "unset",
    )
    got = {
        (r.window_start, r.user_id): (r.n_events, round(r.total_value, 4))
        for r in x206_rocksdb_stateful(spark, sf_dir).collect()
    }
    after = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", "unset"
    )
    assert before == after  # conf restored

    ev = load_table(spark, sf_dir, "events")
    wm = ev.agg(
        F.date_trunc("millisecond", F.max("ts")).alias("m")
    ).collect()[0].m
    import datetime

    cut = wm - datetime.timedelta(hours=2)
    batch = (
        ev.groupBy(F.window("ts", "2 hours").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("tv"),
        )
        .filter(F.col("w.end") <= F.lit(cut))
        .select(
            F.col("w.start").alias("ws"),
            "user_id",
            "n",
            F.round(F.col("tv").cast("double"), 4).alias("tv"),
        )
    )
    expected = {
        (r.ws, r.user_id): (r.n, r.tv) for r in batch.collect()
    }
    assert got == expected

    state = os.path.join(scratch_dirs["x206"], "ckpt", "state")
    changelogs = glob.glob(os.path.join(state, "**", "*.changelog"), recursive=True)
    assert changelogs, "no RocksDB changelog files — provider did not engage"
