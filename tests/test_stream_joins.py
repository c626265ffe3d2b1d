"""Stream-stream join + streaming dedup tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from go_mapreduce_spark.sources.registry import load_table
from go_mapreduce_spark.streaming.events import (
    purchases_with_recent_click,
    read_event_stream,
    run_to_memory_sink,
    streaming_dedup,
)


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_ssj"))
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_stream_stream_join_equals_batch(spark, sf_dir, stream_dir):
    stream = read_event_stream(spark, stream_dir)
    run_to_memory_sink(
        purchases_with_recent_click(stream), "t_ssj", output_mode="append"
    )
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("select * from t_ssj").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    want = {
        (r.purchase_id, r.click_id)
        for r in p.join(
            c,
            (F.col("user_id") == F.col("cu"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    assert got == want
    assert got, "expected purchase-click pairs within 30 minutes"


@pytest.mark.parametrize(
    "sf",
    # the sf0.1 arm replays a 100k-row stream (~10-17 s) and guards the
    # same finalization property the two small arms pin on different
    # watermark boundaries; it rides the opt-in full sweep (the
    # round-12 driver pytest budget policy, cf. test_window_lint)
    ["sf0.001", "sf0.01", "sf0.1"]
    if os.environ.get("SPARK_GRAFT_FULL_SWEEP")
    else ["sf0.001", "sf0.01"],
)
def test_x135_nulls_match_actual_watermark(spark, sf):
    """Guard for the outer-null finalization semantics: recompute the
    expected null-row set from the final global watermark Spark
    ACTUALLY reported in the query progress — NOT the fitted
    ``min-branch max − 1 h`` formula the oracle uses.  A Spark version
    bump or trigger-size change that shifts watermark advancement
    fails here with a clear set diff instead of silently diverging the
    oracle (formula bracketed empirically on pyspark 4.1.x; three sfs
    so a layout-dependent shift can't fit one fixture and slip by).

    Contract under test: an unmatched purchase emits a null-click row
    iff ``purchase_ts < final_watermark`` (a click matching it would
    have ``click_ts <= purchase_ts < wm`` — provably late); matched
    pairs are cutoff-free and equal the batch inner join.
    """
    import datetime as dt

    from go_mapreduce_spark.streaming import events as SE

    sf_dir = f"/root/testdata/{sf}"
    out = SE.x135_stream_left_join(spark, sf_dir)
    got_nulls = {
        r.purchase_id for r in out.where(F.col("click_id").isNull()).collect()
    }
    got_matched = {
        (r.purchase_id, r.click_id)
        for r in out.where(F.col("click_id").isNotNull()).collect()
    }
    wm_s = SE.REPLAY_FINAL_WATERMARK["x135"]
    assert wm_s, "replay must report a final watermark"
    wm = dt.datetime.strptime(wm_s, "%Y-%m-%dT%H:%M:%S.%fZ")

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    cond = (
        (F.col("user_id") == F.col("cu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 minutes"))
    )
    want_nulls = {
        r.purchase_id
        for r in p.join(c, cond, "left_anti")
        .where(F.col("pts") < F.lit(wm))
        .collect()
    }
    want_matched = {
        (r.purchase_id, r.click_id) for r in p.join(c, cond, "inner").collect()
    }
    assert got_nulls == want_nulls
    assert got_matched == want_matched


def test_streaming_dedup_first_occurrence_wins(spark, tmp_path):
    """Planted duplicate texts inside the watermark horizon → one
    survivor each; uniques untouched."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(40):
        text = f"unique doc {i}"
        rows.append((i, base + dt.timedelta(minutes=i), text))
    # duplicates 2 minutes after their originals (inside 1h watermark)
    for i in range(10):
        rows.append((100 + i, base + dt.timedelta(minutes=i, seconds=120), f"unique doc {i}"))
    df = spark.createDataFrame(rows, "doc_id long, ts timestamp, text string")
    src = str(tmp_path / "docs_stream")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string").parquet(src)
    )
    run_to_memory_sink(streaming_dedup(stream), "t_dedup", output_mode="append")
    out = spark.sql("select * from t_dedup").collect()
    assert len(out) == 40, "exactly one survivor per distinct text"
    texts = [r.text for r in out]
    assert len(set(texts)) == 40


def test_x166_full_outer_asymmetric_cutoffs(spark, tmp_path, monkeypatch):
    """Pin the full-outer null-emission rules on a hand-built stream:
    purchases finalize at ``ts < wm`` but clicks only at
    ``ts < wm - 30 min`` (a click can match purchases up to 30
    minutes after it, so its state lives 30 minutes longer).  The
    probe click inside (wm - 30 min, wm) must NOT emit."""
    import datetime as dt
    import os
    import tempfile

    import pandas as pd

    from go_mapreduce_spark.streaming import events as SE

    base = str(tmp_path / "x166_micro")
    os.makedirs(base)
    # keep the replay copy of this throwaway input under the test's own dir
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda i, h, m, u, t: dict(
        event_id=i, ts=t0 + dt.timedelta(hours=h, minutes=m), user_id=u,
        event_type=t, value=1.0, props="{}",
    )
    rows = [
        mk(1, 0, 0, 1, "purchase"),   # < cut → null-click row
        mk(2, 5, 0, 2, "click"),      # branch max; > cut → withheld
        mk(3, 4, 45, 3, "click"),     # > cut → withheld
        mk(4, 3, 45, 4, "purchase"),  # < cut → null-click row
        mk(5, 5, 0, 5, "purchase"),   # branch max; ≥ cut → withheld
        mk(6, 3, 40, 6, "click"),     # in (cut-30m, cut) → withheld
        mk(7, 2, 0, 7, "click"),      # < cut-30m → null-purchase row
    ]
    pd.DataFrame(rows).to_parquet(os.path.join(base, "events.parquet"))
    got = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in SE.x166_stream_full_join(spark, base).collect()
    }
    # cut = min-branch max (5h) - 1h watermark = t0+4h
    assert got == {(1, 1, None), (4, 4, None), (7, None, 7)}
    wm = SE.REPLAY_FINAL_WATERMARK["x166"]
    assert wm == "2024-01-01T04:00:00.000Z"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_x166_nulls_match_actual_watermark(spark, sf):
    """Version-bump guard (x135 pattern): recompute both expected
    null sets from the watermark the replay ACTUALLY reached rather
    than the fitted min-branch cutoff formula."""
    import datetime as dt

    from go_mapreduce_spark.streaming import events as SE

    sf_dir = f"/root/testdata/{sf}"
    out = SE.x166_stream_full_join(spark, sf_dir).collect()
    got_pnull = {r.purchase_id for r in out if r.click_id is None}
    got_cnull = {r.click_id for r in out if r.purchase_id is None}
    wm_s = SE.REPLAY_FINAL_WATERMARK["x166"]
    assert wm_s
    wm = dt.datetime.strptime(wm_s, "%Y-%m-%dT%H:%M:%S.%fZ")

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    cond = (
        (F.col("user_id") == F.col("cu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 minutes"))
    )
    want_pnull = {
        r.purchase_id
        for r in p.join(c, cond, "left_anti").where(F.col("pts") < F.lit(wm)).collect()
    }
    want_cnull = {
        r.click_id
        for r in c.join(p, cond, "left_anti")
        .where(F.col("cts") < F.lit(wm) - F.expr("INTERVAL 30 minutes"))
        .collect()
    }
    assert got_pnull == want_pnull
    assert got_cnull == want_cnull


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_x168_windows_match_actual_watermark(spark, sf):
    """Chained-stateful guard: the join propagates ``wm − 30 min``
    downstream, so finalized windows are exactly those ending at or
    before that — recomputed from the watermark the replay ACTUALLY
    reached, not the fitted formula."""
    import datetime as dt

    from go_mapreduce_spark.streaming import events as SE

    sf_dir = f"/root/testdata/{sf}"
    got = {
        (r.window_start, r.n_attributed)
        for r in SE.x168_stream_attributed_windows(spark, sf_dir).collect()
    }
    wm_s = SE.REPLAY_FINAL_WATERMARK["x168"]
    assert wm_s
    wm = dt.datetime.strptime(wm_s, "%Y-%m-%dT%H:%M:%S.%fZ")

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("cu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 minutes")),
    )
    want = {
        (r.window_start, r.n_attributed)
        for r in j.groupBy(F.date_trunc("hour", "pts").alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_attributed"))
        .where(
            F.col("window_start") + F.expr("INTERVAL 1 hour")
            <= F.lit(wm) - F.expr("INTERVAL 30 minutes")
        )
        .collect()
    }
    assert got == want
