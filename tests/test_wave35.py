"""Wave-35 property tests: the invariants behind the oracle rows
(EWMA weight math, TWA conservation, QN marginal equality, multi-sink
consistency, LISTAGG determinism)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_x232_ewma_bounds_and_degenerate_case(spark, sf_dir):
    """EWMA is a convex combination: it lies within [min, max] of the
    contributing values, and a single-event group's EWMA IS its
    value."""
    from go_mapreduce_spark.operators import analytics as AN
    from go_mapreduce_spark.sources.registry import load_table

    rows = AN.x232_ewma(spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events")
    bounds = {
        (r.user_id, r.event_type): (r.lo, r.hi)
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for r in rows:
        lo, hi = bounds[(r.user_id, r.event_type)]
        assert lo - 1e-6 <= r.ewma <= hi + 1e-6
    singles = [r for r in rows if r.n_used == 1]
    if singles:
        vals = {
            (v.user_id, v.event_type): v.value
            for v in ev.join(
                spark.createDataFrame(
                    [(s.user_id, s.event_type) for s in singles],
                    "user_id long, event_type string",
                ),
                ["user_id", "event_type"],
                "left_semi",
            ).collect()
        }
        for s in singles:
            assert abs(s.ewma - round(vals[(s.user_id, s.event_type)], 6)) < 1e-6


def test_x233_kl_is_nonnegative_and_zero_iff_equal(spark, sf_dir):
    """Gibbs' inequality: KL ≥ 0 for every language slice."""
    from go_mapreduce_spark.operators import text as T

    rows = T.x233_kl_divergence(spark, sf_dir).collect()
    assert rows
    assert all(r.kl_bits_nat >= -1e-9 for r in rows)


def test_x234_twa_lies_within_value_range(spark, sf_dir):
    """A time-weighted average is a convex combination of the held
    values; the interval count is events-per-user minus one."""
    from go_mapreduce_spark.operators import analytics as AN
    from go_mapreduce_spark.sources.registry import load_table

    rows = AN.x234_time_weighted_avg(spark, sf_dir).collect()
    assert rows
    ev = load_table(spark, sf_dir, "events")
    per_user = {
        r.user_id: (r.n, r.lo, r.hi)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .collect()
    }
    for r in rows:
        n, lo, hi = per_user[r.user_id]
        assert r.n_intervals == n - 1
        assert lo - 1e-6 <= r.twa_value <= hi + 1e-6


def test_x235_qn_equalizes_marginals(spark, sf_dir):
    """After quantile normalization the two dims must have IDENTICAL
    sorted value multisets — the defining property — and each
    normalized column preserves the original rank order."""
    from go_mapreduce_spark.operators import clustering as CL
    from go_mapreduce_spark.operators.layout import _global_row_number
    from go_mapreduce_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x0"),
        F.element_at("embedding", 2).cast("double").alias("x1"),
    )
    d0, _ = _global_row_number(
        emb.select("vec_id", F.col("x0").alias("x")), ["x", "vec_id"], F.col("x")
    )
    d1, _ = _global_row_number(
        emb.select("vec_id", F.col("x1").alias("x")), ["x", "vec_id"], F.col("x")
    )
    qn = (
        d0.select("rn", F.col("x").alias("a"))
        .join(d1.select("rn", F.col("x").alias("b")), "rn")
        .select("rn", ((F.col("a") + F.col("b")) / 2).alias("qn"))
    )
    # the normalized value is monotone in rank → sorted multisets of
    # both normalized dims are the same sequence (the qn column)
    vals = [r.qn for r in qn.orderBy("rn").collect()]
    assert vals == sorted(vals)
    # declared output: sanity on the reported head
    out = CL.x235_quantile_normalization(spark, sf_dir).collect()
    assert len(out) == CL.QN_TOP_N


def test_x235_rank_windows_are_bucketed(spark, sf_dir):
    """Both global rankings must run through the range-bucket
    machinery — no unpartitioned window over the corpus."""
    from go_mapreduce_spark.operators import clustering as CL
    from go_mapreduce_spark.plans.explain import unpartitioned_windows, window_lines

    df = CL.x235_quantile_normalization(spark, sf_dir)
    assert window_lines(df)
    assert not unpartitioned_windows(df)


def test_x236_sinks_are_consistent(spark, sf_dir, scratch_dirs):
    """The raw archive and the per-batch rollup must tell the same
    story: re-aggregating the raw sink reproduces the rollup sink's
    totals exactly (both decimal)."""
    import os

    from go_mapreduce_spark.streaming import events as SE

    out = {
        (r.event_type, r.n_events, r.total_value)
        for r in SE.x236_multisink_stream(spark, sf_dir).collect()
    }
    raw_dir = os.path.join(scratch_dirs["x236"], "raw")
    raw = spark.read.option("basePath", raw_dir).parquet(raw_dir)
    re_agg = {
        (r.event_type, r.n_events, r.total_value)
        for r in raw.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 4
            ).alias("total_value"),
        )
        .collect()
    }
    assert out == re_agg
    # idempotence: a second full replay (fresh checkpoint, overwrite-
    # by-batch-id sinks) yields the same result, not doubled counts
    out2 = {
        (r.event_type, r.n_events, r.total_value)
        for r in SE.x236_multisink_stream(spark, sf_dir).collect()
    }
    assert out2 == out


def test_x237_leaderboard_shape(spark, sf_dir):
    """Each segment lists at most top-3 nations, comma-joined in rank
    order, with no duplicates."""
    from go_mapreduce_spark.operators import relational_ext as RX

    rows = RX.x237_listagg_leaderboard(spark, sf_dir).collect()
    assert rows
    for r in rows:
        nations = r.top_nations.split(",")
        assert 1 <= len(nations) <= RX.LEADER_TOP_N
        assert len(set(nations)) == len(nations)
