"""Wave-51 tests: sketch-intersection error bound, latency percentile
recompute, vacuum retention semantics."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_x284_intersection_error_bounded(spark, sf_dir):
    from go_mapreduce_spark.operators import sketches as SK

    r = SK.x284_sketch_intersection(spark, sf_dir).collect()[0]
    assert r.exact_intersection > 0
    assert r.n_view >= r.exact_intersection
    assert r.n_purchase >= r.exact_intersection
    # the in-plan contract flags (pinned TRUE by the bound oracle):
    # per-segment HLL within 5%, union inequality, and the
    # inclusion-exclusion intersection within the honest 10%
    assert r.seg_est_ok and r.union_le_sum and r.inter_rel_err_ok, r


def test_x285_matches_brute_force_latency(spark, sf_dir):
    from go_mapreduce_spark.operators import analytics as AN
    from go_mapreduce_spark.sources.registry import load_table

    got = AN.x285_conversion_latency(spark, sf_dir).collect()[0]
    rows = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", F.unix_micros("ts").alias("us"))
        .collect()
    )
    views: dict = {}
    for r in rows:
        if r.event_type == "view":
            views[r.user_id] = min(views.get(r.user_id, r.us), r.us)
    lats: dict = {}
    for r in rows:
        if r.event_type == "click" and r.user_id in views and r.us >= views[r.user_id]:
            lats[r.user_id] = min(lats.get(r.user_id, r.us), r.us)
    vals = sorted(lats[u] - views[u] for u in lats)
    assert got.n_converting_users == len(vals)

    def q(p):
        h = (len(vals) - 1) * p
        lo, hi = int(h), min(int(h) + 1, len(vals) - 1)
        return (vals[lo] + (h - lo) * (vals[hi] - vals[lo])) / 1e6

    assert abs(got.p50_s - q(0.5)) < 1e-3
    assert abs(got.p90_s - q(0.9)) < 1e-3
    assert abs(got.mean_s - sum(vals) / len(vals) / 1e6) < 1e-3


def test_x286_vacuum_keeps_current_and_reaps_history(spark, sf_dir, scratch_dirs):
    from go_mapreduce_spark import lakehouse as LH
    from go_mapreduce_spark.sources.registry import load_table

    r = LH.x286_vacuum_audit(spark, sf_dir).collect()[0]
    assert r.files_reclaimed and r.n_versions_reaped == 2
    root = scratch_dirs["x286"]
    # the current snapshot still reads exactly; reaped versions error
    want = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 8 < 2)
        .count()
    )
    assert LH.read_table(spark, root).count() == want == r.n_rows
    import pytest

    with pytest.raises(FileNotFoundError):
        LH.read_manifest(root, 1)
