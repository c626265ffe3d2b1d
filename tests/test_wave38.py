"""Wave-38 property tests: CUSUM argmax vs brute force, NTILE balance
and recompute, merged-interval coverage vs brute force, HHI bounds."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


def test_x246_matches_brute_force_cusum(spark, sf_dir):
    from go_mapreduce_spark.operators import stats as ST
    from go_mapreduce_spark.sources.registry import load_table

    got = {r.event_type: r for r in ST.x246_cusum_changepoint(spark, sf_dir).collect()}
    rows = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    )
    series: dict[str, list] = {}
    for r in rows:
        series.setdefault(r.event_type, []).append((r.d, r.x))
    for typ, pts in series.items():
        pts.sort()
        total = sum(x for _, x in pts)
        n = len(pts)
        cum, best = 0, None
        for t, (d, x) in enumerate(pts, start=1):
            cum += x
            dev = n * cum - t * total  # scaled integer CUSUM
            if best is None or abs(dev) > abs(best[0]):
                best = (dev, d)
        assert got[typ].n_days == n
        assert got[typ].change_day == best[1]
        assert abs(got[typ].cusum_dev - best[0] / n) < 1e-6


def test_x247_tiles_balanced_and_match_ntile(spark, sf_dir):
    from go_mapreduce_spark.operators import analytics as AN
    from go_mapreduce_spark.sources.registry import load_table

    seg = AN.x247_rfm_segments(spark, sf_dir).collect()
    n_cust = (
        load_table(spark, sf_dir, "orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in seg) == n_cust
    # every tile on every axis holds floor(n/5) or ceil(n/5) customers
    k = AN.RFM_TILES
    lo, hi = n_cust // k, -(-n_cust // k)
    for axis in ("r_score", "f_score", "m_score"):
        per_tile: dict[int, int] = {}
        for r in seg:
            per_tile[r[axis]] = per_tile.get(r[axis], 0) + r.n_customers
        assert set(per_tile) == set(range(1, k + 1))
        assert all(lo <= v <= hi for v in per_tile.values())


def test_x247_ntile_formula_matches_ansi_rule(spark, sf_dir):
    """The closed-form tile assignment reproduces ANSI NTILE for every
    (n, k) shape including remainders and n < k."""
    from go_mapreduce_spark.operators.analytics import _ntile_from_rank

    for n in (3, 5, 7, 10, 23):
        for k in (5, 4):
            df = spark.range(1, n + 1).select(
                F.col("id").alias("rn"),
                _ntile_from_rank(F.col("id"), n, k).cast("int").alias("tile"),
            )
            got = [r.tile for r in df.orderBy("rn").collect()]
            q, rem = divmod(n, k)
            want = []
            for tile in range(1, k + 1):
                want += [tile] * (q + 1 if tile <= rem else q)
            assert got == want[:n], (n, k, got)


def test_x248_matches_brute_force_union(spark, sf_dir):
    from go_mapreduce_spark.operators import analytics as AN
    from go_mapreduce_spark.sources.registry import load_table

    got = {r.user_id: r for r in AN.x248_interval_coverage(spark, sf_dir).collect()}
    rows = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.unix_micros("ts").alias("s"))
        .collect()
    )
    ttl = AN.COVERAGE_TTL_S * 1_000_000
    per_user: dict[int, list[int]] = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.s)
    for uid, starts in per_user.items():
        starts.sort()
        islands, cur_s, cur_e = 0, None, None
        covered = 0
        for s in starts:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                islands, cur_s, cur_e = islands + 1, s, s + ttl
            else:
                cur_e = max(cur_e, s + ttl)
        covered += cur_e - cur_s
        assert got[uid].n_islands == islands, uid
        assert got[uid].covered_us == covered, uid


def test_x249_hhi_bounds(spark, sf_dir):
    from go_mapreduce_spark.operators import stats as ST

    rows = ST.x249_market_concentration(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # HHI of n equal shares is 10000/n; monopoly is 10000
        assert 10000 / r.n_suppliers - 1e-3 <= r.hhi <= 10000 + 1e-6
        assert 0 < r.top_share <= 1
        # the top supplier alone contributes top_share^2 * 10000
        assert r.hhi >= r.top_share**2 * 10000 - 1e-3


def test_x248_touching_intervals_merge(spark, tmp_path):
    """Intervals whose start equals the running end must merge
    (strictly-after comparison), not open a new island."""
    from go_mapreduce_spark.operators.analytics import COVERAGE_TTL_S
    import go_mapreduce_spark.operators.analytics as AN

    base = datetime.datetime(2024, 1, 1)
    ttl = COVERAGE_TTL_S
    df = spark.createDataFrame(
        [
            (1, 1, base),
            (1, 2, base + datetime.timedelta(seconds=ttl)),  # touches: merge
            (1, 3, base + datetime.timedelta(seconds=3 * ttl)),  # gap: new
        ],
        "user_id long, event_id long, ts timestamp",
    )
    import os

    d = str(tmp_path)
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {r.user_id: r for r in AN.x248_interval_coverage(spark, d).collect()}
    assert got[1].n_islands == 2
    assert got[1].covered_us == (2 * ttl + ttl) * 1_000_000
