"""Statistical testing & diagnostics: Benford's-law audit, Welch's
t-test, Mann-Whitney rank-sum, autocorrelation, CUSUM changepoint.

The hypothesis-testing family a data platform runs over its own
output — fraud/quality audits (Benford), A/B comparisons (Welch,
Mann-Whitney), and time-series diagnostics (ACF, CUSUM).  The
reference engine (``/root/reference/mapreduce/mapreduce.go:130-219``)
expresses any such statistic as a map+reduce pair; here each test is
one or two Catalyst aggregates with the test statistic assembled from
sufficient statistics — never a collected sample.

Scale notes:
- Every test reduces the fact table to O(1) or O(groups) sufficient
  statistics (counts, decimal sums, sums of squares, per-tie-group
  rank sums) with map-side partial aggregation; the closed-form
  statistic is computed IN the plan on the reduced relation.
- Sums that feed a reported number go through exact decimal
  (``functions/numeric.py`` rules) so results are bit-identical at
  any partition count — a p-value that changes on re-run is a
  support ticket.
- Mann-Whitney needs exact global ranks; it reuses the range-bucketed
  ``layout._global_row_number`` machinery (no unpartitioned window),
  and tie-averaged ranks make the bucket tiebreak irrelevant.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_mapreduce_spark.functions.numeric import DECIMAL_T, dsum, dsum_expr
from go_mapreduce_spark.sources.registry import load_table

# ---------------------------------------------------------------------------
# x242 — Benford first-digit audit (wave 37)
# ---------------------------------------------------------------------------

# Expected first-digit probabilities log10(1 + 1/d), fixed to 10
# decimals and injected as LITERALS into both the Spark plan and the
# DuckDB oracle — the two engines' libm log10 may differ in the last
# ulp, so the contract pins the constants instead.
BENFORD_EXPECTED = {d: round(math.log10(1.0 + 1.0 / d), 10) for d in range(1, 10)}


def x242_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance audit of ``l_extendedprice``: the
    observed first-significant-digit distribution vs the Benford
    expectation, with the per-digit chi-square contribution — the
    standard forensic-accounting screen for fabricated numeric data.

    The first significant digit comes from a regexp on the string
    form (first ``[1-9]``) — robust to magnitude and identical in
    both engines, unlike ``floor(log10(x))`` whose last-ulp behavior
    at exact powers of ten is libm-dependent.  One grouped count (9
    groups, map-side combined); the expected values are module-level
    literals shared with the oracle.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    digits = li.filter(F.col("l_extendedprice") > 0).select(
        F.regexp_extract(F.col("l_extendedprice").cast("string"), "[1-9]", 0)
        .cast("int")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("n_total"))
    expected = F.create_map(
        *[
            c
            for d, p in BENFORD_EXPECTED.items()
            for c in (F.lit(d), F.lit(p))
        ]
    )
    p_obs = F.col("n") / F.col("n_total")
    p_exp = F.element_at(expected, F.col("digit"))
    return (
        counts.crossJoin(F.broadcast(total))  # 1-row total: safe broadcast
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n"),
            F.round(p_obs, 6).alias("observed_p"),
            F.round(p_exp, 6).alias("expected_p"),
            F.round(
                F.col("n_total") * (p_obs - p_exp) * (p_obs - p_exp) / p_exp, 6
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# x243 — Welch's unequal-variance t-test (wave 37)
# ---------------------------------------------------------------------------

TTEST_SEG_A = "BUILDING"
TTEST_SEG_B = "MACHINERY"


def x243_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test on order value between the
    ``BUILDING`` and ``MACHINERY`` customer segments: means, the
    t-statistic, and the Welch-Satterthwaite degrees of freedom —
    the A/B-comparison primitive that tolerates unequal variances.

    One conditional aggregate over the joined fact computes all six
    sufficient statistics (n, Σx, Σx²) per arm in a single scan
    (decimal sums per numeric.py); the statistic is closed-form
    scalar arithmetic on the 1-row result.  The customer join is
    AQE-decided (no data-sized broadcast hint, per the x138 rule).
    """
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    sample = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_mktsegment").isin(TTEST_SEG_A, TTEST_SEG_B))
        .select(
            (F.col("c_mktsegment") == TTEST_SEG_A).alias("is_a"),
            F.col("o_totalprice").alias("x"),
        )
    )

    def arm(flag: bool, suffix: str) -> list:
        cond = F.col("is_a") if flag else ~F.col("is_a")
        x = F.when(cond, F.col("x"))
        return [
            F.count(x).alias(f"n_{suffix}"),
            F.sum(x.cast(DECIMAL_T)).cast("double").alias(f"s_{suffix}"),
            F.sum((x * x).cast(DECIMAL_T)).cast("double").alias(f"ss_{suffix}"),
        ]

    stats = sample.agg(*arm(True, "a"), *arm(False, "b"))
    n_a, n_b = F.col("n_a"), F.col("n_b")
    m_a, m_b = F.col("s_a") / n_a, F.col("s_b") / n_b
    # sample variance from exact sums: (Σx² − (Σx)²/n) / (n−1)
    v_a = (F.col("ss_a") - F.col("s_a") * F.col("s_a") / n_a) / (n_a - 1)
    v_b = (F.col("ss_b") - F.col("s_b") * F.col("s_b") / n_b) / (n_b - 1)
    se_a, se_b = v_a / n_a, v_b / n_b
    t = (m_a - m_b) / F.sqrt(se_a + se_b)
    dof = ((se_a + se_b) * (se_a + se_b)) / (
        se_a * se_a / (n_a - 1) + se_b * se_b / (n_b - 1)
    )
    return stats.select(
        n_a.cast("bigint").alias("n_a"),
        n_b.cast("bigint").alias("n_b"),
        F.round(m_a, 6).alias("mean_a"),
        F.round(m_b, 6).alias("mean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dof, 6).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# x244 — Mann-Whitney U rank-sum test (wave 37)
# ---------------------------------------------------------------------------


def x244_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test (Wilcoxon rank-sum) on order value between
    the same two segments as x243 — the non-parametric counterpart
    that compares distributions by rank, robust to the heavy right
    tail order values actually have.

    Exact tie-averaged ranks WITHOUT an unpartitioned window: global
    ``row_number`` comes from the range-bucketed
    ``layout._global_row_number`` machinery, then ranks are averaged
    per distinct value (ties share a value, so the per-value mean of
    consecutive row numbers IS the textbook mid-rank, and the bucket
    tiebreak cancels out).  U, the tie-corrected variance, and the
    normal-approximation z are closed-form on the per-value relation
    (cardinality ≤ distinct prices).  Rank-sum products go through
    decimal so R_A is exact at any scale (rank sums reach N² — past
    2^53 on a 100 TB fact).
    """
    from go_mapreduce_spark.operators.layout import _global_row_number

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    sample = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_mktsegment").isin(TTEST_SEG_A, TTEST_SEG_B))
        .select(
            F.col("o_totalprice").alias("val"),
            "o_orderkey",
            (F.col("c_mktsegment") == TTEST_SEG_A).alias("is_a"),
        )
    )
    ranked, _ = _global_row_number(
        sample, ["val", "o_orderkey"], F.col("val"), rn="rn"
    )
    ties = ranked.groupBy("val").agg(
        F.avg("rn").alias("arank"),  # mid-rank; exact (integer sums)
        F.count(F.lit(1)).alias("t"),
        F.sum(F.col("is_a").cast("int")).alias("t_a"),
    )
    agg = ties.agg(
        F.sum("t_a").cast("bigint").alias("n_a"),
        F.sum(F.col("t") - F.col("t_a")).cast("bigint").alias("n_b"),
        dsum_expr("arank * t_a", "r_a"),
        dsum_expr("t * t * t - t", "tie_cube"),
    )
    # statistic arithmetic in double throughout: n_a*n_b and rank sums
    # overflow int64 once N passes ~3e9 rows (certain at 100 TB)
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    n = n_a + n_b
    u_a = F.col("r_a") - n_a * (n_a + 1) / 2
    mu = n_a * n_b / 2
    var = (
        n_a * n_b / 12.0
        * ((n + 1) - F.col("tie_cube") / (n * (n - 1)))
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round(u_a, 6).alias("u_a"),
        F.round((u_a - mu) / F.sqrt(var), 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# x245 — autocorrelation of daily revenue (wave 37)
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 14


def x245_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily order-revenue series at
    calendar lags 1..``ACF_MAX_LAG`` — the seasonality screen (a
    weekly cycle shows as a lag-7 peak) every forecasting pipeline
    runs before model choice.

    The fact table reduces to one row per day FIRST (decimal sums),
    so everything after is metadata-sized (~2.4k days here; ~36.5k
    rows even for a century of data).  Lagged pairs come from a
    calendar self-join on ``date_add`` (days with no orders simply
    contribute no pair — calendar lag, not row lag), the mean enters
    as a 1-row broadcast, and deviation products are summed through
    decimal for bit-stable ratios.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(dsum(F.col("o_totalprice"), "rev"))
    )
    gstats = daily.agg(
        (dsum(F.col("rev"), "s").cast("double") / F.count(F.lit(1))).alias("mean"),
        F.count(F.lit(1)).alias("n_days"),
    )
    dev = daily.crossJoin(F.broadcast(gstats)).select(
        "d", (F.col("rev") - F.col("mean")).alias("dev")
    )
    denom = dev.agg(dsum_expr("dev * dev", "ss"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a = dev.alias("a")
    b = dev.crossJoin(F.broadcast(lags)).alias("b")
    pairs = a.join(
        b, F.col("b.d") == F.expr("date_add(a.d, b.lag)"), "inner"
    ).select(F.col("b.lag").alias("lag"), (F.col("a.dev") * F.col("b.dev")).alias("p"))
    return (
        pairs.groupBy("lag")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"), dsum_expr("p", "num"))
        .crossJoin(F.broadcast(denom))  # 1-row denominator
        .select(
            "lag",
            "n_pairs",
            F.round(F.col("num") / F.col("ss"), 6).alias("acf"),
        )
        .orderBy("lag")
    )

# ---------------------------------------------------------------------------
# x246 — CUSUM changepoint detection (wave 38)
# ---------------------------------------------------------------------------


def x246_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan per event type: the day where the
    cumulative deviation of daily event counts from the series mean
    peaks in magnitude — the classic level-shift detector every
    pipeline-health monitor runs on its volume series.

    All arithmetic stays in exact integers until the final report:
    the scaled statistic ``n_days·cum_t − t·total`` equals
    ``n_days · Σ_{i≤t}(x_i − mean)`` and avoids any running float
    sum (window-order float accumulation is engine-dependent).  The
    fact table reduces to one row per (type, day) first, so windows
    run on the metadata-sized series — safe BY CONSTRUCTION
    (cardinality = distinct days per type); the argmax is a
    ``max(struct)`` with earliest-day tiebreak.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("event_type").orderBy("d")
    cum = daily.select(
        "event_type",
        "d",
        F.row_number().over(w).alias("t"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
    )
    totals = daily.groupBy("event_type").agg(
        F.sum("x").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    # one row per event type: schema-bounded broadcast
    scored = cum.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "d",
        "n_days",
        (F.col("n_days") * F.col("cum") - F.col("t") * F.col("total")).alias(
            "dev_scaled"
        ),
    )
    best = scored.groupBy("event_type", "n_days").agg(
        F.max(
            F.struct(
                F.abs(F.col("dev_scaled")).alias("a"),
                (-F.unix_date(F.col("d"))).alias("neg_epoch"),
                F.col("d").alias("d"),
                F.col("dev_scaled").alias("dev"),
            )
        ).alias("m")
    )
    return best.select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("m.d").alias("change_day"),
        F.round(F.col("m.dev") / F.col("n_days"), 6).alias("cusum_dev"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# x249 — Herfindahl-Hirschman market concentration (wave 38)
# ---------------------------------------------------------------------------


def x249_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation: the
    Herfindahl-Hirschman index (Σ share² × 10 000, the antitrust
    yardstick) plus the top supplier's share — "is this nation's
    supply a monopoly?" over the lineitem revenue flow.

    Revenue reduces to one decimal-summed row per (nation, supplier)
    — the only fact-table pass; shares, HHI, and top-share are then
    per-nation aggregates on the supplier-sized relation, with the
    share-square sum through decimal for bit-stable output.  nation
    (25 rows, contract-bounded) is broadcast-hinted; supplier is a
    data-sized base table that scales with SF, so it gets NO hint —
    AQE broadcasts it at fixture scale and falls back to a shuffled
    join once it outgrows the threshold.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(dsum_expr("l_extendedprice * (1 - l_discount)", "rev"))
    )
    w_tot = rev.groupBy("n_name").agg(
        dsum(F.col("rev"), "nation_rev"), F.count(F.lit(1)).alias("n_suppliers")
    )
    shared = rev.join(w_tot, "n_name").select(
        "n_name", "n_suppliers", (F.col("rev") / F.col("nation_rev")).alias("share")
    )
    return (
        shared.groupBy("n_name", "n_suppliers")
        .agg(
            F.round(dsum_expr("share * share", "s2") * 10000, 6).alias("hhi"),
            F.round(F.max("share"), 6).alias("top_share"),
        )
        .select(
            "n_name",
            F.col("n_suppliers").cast("bigint").alias("n_suppliers"),
            "hhi",
            "top_share",
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# x254 — deterministic Poisson bootstrap CI (wave 40)
# ---------------------------------------------------------------------------

BOOTSTRAP_B = 40
# Poisson(1) CDF thresholds as 4-hex-digit string cutpoints: a row's
# replicate weight is decided by comparing the first 4 hex chars of
# sha256(key|b) against these LEXICOGRAPHICALLY — the x37 trick, so
# both engines agree without any hex→int parsing.  ceil(cdf·65536):
# P(0)=.36788→0x5e2e, P(≤1)=.73576→0xbc5c, P(≤2)=.91970→0xeb75,
# P(≤3)=.98101→0xfb24; else weight 4 (P≈1.9%, truncation bias <1e-3).
BOOTSTRAP_CUTS = ("5e2e", "bc5c", "eb75", "fb24")
BOOTSTRAP_CHUNKS = 5  # 40/5 = 8 replicates → ≤18 agg buffers per pass


def _bootstrap_weight(h4):
    w = F.lit(4)
    for i, cut in reversed(list(enumerate(BOOTSTRAP_CUTS))):
        w = F.when(h4 < F.lit(cut), F.lit(i)).otherwise(w)
    return w


def _bootstrap_weight_sql(h4_sql: str) -> str:
    """SQL-text twin of :func:`_bootstrap_weight`: the CASE ladder is
    equivalently the count of cutpoints ≤ the window — four string
    comparisons summed, a flatter expression tree."""
    return "(" + " + ".join(
        f"CAST({h4_sql} >= '{cut}' AS INT)" for cut in BOOTSTRAP_CUTS
    ) + ")"


def x254_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean order value via
    the Poisson bootstrap — the resampling scheme that actually works
    distributed: instead of drawing n rows WITH replacement (which
    needs global coordination), each row independently receives a
    Poisson(1) replicate weight, which converges to the multinomial
    bootstrap as n grows (Chamandy et al., "Estimating Uncertainty
    for Massively Parallel Algorithms", Google 2012).

    Weights are DETERMINISTIC: sha256(orderkey|replicate) hex-prefix
    compared against Poisson-CDF cutpoint strings (the x37 content-
    hash discipline), so every engine and every retry resamples
    identically — a CI that changes on recompute is not a statistic.
    B is a compile-time constant, so there is NO replicate row
    fan-out (the round-7 verdict's residual finding: the previous
    40-slot posexplode re-evaluated the inline substring array per
    GENERATED row — 40×40 substr evals per input row, the exact x320
    anti-pattern): each replicate's (Σw·x, Σw) is a conditional
    aggregate over named weight columns, split into
    ``BOOTSTRAP_CHUNKS`` corpus passes of 2·B/chunks (+2 totals in
    chunk 0) buffers each so every pass stays inside whole-stage
    codegen; each pass hashes ONE seed per row (one sha256 yields 16
    independent 4-hex weight windows).  The chunk 1-row outputs
    recombine with free cross joins; the interval is an exact
    linear-interpolated percentile over the B-slot replicate-mean
    array (exploded from one row — generator input is 1 row, so the
    re-eval tax is gone by construction).

    Driver-cost note (measured round 8, sf0.1 local[32]): the data
    work here is ~0.3 s — cold-call wall is DRIVER overhead, and
    building the chunk expressions as SQL text (selectExpr/F.expr)
    instead of nested Column objects cut it 5.8→2.1 s: every PySpark
    transformation analyzes eagerly, so hundreds of Py4J-built Column
    trees pay both the round-trips and repeated incremental analysis,
    while one parsed SQL string per projection does not.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    per = BOOTSTRAP_B // BOOTSTRAP_CHUNKS
    wide = None
    for c in range(BOOTSTRAP_CHUNKS):
        bs = range(c * per + 1, (c + 1) * per + 1)
        hneed = sorted({(b - 1) // 16 for b in bs})
        # named-column hash projection: sha256 computed once per row,
        # shared by its hex windows (never inline under a generator)
        hashed = orders.selectExpr(
            "o_totalprice",
            *[
                f"sha2(concat(CAST(o_orderkey AS STRING), '|', '{i}'), 256)"
                f" AS _h{i}"
                for i in hneed
            ],
        )
        weights = hashed.selectExpr(
            "o_totalprice",
            *[
                _bootstrap_weight_sql(
                    f"substring(_h{(b - 1) // 16},"
                    f" {((b - 1) % 16) * 4 + 1}, 4)"
                )
                + f" AS _w{b}"
                for b in bs
            ],
        )
        aggs = [
            F.expr(f"sum(CAST(_w{b} * o_totalprice AS {DECIMAL_T}))").alias(
                f"_s{b}"
            )
            for b in bs
        ] + [F.expr(f"sum(_w{b})").alias(f"_c{b}") for b in bs]
        if c == 0:
            aggs = [
                F.expr(f"sum(CAST(o_totalprice AS {DECIMAL_T}))").alias(
                    "_s_tot"
                ),
                F.count(F.lit(1)).alias("_c_tot"),
            ] + aggs
        chunk = weights.agg(*aggs)
        wide = chunk if wide is None else wide.crossJoin(chunk)
    mean_arr = ", ".join(
        f"CAST(_s{b} AS DOUBLE) / _c{b}" for b in range(1, BOOTSTRAP_B + 1)
    )
    means = wide.selectExpr(
        "CAST(_s_tot AS DOUBLE) AS _s_tot_d",
        "_c_tot",
        f"explode(array({mean_arr})) AS mean_b",
    )
    return (
        means.groupBy("_s_tot_d", "_c_tot")
        .agg(
            F.round(F.expr("percentile(mean_b, 0.025)"), 6).alias("ci_lo"),
            F.round(F.expr("percentile(mean_b, 0.975)"), 6).alias("ci_hi"),
            F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        )
        .selectExpr(
            "CAST(_c_tot AS BIGINT) AS n_orders",
            "n_replicates",
            "round(_s_tot_d / _c_tot, 6) AS mean_order_value",
            "ci_lo",
            "ci_hi",
        )
    )


# ---------------------------------------------------------------------------
# x255 — two-proportion z-test (wave 40)
# ---------------------------------------------------------------------------

ZTEST_PRIORITY = "1-URGENT"


def x255_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: does the ``BUILDING`` segment place
    urgent orders at a different rate than ``MACHINERY``?  The
    pooled-variance z on conversion-style proportions — the other
    half of the A/B toolkit next to x243/x244's continuous metrics.

    One conditional aggregate produces (n, successes) per arm; the
    pooled proportion, standard error, and z are scalar arithmetic on
    the 1-row result.  Counts are exact integers, so the only float
    work is the final closed form — bit-stable by construction.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    sample = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_mktsegment").isin(TTEST_SEG_A, TTEST_SEG_B))
        .select(
            (F.col("c_mktsegment") == TTEST_SEG_A).alias("is_a"),
            (F.col("o_orderpriority") == ZTEST_PRIORITY).cast("int").alias("hit"),
        )
    )
    agg = sample.agg(
        F.count(F.when(F.col("is_a"), 1)).alias("n_a"),
        F.sum(F.when(F.col("is_a"), F.col("hit"))).alias("x_a"),
        F.count(F.when(~F.col("is_a"), 1)).alias("n_b"),
        F.sum(F.when(~F.col("is_a"), F.col("hit"))).alias("x_b"),
    )
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    x_a, x_b = F.col("x_a").cast("double"), F.col("x_b").cast("double")
    p_a, p_b = x_a / n_a, x_b / n_b
    pool = (x_a + x_b) / (n_a + n_b)
    z = (p_a - p_b) / F.sqrt(pool * (1 - pool) * (1 / n_a + 1 / n_b))
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("x_a").cast("bigint").alias("x_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("x_b").cast("bigint").alias("x_b"),
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round(z, 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# x290 — Spearman rank correlation of the daily revenue series (wave 53)
# ---------------------------------------------------------------------------


def x290_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between daily order COUNT and daily
    MEAN order value — "do busy days sell cheaper orders?" asked the
    robust way: rank correlation ignores the heavy right tail that
    makes Pearson on raw prices meaningless.

    The fact table reduces to one row per order date FIRST (decimal
    sums), so ranking runs on a metadata-sized relation — windows
    here are safe BY CONSTRUCTION (cardinality = distinct days,
    ~2.4k; ~36.5k even for a century).  Ties take textbook mid-ranks
    (``rank() + (tie_count − 1)/2``); both engines then correlate
    DOUBLED mid-ranks — integers, so every sum runs through exact
    decimal and the ratio is bit-stable (Pearson is invariant under
    the ×2 rescale).
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (dsum(F.col("o_totalprice"), "rev").cast("double")
             / F.count(F.lit(1))).alias("avg_price"),
        )
    )

    def midrank2(col: str) -> Column:
        # doubled mid-rank: 2*rank + (ties-1)  — always an integer
        return (
            2 * F.rank().over(Window.orderBy(col))
            + F.count(F.lit(1)).over(Window.partitionBy(col))
            - 1
        ).cast("bigint")

    ranked = daily.select(
        midrank2("n_orders").alias("rx"), midrank2("avg_price").alias("ry")
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        dsum_expr("rx", "sx"),
        dsum_expr("ry", "sy"),
        dsum_expr("rx * rx", "sxx"),
        dsum_expr("ry * ry", "syy"),
        dsum_expr("rx * ry", "sxy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    rho = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round(rho, 6).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# x291 — two-sample Kolmogorov–Smirnov test (wave 53)
# ---------------------------------------------------------------------------

# sqrt of the 5% / 1% critical-value coefficients c(α) = sqrt(−ln(α/2)/2),
# pinned as literals (libm-stable contract, like BENFORD_EXPECTED)
KS_C_05 = 1.3581015157406195
KS_C_01 = 1.6276236115189504


def x291_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test on the order-value
    distributions of finished (``F``) vs open (``O``) orders: the
    exact supremum distance between the two empirical CDFs, plus the
    5%/1% critical distances — the distribution-drift test that makes
    no shape assumptions at all (x243/x244's third sibling).

    Exact D WITHOUT an unpartitioned window: per-distinct-value arm
    counts (one grouped aggregate), then ``layout._global_running_sum``
    computes both cumulative counts with the range-bucketed prefix-sum
    machinery — bucket totals collected (≤ n_splits scalars), window
    partitioned by bucket.  The CDF difference at each jump point is
    integer/integer double arithmetic, bit-identical across engines;
    one max-aggregate finishes.
    """
    from go_mapreduce_spark.operators.layout import _global_running_sum

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    per_val = orders.groupBy(F.col("o_totalprice").alias("val")).agg(
        F.sum((F.col("o_orderstatus") == "F").cast("int")).alias("t_a"),
        F.sum((F.col("o_orderstatus") == "O").cast("int")).alias("t_b"),
    )
    cum = _global_running_sum(
        per_val, ["val"], F.col("val"), {"t_a": "ca", "t_b": "cb"}
    )
    # totals enter as a 1-row broadcast so the per-value diff is a
    # plain projection; D = max |ca/n_a − cb/n_b| over jump points
    totals = per_val.agg(
        F.sum("t_a").cast("bigint").alias("n_a"),
        F.sum("t_b").cast("bigint").alias("n_b"),
    )
    d = (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.max(
                F.abs(F.col("ca") / F.col("n_a") - F.col("cb") / F.col("n_b"))
            ).alias("d_stat"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    n_a, n_b = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    scale = F.sqrt((n_a + n_b) / (n_a * n_b))
    return d.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round("d_stat", 6).alias("d_stat"),
        F.round(F.lit(KS_C_05) * scale, 6).alias("crit_5pct"),
        F.round(F.lit(KS_C_01) * scale, 6).alias("crit_1pct"),
        (F.col("d_stat") > F.lit(KS_C_05) * scale).alias("reject_5pct"),
        (F.col("d_stat") > F.lit(KS_C_01) * scale).alias("reject_1pct"),
    )


# ---------------------------------------------------------------------------
# x293 — Cramér's V association matrix (wave 54)
# ---------------------------------------------------------------------------

# per-cell χ² terms are O(1/(r·c)) — tiny; 18 fractional digits keep
# the exact-sum discipline meaningful at that magnitude
_DEC_WIDE = "decimal(38,18)"


def _cramers_v(
    df: DataFrame, a: str, b: str, label: str
) -> DataFrame:
    """One (table, col_a, col_b) Cramér's V row from a contingency
    aggregate: chi² via the identity χ² = n·(Σ o²/(r·c) − 1) — only
    OBSERVED cells enter the sum (empty cells contribute 0 to it),
    so no dense grid is materialized.  Cell terms are exact-integer
    ratios in double; the Σ goes through decimal (cell count is
    |A|×|B| — float order must still not leak into a reported stat).
    """
    cells = df.groupBy(
        F.col(a).alias("a"), F.col(b).alias("b")
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = cells.groupBy("a").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("b").agg(F.sum("o").alias("ct"))
    terms = (
        cells.join(rt, "a")
        .join(ct, "b")
        .select(
            (
                F.col("o").cast("double")
                * F.col("o")
                / (F.col("rt").cast("double") * F.col("ct"))
            ).alias("term"),
            "o",
            "a",
            "b",
        )
    )
    agg = terms.agg(
        F.sum("o").alias("n"),
        F.count_distinct("a").alias("r"),
        F.count_distinct("b").alias("c"),
        F.sum(F.col("term").cast(_DEC_WIDE)).cast("double").alias("s"),
    )
    n = F.col("n").cast("double")
    chi2 = n * (F.col("s") - 1)
    dof = (F.col("r") - 1) * (F.col("c") - 1)
    v = F.sqrt(
        chi2 / (n * F.least(F.col("r") - 1, F.col("c") - 1))
    )
    return agg.select(
        F.lit(label).alias("pair"),
        F.col("n").cast("bigint").alias("n"),
        F.round(chi2, 4).alias("chi2"),
        dof.cast("bigint").alias("dof"),
        F.round(v, 6).alias("cramers_v"),
    )


def x293_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the categorical column pairs a
    profiler would screen: (order status × order priority) and
    (return flag × line status) — the chi² (x82's statistic) rescaled
    to [0, 1] so association strength is comparable ACROSS pairs with
    different table sizes and cardinalities.

    Each pair costs one contingency aggregate over its table (map-side
    combined, ≤ |A|×|B| cells) plus two tiny marginal aggregates; the
    union output is a fixed 2-row report.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        _cramers_v(
            orders, "o_orderstatus", "o_orderpriority", "orders:status_x_priority"
        )
        .unionByName(
            _cramers_v(
                li, "l_returnflag", "l_linestatus", "lineitem:flag_x_status"
            )
        )
        .orderBy("pair")
    )


# ---------------------------------------------------------------------------
# x295 — Kruskal-Wallis H test (wave 55)
# ---------------------------------------------------------------------------


def x295_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of order value across ALL five order
    priorities — x244's k-group generalization (one-way ANOVA on
    ranks): do the priority classes draw from the same value
    distribution?

    Same no-unpartitioned-window discipline as x244: global row
    numbers from ``layout._global_row_number``, tie-averaged
    mid-ranks per distinct value, per-group rank sums R_j through
    exact decimal, then the closed-form statistic (with the standard
    tie correction) on the k-row relation.  Rank sums reach N², so
    every product is summed in decimal and the final arithmetic runs
    in double.
    """
    from go_mapreduce_spark.operators.layout import _global_row_number

    sample = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("val"),
        "o_orderkey",
        F.col("o_orderpriority").alias("grp"),
    )
    ranked, _ = _global_row_number(
        sample, ["val", "o_orderkey"], F.col("val"), rn="rn"
    )
    ties = ranked.groupBy("val").agg(
        F.avg("rn").alias("arank"), F.count(F.lit(1)).alias("t")
    )
    per_gv = ranked.groupBy("val", "grp").agg(F.count(F.lit(1)).alias("c"))
    rj = (
        per_gv.join(ties, "val")
        .groupBy("grp")
        .agg(
            F.sum("c").alias("n_j"),
            dsum_expr("arank * c", "r_j"),
        )
    )
    tot = rj.agg(
        F.sum("n_j").alias("n"), F.count(F.lit(1)).alias("k")
    )
    # per-group terms normalized by n(n+1) BEFORE the decimal sum:
    # r_j²/n_j alone reaches ~N³/k² (past decimal(38,6)'s 10³² ceiling
    # on a 100 TB fact); the normalized term stays O(N)
    s2 = (
        rj.crossJoin(F.broadcast(tot))
        .select(
            F.expr("r_j * r_j / n_j / (CAST(n AS DOUBLE) * (n + 1))").alias(
                "term"
            )
        )
        .agg(dsum_expr("term", "s2"))
    )
    cube = ties.agg(dsum_expr("t * t * t - t", "tie_cube"))
    agg = tot.crossJoin(F.broadcast(s2)).crossJoin(
        F.broadcast(cube)
    )  # 1-row each: safe
    n = F.col("n").cast("double")
    h = 12.0 * F.col("s2") - 3 * (n + 1)
    corr = 1 - F.col("tie_cube") / (n * n * n - n)
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        (F.col("k") - 1).cast("bigint").alias("dof"),
        F.round(h, 6).alias("h_stat"),
        F.round(h / corr, 6).alias("h_tie_corrected"),
    )


# ---------------------------------------------------------------------------
# x296 — Benjamini-Hochberg FDR selection (wave 55)
# ---------------------------------------------------------------------------

FDR_ALPHA = 0.05
FDR_M_TESTS = 25  # one hypothesis per nation — schema-bounded


def _phi_inv_upper(q: float) -> float:
    """Φ⁻¹(1 − q) by bisection on math.erfc — stdlib-only, run once at
    import, pinned to 10 decimals.  Keeps BOTH engines' plans free of
    libm inverse-CDF calls (the BENFORD_EXPECTED discipline): the
    BH comparison happens in z-space against these literals."""
    lo, hi = 0.0, 40.0
    for _ in range(200):
        mid = (lo + hi) / 2
        # upper-tail mass beyond mid
        if math.erfc(mid / math.sqrt(2.0)) / 2.0 > q:
            lo = mid
        else:
            hi = mid
    return round((lo + hi) / 2, 10)


# BH step-up thresholds in |z| space: t_i = Φ⁻¹(1 − α·i/(2m)) — the
# two-sided p_(i) ≤ α·i/m rule, exactly, since p = erfc(|z|/√2) is
# strictly decreasing in |z|
FDR_Z_THRESHOLDS = {
    i: _phi_inv_upper(FDR_ALPHA * i / (2 * FDR_M_TESTS))
    for i in range(1, FDR_M_TESTS + 1)
}


def _nation_welch_zs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Welch z (nation's orders vs all others) from ONE
    conditional aggregate pass — shared by the x296 (BH step-up) and
    x315 (Holm step-down) multiple-testing rules."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    per_nation = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_i"),
            F.sum(F.col("o_totalprice").cast(DECIMAL_T))
            .cast("double")
            .alias("s_i"),
            F.sum(
                (F.col("o_totalprice") * F.col("o_totalprice")).cast(DECIMAL_T)
            )
            .cast("double")
            .alias("ss_i"),
        )
    )
    tot = per_nation.agg(
        F.sum("n_i").alias("n_all"),
        F.sum(F.col("s_i").cast(DECIMAL_T)).cast("double").alias("s_all"),
        F.sum(F.col("ss_i").cast(DECIMAL_T)).cast("double").alias("ss_all"),
    )
    g = per_nation.crossJoin(F.broadcast(tot))  # 25 × 1-row: safe
    n_i = F.col("n_i").cast("double")
    n_r = (F.col("n_all") - F.col("n_i")).cast("double")
    s_r = F.col("s_all") - F.col("s_i")
    ss_r = F.col("ss_all") - F.col("ss_i")
    m_i, m_r = F.col("s_i") / n_i, s_r / n_r
    v_i = (F.col("ss_i") - F.col("s_i") * F.col("s_i") / n_i) / (n_i - 1)
    v_r = (ss_r - s_r * s_r / n_r) / (n_r - 1)
    z = (m_i - m_r) / F.sqrt(v_i / n_i + v_r / n_r)
    return g.select("n_name", F.col("n_i").alias("n_orders"), z.alias("z"))


def x296_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR selection over 25 simultaneous
    hypotheses — "which nations' mean order value differs from the
    rest?" — the multiple-testing control every per-segment metrics
    sweep needs (25 uncorrected 5% tests would false-alarm ~1.2
    nations every run).

    Each nation gets a Welch z (its orders vs all others) from ONE
    conditional aggregate pass (n, Σx, Σx² per nation; the
    complement's moments are total − nation, no second scan — see
    :func:`_nation_welch_zs`).  The step-up rule runs in |z| space
    against module-literal thresholds t_i = Φ⁻¹(1 − α·i/2m) (see
    ``_phi_inv_upper``) — mathematically identical to sorting
    p-values, with zero inverse-CDF calls in either engine's plan.
    Windows are over the 25-row nation relation: safe BY CONSTRUCTION
    (cardinality = nation count).
    """
    zs = _nation_welch_zs(spark, sf_dir)
    thr_map = F.create_map(
        *[
            c
            for i, t in FDR_Z_THRESHOLDS.items()
            for c in (F.lit(i), F.lit(t))
        ]
    )
    # 25-row windows: safe BY CONSTRUCTION (cardinality = nations)
    w_rank = Window.orderBy(F.abs(F.col("z")).desc(), F.col("n_name"))
    ranked = zs.withColumn("bh_rank", F.row_number().over(w_rank)).withColumn(
        "thr", F.element_at(thr_map, F.col("bh_rank"))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    istar = F.max(
        F.when(F.abs(F.col("z")) >= F.col("thr"), F.col("bh_rank"))
    ).over(w_all)
    return (
        ranked.select(
            "n_name",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.round("z", 6).alias("z_stat"),
            F.col("bh_rank").cast("bigint").alias("bh_rank"),
            (F.col("bh_rank") <= F.coalesce(istar, F.lit(0))).alias("rejected"),
        )
        .orderBy("bh_rank")
    )


# ---------------------------------------------------------------------------
# wave 58 (round 6): ROC-AUC, Theil-Sen slope, mutual information, Levene
# ---------------------------------------------------------------------------


def x299_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of order value as a classifier score for order status
    (``F`` = positive, ``O`` = negative) — the model-evaluation metric
    every training pipeline reports, computed EXACTLY from the
    Mann-Whitney identity: AUC = P(score_pos > score_neg) + ½·P(tie).

    No per-row ranking at all: one grouped aggregate reduces the fact
    table to per-distinct-value (pos, neg) counts, the range-bucketed
    ``layout._global_running_sum`` machinery (no unpartitioned window)
    supplies cumulative negative counts in value order, and the AUC
    numerator Σ pos_v·(neg_below_v + neg_v/2) is exact integer
    arithmetic summed through decimal.  Gini = 2·AUC − 1 rides along.
    """
    from go_mapreduce_spark.operators.layout import _global_running_sum

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    per_val = orders.groupBy(F.col("o_totalprice").alias("val")).agg(
        F.sum((F.col("o_orderstatus") == "F").cast("int")).alias("pos"),
        F.sum((F.col("o_orderstatus") == "O").cast("int")).alias("neg"),
    )
    cum = _global_running_sum(per_val, ["val"], F.col("val"), {"neg": "cneg"})
    # pairs won below this value + half the tied pairs; 2× to stay
    # integer (halved after the division)
    num2 = dsum_expr("pos * (2 * (cneg - neg) + neg)", "num2")
    agg = cum.agg(
        num2,
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
    )
    auc = F.col("num2") / (
        2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double")
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(auc, 6).alias("auc"),
        F.round(2 * auc - 1, 6).alias("gini"),
    )


def x300_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily order revenue: the exact median
    of all pairwise day-to-day slopes, next to the OLS slope — the
    outlier-proof "is revenue growing?" estimator (one bad ingest day
    moves OLS, not the pairwise median).

    The fact table reduces to ONE decimal-summed row per day
    (metadata-sized: days, not orders); the pairwise self-join runs on
    that day relation only — O(days²) pairs is bounded by the
    calendar, never by data volume.  The median is the exact
    middle-element average (row_number over the slope order on the
    pair relation), not an interpolated percentile, so both engines
    agree bit-for-bit.  OLS comes from decimal sufficient statistics
    on the same day relation.
    """
    from go_mapreduce_spark.operators.layout import _global_row_number
    from go_mapreduce_spark.operators.scale import spread_for_fanout

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias("d")
    ).agg(dsum(F.col("o_totalprice"), "rev"))
    # calendar-bounded (≤ |days| rows): checkpoint once — it feeds
    # both sides of the pair fan-out plus the OLS statistics, and the
    # post-aggregate relation otherwise sits in ONE partition, so the
    # O(days²) slope fan-out ran single-task (2.2 s of the 3.1 s wall
    # at sf0.1).  Spread the probe side; the build side broadcasts.
    daily = daily.localCheckpoint()
    a, b = spread_for_fanout(daily).alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("a.d") < F.col("b.d")).select(
        (
            (F.col("b.rev") - F.col("a.rev")).cast("double")
            / (F.col("b.d") - F.col("a.d")).cast("double")
        ).alias("slope")
    )
    # pair relation: calendar²-bounded rows.  Checkpoint so the exact
    # median's rank machinery reads it instead of replaying the
    # fan-out; the rank itself is the range-bucketed
    # layout._global_row_number — the previous unpartitioned
    # row_number window funneled every pair through ONE window task.
    # The k-th order-statistic VALUES are identical either way (ties
    # share buckets; rank→value is deterministic under any tie order).
    slopes = slopes.localCheckpoint()
    ranked, n_pairs = _global_row_number(slopes, ["slope"], F.col("slope"))
    k1, k2 = (n_pairs + 1) // 2, (n_pairs + 2) // 2
    med = (
        ranked.filter(F.col("rn").isin(k1, k2))
        .agg(F.avg("slope").alias("sen_slope"))
        .select("sen_slope", F.lit(n_pairs).cast("bigint").alias("n_pairs"))
    )
    ols = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        dsum_expr("d", "sx"),
        dsum_expr("rev", "sy"),
        dsum_expr("d * rev", "sxy"),
        dsum_expr("d * d", "sxx"),
    ).select(
        "n_days",
        (
            (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("ols_slope"),
    )
    return med.crossJoin(F.broadcast(ols)).select(
        "n_days",
        "n_pairs",
        F.round("sen_slope", 6).alias("sen_slope"),
        F.round("ols_slope", 6).alias("ols_slope"),
    )


def x301_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event type and day-of-week,
    with the normalized variant MI/min(H(X), H(Y)) — the
    dependence-strength screen that catches NONLINEAR association
    Cramér's V (x293) measures only through χ².

    One contingency aggregate (|types|×7 cells, map-side combined) +
    two marginal rollups of it; every plogp term is exact-integer
    ratios in double, summed through wide decimal.  Weekday is pinned
    to 0=Sunday in both engines (Spark dayofweek()−1 = DuckDB dow).
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("x"),
        (F.dayofweek("ts") - 1).alias("y"),
    )
    cells = ev.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    rx = cells.groupBy("x").agg(F.sum("c").alias("cx"))
    cy = cells.groupBy("y").agg(F.sum("c").alias("cy"))
    tot = cells.agg(F.sum("c").alias("n"))
    n = F.col("n").cast("double")
    joined = (
        cells.join(rx, "x").join(cy, "y").crossJoin(F.broadcast(tot))
    )
    mi = joined.agg(
        F.sum(
            (
                F.col("c") / n
                * F.log(F.col("c") * n / (F.col("cx").cast("double") * F.col("cy")))
            ).cast(_DEC_WIDE)
        )
        .cast("double")
        .alias("mi"),
        F.max("n").cast("bigint").alias("n"),
    )
    hx = rx.crossJoin(F.broadcast(tot)).agg(
        F.sum((-(F.col("cx") / n) * F.log(F.col("cx") / n)).cast(_DEC_WIDE))
        .cast("double")
        .alias("hx")
    )
    hy = cy.crossJoin(F.broadcast(tot)).agg(
        F.sum((-(F.col("cy") / n) * F.log(F.col("cy") / n)).cast(_DEC_WIDE))
        .cast("double")
        .alias("hy")
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            "n",
            F.round("mi", 6).alias("mi_nats"),
            F.round(F.col("mi") / F.least("hx", "hy"), 6).alias("nmi"),
        )
    )


def x302_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test of variance
    homogeneity of event values across event types — the
    "did one stream's volatility change?" audit, and the assumption
    check Welch (x243) itself recommends before pooling variances.

    Per-group exact medians come from per-(group, distinct-value)
    counts + a cumulative window over THAT relation (value-cardinality
    -sized, not corpus-sized, so the per-group partition is safe at
    any scale), selecting the exact middle elements.  The k medians
    re-enter as a broadcast; absolute deviations reduce to per-group
    decimal sufficient statistics and the W statistic is closed-form
    on k rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), F.col("value").alias("v")
    )
    per_val = ev.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.partitionBy("g").orderBy("v")
    cum = per_val.withColumn("cumc", F.sum("c").over(wv))
    ng = per_val.groupBy("g").agg(F.sum("c").alias("n_g"))
    lo = F.floor((F.col("n_g") + 1) / 2)
    hi = F.floor((F.col("n_g") + 2) / 2)
    med = (
        cum.join(F.broadcast(ng), "g")
        .filter(F.col("cumc") - F.col("c") < hi)
        .filter(F.col("cumc") >= lo)
        .groupBy("g")
        .agg(
            (
                (
                    F.max(F.when(F.col("cumc") - F.col("c") < lo, F.col("v")))
                    + F.min(F.when(F.col("cumc") >= hi, F.col("v")))
                )
                / 2.0
            ).alias("med")
        )
    )
    z = ev.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    per_g = z.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"),
        dsum_expr("z", "sz"),
        dsum_expr("z * z", "szz"),
    )
    tot = per_g.agg(
        F.sum("n_g").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("sz").cast(_DEC_WIDE)).cast("double").alias("sz_all"),
    )
    stats = per_g.crossJoin(F.broadcast(tot)).agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("k").cast("bigint").alias("k"),
        # between-group: Σ n_g (z̄_g − z̄)²  = Σ sz_g²/n_g − sz_all²/n
        (
            F.sum((F.col("sz") * F.col("sz") / F.col("n_g")).cast(_DEC_WIDE))
            .cast("double")
            - F.max(F.col("sz_all") * F.col("sz_all") / F.col("n"))
        ).alias("ssb"),
        # within-group: Σ (szz_g − sz_g²/n_g)
        F.sum(
            (F.col("szz") - F.col("sz") * F.col("sz") / F.col("n_g")).cast(
                _DEC_WIDE
            )
        )
        .cast("double")
        .alias("ssw"),
    )
    w_stat = (
        F.col("ssb")
        / (F.col("k") - 1).cast("double")
        / (F.col("ssw") / (F.col("n") - F.col("k")).cast("double"))
    )
    return stats.select(
        "n",
        "k",
        F.round("ssb", 4).alias("ss_between"),
        F.round("ssw", 4).alias("ss_within"),
        F.round(w_stat, 6).alias("w_stat"),
    )


# ---------------------------------------------------------------------------
# x306 — per-user behavioral entropy summary (wave 59)
# ---------------------------------------------------------------------------


def x306_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-user event-type Shannon entropy (nats):
    how behaviorally diverse is the user base?  Reports user count,
    single-type users (entropy exactly 0 — the bot-suspect bucket),
    and the mean/max entropy — x81's corpus-level statistic pushed
    down to the per-entity level, the "engagement diversity" audit.

    Two grouped aggregates: (user, type) counts, then per-user entropy
    as a decimal-summed plogp over the per-user type relation; the
    final 1-row summary decimal-sums the per-user entropies.  Nothing
    is per-row beyond the first count; no windows at all.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    per_user = cnt.groupBy("user_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_types")
    )
    ent = (
        cnt.join(per_user, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n_types").alias("n_types"),
            F.sum(
                (
                    -(F.col("c") / F.col("n").cast("double"))
                    * F.log(F.col("c") / F.col("n").cast("double"))
                ).cast(_DEC_WIDE)
            )
            .cast("double")
            .alias("h"),
        )
    )
    return ent.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum((F.col("n_types") == 1).cast("int"))
        .cast("bigint")
        .alias("n_single_type"),
        F.round(
            F.sum(F.col("h").cast(_DEC_WIDE)).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("mean_entropy"),
        F.round(F.max("h"), 6).alias("max_entropy"),
    )


# ---------------------------------------------------------------------------
# x311 — exact trimmed mean per group (wave 61)
# ---------------------------------------------------------------------------

TRIM_FRAC = 0.1  # 10% off each tail


def x311_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10%-trimmed mean of order value per priority class, next
    to the plain mean — the robust location estimate that ignores both
    tails (the promo-order and the fat-finger order) without the
    information loss of a median.

    No sorting of rows anywhere: per-(group, distinct-value) counts
    carry positional intervals [cum−c+1, cum], and each value's
    contribution to the trimmed window [lo, hi] is the exact interval
    overlap — one cumulative window over the distinct-value relation
    (value-cardinality-sized, the x302 discipline) and one decimal
    weighted sum.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"), F.col("o_totalprice").alias("v")
    )
    per_val = orders.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.partitionBy("g").orderBy("v")
    cum = per_val.withColumn("cumc", F.sum("c").over(wv))
    ng = per_val.groupBy("g").agg(
        F.sum("c").alias("n_g"), dsum_expr("v * c", "sv")
    )
    k = F.floor(F.lit(TRIM_FRAC) * F.col("n_g")).cast("bigint")
    lo, hi = k + 1, F.col("n_g") - k
    contrib = (
        cum.join(F.broadcast(ng.select("g", "n_g")), "g")
        .select(
            "g",
            "v",
            F.greatest(
                F.lit(0).cast("bigint"),
                F.least(F.col("cumc"), hi)
                - F.greatest(F.col("cumc") - F.col("c") + 1, lo)
                + 1,
            ).alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    trimmed = contrib.groupBy("g").agg(
        dsum_expr("v * w", "tsum"), F.sum("w").cast("bigint").alias("n_trim")
    )
    return (
        ng.join(trimmed, "g")
        .select(
            F.col("g").alias("o_orderpriority"),
            F.col("n_g").cast("bigint").alias("n"),
            F.col("n_trim"),
            F.round(F.col("sv") / F.col("n_g").cast("double"), 6).alias("mean"),
            F.round(F.col("tsum") / F.col("n_trim").cast("double"), 6).alias(
                "trimmed_mean"
            ),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# x315 — Holm-Bonferroni step-down selection (wave 62)
# ---------------------------------------------------------------------------

# Holm step-down thresholds in |z| space: t_i = Φ⁻¹(1 − α/(2(m−i+1)))
# — the two-sided p_(i) ≤ α/(m−i+1) rule, exactly (p strictly
# decreasing in |z|), pinned as module literals like FDR_Z_THRESHOLDS
HOLM_Z_THRESHOLDS = {
    i: _phi_inv_upper(FDR_ALPHA / (2 * (FDR_M_TESTS - i + 1)))
    for i in range(1, FDR_M_TESTS + 1)
}


def x315_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm-Bonferroni step-down selection over the same 25 per-nation
    Welch hypotheses as x296 — the FAMILY-wise error control (every
    rejection guaranteed at α jointly) next to BH's false-discovery
    control: stricter, assumption-free, the right rule when a single
    false alarm is expensive.

    Step-down semantics: walk ranks in |z|-descending order and stop
    at the FIRST failure — rejected = rank < min failing rank.  Same
    shared z pass, same literal-threshold discipline, same bounded
    25-row windows.
    """
    zs = _nation_welch_zs(spark, sf_dir)
    thr_map = F.create_map(
        *[
            c
            for i, t in HOLM_Z_THRESHOLDS.items()
            for c in (F.lit(i), F.lit(t))
        ]
    )
    w_rank = Window.orderBy(F.abs(F.col("z")).desc(), F.col("n_name"))
    ranked = zs.withColumn("holm_rank", F.row_number().over(w_rank)).withColumn(
        "thr", F.element_at(thr_map, F.col("holm_rank"))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    first_fail = F.min(
        F.when(F.abs(F.col("z")) < F.col("thr"), F.col("holm_rank"))
    ).over(w_all)
    return (
        ranked.select(
            "n_name",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.round("z", 6).alias("z_stat"),
            F.col("holm_rank").cast("bigint").alias("holm_rank"),
            (
                F.col("holm_rank")
                < F.coalesce(first_fail, F.lit(FDR_M_TESTS + 1))
            ).alias("rejected"),
        )
        .orderBy("holm_rank")
    )


# ---------------------------------------------------------------------------
# x320 — deterministic relabeling (permutation) test (wave 63)
# ---------------------------------------------------------------------------

PERM_B = 64
# Corpus passes for the replicate aggregate.  2 is the measured
# optimum (round-13 sweep, tools/ab_r13_x320_chunks.py as of commit
# 96c2043, min-of-3 interleaved noop at sf0.1: 8→4.42 s, 2→3.33 s,
# 1→3.47 s, 1 with codegen.maxFields=300→3.61 s): each sha256 serves
# 16 label windows, so ≥4 chunks re-derive hashes other chunks
# already computed (8 chunks = 8 digests/row; ≤4 chunks = the
# minimal 4), while 1 chunk's
# 130 agg buffers fall out of whole-stage codegen (>100 fields) and
# give back the saved scan.  At 2 chunks: minimal hash work AND
# 2·B/chunks+2 = 66 buffers stay codegen-sized.
PERM_CHUNKS = 2
PERM_STATUS_A = "O"
PERM_STATUS_B = "F"


def x320_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo permutation test for the open-vs-finished
    (``l_linestatus``) difference in mean line-item revenue — the assumption-free significance check
    (no normality, no equal variance) that complements Welch (x243):
    under H₀ the shipmode labels are exchangeable, so re-label every
    row at random ``PERM_B`` times and ask how often the null diff is
    at least as extreme as the observed one.

    Distributed permutation à la the Poisson bootstrap (x254): a true
    global shuffle of labels needs coordination, so each replicate
    independently relabels every row A with probability n_a/n — the
    Bernoulli relabeling whose null distribution converges to the
    permutation one as n grows.  Labels are DETERMINISTIC: the row's
    sha256 hex window compared against the hex-encoded probability
    cutpoint (computed IN the plan from the group counts and carried
    as a 1-row broadcast — the x37 string-compare trick, no hex→int
    parse).  B is a compile-time constant, so there is NO replicate
    row fan-out: each replicate's (sum, count) is a conditional
    aggregate over named boolean label columns.  The 2·B+2 partials
    are split into ``PERM_CHUNKS`` corpus passes of 2·B/chunks+2
    buffers each — measured on this build, wide aggregates fall out
    of whole-stage codegen and run ~5× slower interpreted, while a
    constant number of extra column-pruned scans is cheap at any
    scale; the chunk 1-row outputs recombine with free cross joins.
    (Round-6 verdict: the previous posexplode paid a 64×
    inline-generator re-evaluation tax — 40.5 s at sf0.1; this shape
    measures ~5.4 s.  Naming the array column does NOT fix a
    generator: a single-use alias is inlined into Generate and
    re-evaluated per OUTPUT row, which is why the fan-out is gone
    entirely.)  Sums stay decimal end-to-end — bigint micros would
    overflow past ~10⁸ corpus rows.  s0/c0 derive from the totals in
    exact decimal, so each replicate's d_b is bit-identical to the
    oracle's direct conditional sums.  p = (1 + #extreme)/(B + 1),
    the add-one-estimator that never reports an exact zero.
    """
    from go_mapreduce_spark.operators.scale import spread_for_fanout

    base = load_table(spark, sf_dir, "lineitem")
    li = (
        base
        .filter(F.col("l_linestatus").isin(PERM_STATUS_A, PERM_STATUS_B))
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_linestatus") == PERM_STATUS_A).alias("is_a"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
    )
    # each chunk pass computes 4 sha256 digests per row before its
    # partial aggregate — on an under-split scan that per-row work
    # runs in ONE task per chunk (measured 4.8 s at sf0.1); spread the
    # 4-column relation so the hash work parallelizes (no-op at real
    # scale; every chunk output is a partition-invariant decimal sum)
    li = spread_for_fanout(li, probe=base)  # narrow filter+project keeps the scan split
    obs = li.agg(
        F.count(F.when(F.col("is_a"), 1)).alias("n_a"),
        dsum_expr("CASE WHEN is_a THEN rev END", "s_a"),
        F.count(F.when(~F.col("is_a"), 1)).alias("n_b"),
        dsum_expr("CASE WHEN NOT is_a THEN rev END", "s_b"),
    ).select(
        "n_a",
        "n_b",
        (F.col("s_a") / F.col("n_a") - F.col("s_b") / F.col("n_b")).alias(
            "d_obs"
        ),
        F.format_string(
            "%04x",
            F.floor(
                F.col("n_a") / (F.col("n_a") + F.col("n_b")) * F.lit(65536.0)
            ).cast("int"),
        ).alias("cut"),
    )
    # the 1-row cut/observed-diff relation feeds every chunk pass and
    # the final assembly: localCheckpoint so it computes exactly once
    # (the x319/x324 bounded-relation discipline); the cut is a
    # 4-char hex STRING, so collecting it and embedding a literal is
    # exact and keeps every chunk a single codegen stage (a broadcast
    # nested-loop join per chunk measured ~2× slower)
    obs = obs.localCheckpoint()
    cut_val = obs.select("cut").first()[0]
    per = PERM_B // PERM_CHUNKS
    # The whole replicate stage is ONE spark.sql statement — the x254
    # round-8 finding taken to its end: PySpark analyzes eagerly per
    # transformation, so the previous Column-built chunk loop paid
    # 4.3 s of Py4J build + 5.1 s of incremental analysis against
    # 0.24 s of execution at sf0.1; one statement is analyzed once
    # (measured 8.0 → ~3.5 s cold call, hash identical).
    li.createOrReplaceTempView("v_x320_li")
    obs.createOrReplaceTempView("v_x320_obs")
    ctes = []
    for c in range(PERM_CHUNKS):
        bs = list(range(c * per + 1, (c + 1) * per + 1))
        # named-column hash projection (the x254 discipline): each
        # sha256 is computed once per row, shared by its hex windows;
        # each chunk only hashes the seeds its replicates need
        hneed = sorted({(b - 1) // 16 for b in bs})
        hsel = ", ".join(
            "sha2(concat(CAST(l_orderkey AS STRING), '_', "
            f"CAST(l_linenumber AS STRING), '|perm', '{i}'), 256) AS _h{i}"
            for i in hneed
        )
        lsel = ", ".join(
            f"substring(_h{(b - 1) // 16}, {((b - 1) % 16) * 4 + 1}, 4)"
            f" < '{cut_val}' AS _lab{b}"
            for b in bs
        )
        aggs = ", ".join(
            f"sum(CAST(CASE WHEN _lab{b} THEN rev END AS {DECIMAL_T}))"
            f" AS _s1_{b}, count(CASE WHEN _lab{b} THEN 1 END) AS _c1_{b}"
            for b in bs
        )
        if c == 0:
            aggs = (
                f"sum(CAST(rev AS {DECIMAL_T})) AS _s_tot, "
                "count(1) AS _c_tot, " + aggs
            )
        ctes.append(
            f"c{c} AS (SELECT {aggs} FROM (SELECT rev, {lsel} FROM "
            f"(SELECT rev, {hsel} FROM v_x320_li)))"
        )
    d_bs = ", ".join(
        f"CAST(_s1_{b} AS DOUBLE) / _c1_{b}"
        f" - CAST(_s_tot - _s1_{b} AS DOUBLE) / (_c_tot - _c1_{b})"
        for b in range(1, PERM_B + 1)
    )
    joins = " CROSS JOIN ".join(f"c{c}" for c in range(PERM_CHUNKS))
    return spark.sql(
        f"""
        WITH {', '.join(ctes)},
        scored AS (
            SELECT CAST(n_a AS BIGINT) AS n_a,
                   CAST(n_b AS BIGINT) AS n_b,
                   round(d_obs, 6) AS obs_diff,
                   CAST({PERM_B} AS BIGINT) AS n_replicates,
                   CAST(size(filter(array({d_bs}),
                        d -> abs(d) >= abs(d_obs))) AS BIGINT) AS n_extreme
            FROM {joins} CROSS JOIN v_x320_obs
        )
        SELECT n_a, n_b, obs_diff, n_replicates, n_extreme,
               round((n_extreme + 1) / CAST(n_replicates + 1 AS DOUBLE), 6)
                   AS p_value
        FROM scored
        """
    )


# ---------------------------------------------------------------------------
# x321 — inter-annotator agreement: Cohen's kappa (wave 63)
# ---------------------------------------------------------------------------

# Two deterministic 3-class {keep, review, drop} curation annotators,
# thresholds pinned against the fixture distributions (FIXTURES.md) so
# all nine confusion cells are populated:
#   A judges CONTENT  (token count + alphabetic ratio),
#   B judges SIZE     (raw character count).
KAPPA_A_KEEP_TOK = 60
KAPPA_A_DROP_TOK = 25
KAPPA_A_KEEP_AR = 0.818
KAPPA_B_KEEP_CHARS = 320
KAPPA_B_DROP_CHARS = 130


def x321_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent labeling policies over
    the document corpus — the chance-corrected agreement score every
    LLM-data labeling pipeline reports before trusting its filters
    (raw agreement is inflated whenever one class dominates).

    Both "annotators" are deterministic in-plan heuristics (content
    policy vs size policy), so the query is two narrow projections, a
    9-cell confusion aggregate, and the closed-form
    κ = (p_o − p_e)/(1 − p_e) assembled from marginal products on the
    bounded confusion relation.  One corpus pass, map-side combined;
    tokenization is the pinned Q1 splitter (``functions/tokenize.py``).
    """
    from go_mapreduce_spark.operators.text import _tokens_ascii

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_tok = F.size(_tokens_ascii(F.col("text")))
    ar = F.length(F.regexp_replace("text", "[^A-Za-z]", "")) / F.length("text")
    ann_a = (
        F.when(
            (n_tok >= KAPPA_A_KEEP_TOK) & (ar >= F.lit(KAPPA_A_KEEP_AR)), "keep"
        )
        .when(n_tok < KAPPA_A_DROP_TOK, "drop")
        .otherwise("review")
    )
    ann_b = (
        F.when(F.col("n_chars") >= KAPPA_B_KEEP_CHARS, "keep")
        .when(F.col("n_chars") < KAPPA_B_DROP_CHARS, "drop")
        .otherwise("review")
    )
    conf = docs.select(ann_a.alias("la"), ann_b.alias("lb")).groupBy(
        "la", "lb"
    ).agg(F.count(F.lit(1)).alias("c"))
    row_m = conf.groupBy("la").agg(F.sum("c").alias("ra"))
    col_m = conf.groupBy("lb").agg(F.sum("c").alias("cb"))
    chance = (
        row_m.join(col_m, row_m.la == col_m.lb)
        .agg(F.sum(F.col("ra") * F.col("cb")).alias("pe_num"))
    )
    return (
        conf.agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("la") == F.col("lb"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("agree_n"),
        )
        .crossJoin(F.broadcast(chance))
        .select(
            "n_docs",
            "agree_n",
            F.round(
                F.col("agree_n") / F.col("n_docs").cast("double"), 6
            ).alias("p_observed"),
            F.round(
                F.col("pe_num")
                / (F.col("n_docs") * F.col("n_docs")).cast("double"),
                6,
            ).alias("p_expected"),
            F.round(
                (
                    F.col("agree_n") / F.col("n_docs").cast("double")
                    - F.col("pe_num")
                    / (F.col("n_docs") * F.col("n_docs")).cast("double")
                )
                / (
                    1
                    - F.col("pe_num")
                    / (F.col("n_docs") * F.col("n_docs")).cast("double")
                ),
                6,
            ).alias("kappa"),
        )
    )


# ---------------------------------------------------------------------------
# x325 — effect sizes between shipping modes (wave 64)
# ---------------------------------------------------------------------------


def x325_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes for every order-priority pair's
    order-value difference: Cohen's d (pooled-SD), its small-sample
    Hedges' g correction, and the log response ratio — the numbers a
    significance test (x243/x320) does NOT give you: HOW BIG the
    difference is, in units that compare across experiments.

    One corpus pass reduces the fact table to 5 per-priority
    sufficient-statistic rows (count, decimal sum, decimal sum of
    squares); the 10 unordered pairs come from a self-join of that
    bounded relation and every formula is closed-form on it.  The
    map-side combine carries 3 numbers per group regardless of data
    size.
    """
    li = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("rev"),
    )
    per = li.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        dsum_expr("rev", "s"),
        dsum_expr("rev * rev", "ss"),
    )
    a = per.select(
        F.col("grp").alias("prio_a"),
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
        F.col("ss").alias("ss1"),
    )
    b = per.select(
        F.col("grp").alias("prio_b"),
        F.col("n").alias("n2"),
        F.col("s").alias("s2"),
        F.col("ss").alias("ss2"),
    )
    m1 = F.col("s1") / F.col("n1")
    m2 = F.col("s2") / F.col("n2")
    var1 = (F.col("ss1") - F.col("s1") * F.col("s1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    var2 = (F.col("ss2") - F.col("s2") * F.col("s2") / F.col("n2")) / (
        F.col("n2") - 1
    )
    sp = F.sqrt(
        ((F.col("n1") - 1) * var1 + (F.col("n2") - 1) * var2)
        / (F.col("n1") + F.col("n2") - 2)
    )
    d = (m1 - m2) / sp
    j = 1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n2")) - 9.0)
    return (
        a.crossJoin(b)
        .filter(F.col("prio_a") < F.col("prio_b"))
        .select(
            "prio_a",
            "prio_b",
            F.col("n1").cast("bigint").alias("n_a"),
            F.col("n2").cast("bigint").alias("n_b"),
            F.round(m1 - m2, 6).alias("mean_diff"),
            F.round(d, 6).alias("cohens_d"),
            F.round(d * j, 6).alias("hedges_g"),
            F.round(F.log(m1 / m2), 6).alias("log_response_ratio"),
        )
        .orderBy("prio_a", "prio_b")
    )


# ---------------------------------------------------------------------------
# x326 — probabilistic-classifier scoring: log-loss/Brier/ECE (wave 64)
# ---------------------------------------------------------------------------

# Pinned logistic return-probability model p = σ(CAL_A + CAL_B·discount):
# the scoring harness is the query; the checkpoint is a constant.
CAL_A = -1.0
CAL_B = 4.0
CAL_BINS = 10


def x326_calibration_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proper-scoring-rule report card for a pinned probabilistic
    return-predictor over lineitem: log-loss (the training objective),
    Brier score (its bounded quadratic cousin), and expected
    calibration error over ``CAL_BINS`` fixed-width probability bins
    — the metrics every model-quality gate computes over held-out
    data at full scale.

    Everything is one corpus pass: per-row p̂ and y feed map-side-
    combined decimal sums for log-loss/Brier, and a ``CAL_BINS``-row
    grouped aggregate for ECE assembled with one more bounded pass.
    No model object, no collect — the "model" is two pinned literals,
    which is exactly how a scoring job should ship its coefficients.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").cast("double").alias("y"),
        (
            1.0
            / (
                1.0
                + F.exp(-(F.lit(CAL_A) + F.lit(CAL_B) * F.col("l_discount")))
            )
        ).alias("p"),
    )
    scored = li.select(
        "y",
        "p",
        F.least(
            F.floor(F.col("p") * CAL_BINS).cast("bigint"),
            F.lit(CAL_BINS - 1).cast("bigint"),
        ).alias("bin"),
    )
    bins = scored.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_k"),
        dsum_expr("p", "sp"),
        dsum_expr("y", "sy"),
    )
    ece = bins.agg(
        F.sum(
            (
                F.abs(
                    F.col("sp") / F.col("n_k") - F.col("sy") / F.col("n_k")
                )
                * F.col("n_k")
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("ece_num"),
        F.sum("n_k").alias("n_tot"),
    )
    base = scored.agg(
        F.count(F.lit(1)).alias("n"),
        dsum_expr("-(y * ln(p) + (1 - y) * ln(1 - p))", "ll_sum"),
        dsum_expr("(p - y) * (p - y)", "brier_sum"),
        dsum_expr("y", "pos"),
    )
    return (
        base.crossJoin(F.broadcast(ece))
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.col("pos").cast("bigint").alias("n_pos"),
            F.round(F.col("ll_sum") / F.col("n"), 6).alias("log_loss"),
            F.round(F.col("brier_sum") / F.col("n"), 6).alias("brier"),
            F.round(F.col("ece_num") / F.col("n_tot"), 6).alias("ece"),
        )
    )


# ---------------------------------------------------------------------------
# x329 — sample-ratio-mismatch check (wave 65)
# ---------------------------------------------------------------------------

SRM_SALT = "|srm"
# chi-square(1 df) upper-5% critical value, pinned as a literal
SRM_CHI2_CRIT = 3.841458820694124


def x329_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for a 50/50 experiment split:
    assign every customer to an arm by content hash (first sha256 hex
    digit < '8' — the x37 string-compare discipline, so assignment is
    reproducible everywhere), then chi-square the arm counts against
    the designed ratio.  SRM is the first sanity gate of every A/B
    platform: a significant imbalance means the bucketing or logging
    is broken and all downstream metrics are garbage.

    One scan, one 2-row aggregate, closed-form χ² = Σ(O−E)²/E with
    1 df against the pinned critical literal — O(1) state regardless
    of corpus size.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    arm_a = (
        F.substring(
            F.sha2(
                F.concat(F.col("c_custkey").cast("string"), F.lit(SRM_SALT)),
                256,
            ),
            1,
            1,
        )
        < "8"
    )
    agg = cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(arm_a, 1)).alias("n_a"),
    ).select(
        "n",
        "n_a",
        (F.col("n") - F.col("n_a")).alias("n_b"),
        (F.col("n").cast("double") / 2.0).alias("e"),
    )
    chi2 = (
        (F.col("n_a") - F.col("e")) * (F.col("n_a") - F.col("e")) / F.col("e")
        + (F.col("n_b") - F.col("e")) * (F.col("n_b") - F.col("e"))
        / F.col("e")
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(SRM_CHI2_CRIT)).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# x333 — exact grouped quartiles in one pass (wave 66)
# ---------------------------------------------------------------------------

QUARTILE_QS = (0.25, 0.5, 0.75)


def x333_grouped_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p25/p50/p75 of order value per order priority, all three
    in ONE pass — the x311/x302 discipline generalized to a quantile
    GRID: no per-row sort anywhere; per-(group, distinct-value)
    counts carry positional intervals via one cumulative window over
    the value-cardinality-sized relation, the 3-row quantile grid
    cross-joins in, and each order statistic is the value whose
    interval contains position ⌈q·n⌉ (type-1 quantile — pure integer
    position logic, so the pick is engine-exact with no interpolation
    arithmetic to match).

    Contrast with ``percentile_approx``: this is exact at any scale,
    and with approx sketches when a bound suffices (x26).  Adding
    quantiles costs one more grid row, not another corpus pass.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"), F.col("o_totalprice").alias("v")
    )
    per_val = orders.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.partitionBy("g").orderBy("v")
    cum = per_val.withColumn("cumc", F.sum("c").over(wv))
    ng = per_val.groupBy("g").agg(F.sum("c").alias("n_g"))
    grid = None
    for q in QUARTILE_QS:
        row = ng.sparkSession.range(1).select(F.lit(q).alias("q"))
        grid = row if grid is None else grid.unionAll(row)
    picks = (
        cum.join(F.broadcast(ng), "g")
        .crossJoin(F.broadcast(grid))
        .withColumn("pos", F.ceil(F.col("q") * F.col("n_g")).cast("bigint"))
        .filter(
            (F.col("cumc") >= F.col("pos"))
            & (F.col("cumc") - F.col("c") < F.col("pos"))
        )
    )
    return (
        picks.groupBy("g")
        .agg(
            F.max("n_g").cast("bigint").alias("n"),
            F.max(F.when(F.col("q") == 0.25, F.col("v"))).alias("p25"),
            F.max(F.when(F.col("q") == 0.5, F.col("v"))).alias("p50"),
            F.max(F.when(F.col("q") == 0.75, F.col("v"))).alias("p75"),
        )
        .select(
            F.col("g").alias("o_orderpriority"),
            "n",
            F.round("p25", 6).alias("p25"),
            F.round("p50", 6).alias("p50"),
            F.round("p75", 6).alias("p75"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# x335 — Hill tail-index of user activity (wave 67)
# ---------------------------------------------------------------------------

HILL_XMIN = 10


def x335_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill maximum-likelihood estimate of the power-law tail index of
    the per-user event-count distribution: α = 1 + n/Σln(xᵢ/xmin)
    over users with xᵢ ≥ xmin — the "how heavy are the heavy users"
    number that sizes skew mitigations (salting thresholds, x88's
    spectrum) with a statistic instead of a histogram eyeball.  Zipf's
    x258 fits ranks by OLS; Hill is the estimator with known standard
    error (α−1)/√n.

    Two aggregates total: events→per-user counts (map-side combined),
    counts→(n, decimal Σln) sufficient statistics; the estimate is
    closed-form on one row.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    agg = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("x") >= HILL_XMIN, 1)).alias("n_tail"),
        dsum_expr(
            f"CASE WHEN x >= {HILL_XMIN} THEN ln(x / CAST({HILL_XMIN} AS DOUBLE)) END",
            "sum_ln",
        ),
    )
    alpha = 1.0 + F.col("n_tail") / F.col("sum_ln")
    return agg.select(
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("n_tail").cast("bigint").alias("n_tail"),
        F.lit(HILL_XMIN).cast("bigint").alias("xmin"),
        F.round(alpha, 6).alias("alpha_hill"),
        F.round(
            (alpha - 1.0) / F.sqrt(F.col("n_tail").cast("double")), 6
        ).alias("alpha_se"),
    )


# ---------------------------------------------------------------------------
# x336 — one-way ANOVA F-test (wave 67)
# ---------------------------------------------------------------------------


def x336_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic one-way ANOVA across event types on event value: the
    F-statistic MS_between/MS_within from per-group sufficient
    statistics — completing the location-test family (Welch x243 for
    two unequal-variance groups, Kruskal-Wallis x295 rank-based,
    Levene x302 for spreads; this is the equal-variance k-group
    parametric baseline every stats package prints first).

    One corpus pass to k (count, Σ, Σ²) triples; SS decompositions
    and the F ratio are closed-form on the bounded group relation.
    Decimal sums make the statistic partition-invariant.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("value").alias("v")
    )
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_i"),
        dsum_expr("v", "s_i"),
        dsum_expr("v * v", "ss_i"),
    )
    tot = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_i").alias("n"),
        F.sum(F.col("s_i").cast(DECIMAL_T)).cast("double").alias("s"),
        F.sum(F.col("ss_i").cast(DECIMAL_T)).cast("double").alias("ss"),
        F.sum(
            (F.col("s_i") * F.col("s_i") / F.col("n_i")).cast(DECIMAL_T)
        )
        .cast("double")
        .alias("sum_sq_over_n"),
    )
    ss_between = F.col("sum_sq_over_n") - F.col("s") * F.col("s") / F.col("n")
    ss_within = F.col("ss") - F.col("sum_sq_over_n")
    ms_b = ss_between / (F.col("k") - 1)
    ms_w = ss_within / (F.col("n") - F.col("k"))
    return tot.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("n").cast("bigint").alias("n"),
        F.round(ss_between, 6).alias("ss_between"),
        F.round(ss_within, 6).alias("ss_within"),
        F.round(ms_b / ms_w, 6).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# x339 — overdispersion & negative-binomial moment fit (wave 68)
# ---------------------------------------------------------------------------


def x339_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overdispersion diagnostic of per-user event counts: the
    variance-to-mean ratio (=1 under Poisson) and the method-of-
    moments negative-binomial size r = μ²/(σ²−μ) — the companion to
    x335's tail index: Hill says how heavy the tail is, this says
    which COUNT MODEL to simulate load with (Poisson arrivals vs
    clumpy NB sessions).

    Two aggregates: events→per-user counts, counts→(n, Σx, Σx²)
    sufficient statistics; every reported number is closed-form on
    one row, decimal-summed for partition invariance.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    agg = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        dsum_expr("x", "s"),
        dsum_expr("x * x", "ss"),
    )
    mean = F.col("s") / F.col("n")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(mean, 6).alias("mean_events"),
        F.round(var, 6).alias("var_events"),
        F.round(var / mean, 6).alias("dispersion_index"),
        F.round(
            F.when(var > mean, mean * mean / (var - mean)).otherwise(
                F.lit(None).cast("double")
            ),
            6,
        ).alias("nb_size_r"),
    )


# ---------------------------------------------------------------------------
# x340 — CUPED variance-reduced experiment readout (wave 69)
# ---------------------------------------------------------------------------

CUPED_SPLIT_DATE = "1998-01-01"
CUPED_SALT = "|cuped"


def x340_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al., WSDM 2013) readout: per-arm post-period revenue means
    adjusted by the pre-period covariate, ŷ = ȳ − θ(x̄ − x̄_all) with
    θ = cov(x,y)/var(x) — the standard trick that removes the
    between-user variance a hash-bucketed A/B test inherits, often
    halving experiment runtime.

    Arms are the x329 content-hash assignment; pre/post revenue per
    customer come from ONE conditional-sum pass over orders; θ and
    the global covariate mean are 1-row broadcasts of pooled decimal
    sufficient statistics.  Reported per arm: raw and adjusted means
    plus the theoretical variance-reduction factor 1−ρ².
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    per_cust = orders.groupBy("o_custkey").agg(
        dsum_expr(
            f"CASE WHEN o_orderdate < '{CUPED_SPLIT_DATE}'"
            " THEN o_totalprice ELSE 0 END",
            "x",
        ),
        dsum_expr(
            f"CASE WHEN o_orderdate >= '{CUPED_SPLIT_DATE}'"
            " THEN o_totalprice ELSE 0 END",
            "y",
        ),
    )
    arm = (
        F.substring(
            F.sha2(
                F.concat(F.col("o_custkey").cast("string"), F.lit(CUPED_SALT)),
                256,
            ),
            1,
            1,
        )
        < "8"
    )
    cust = per_cust.withColumn(
        "arm", F.when(arm, "treatment").otherwise("control")
    )
    pooled = cust.agg(
        F.count(F.lit(1)).alias("n"),
        dsum_expr("x", "sx"),
        dsum_expr("y", "sy"),
        dsum_expr("x * x", "sxx"),
        dsum_expr("y * y", "syy"),
        dsum_expr("x * y", "sxy"),
    ).select(
        "n",
        (F.col("sx") / F.col("n")).alias("mean_x_all"),
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("theta"),
        (
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            * (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
            )
        ).alias("rho2"),
    )
    per_arm = cust.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_arm"),
        dsum_expr("x", "sx_a"),
        dsum_expr("y", "sy_a"),
    )
    return (
        per_arm.crossJoin(F.broadcast(pooled))
        .select(
            "arm",
            F.col("n_arm").cast("bigint").alias("n_customers"),
            F.round(F.col("sy_a") / F.col("n_arm"), 6).alias("mean_post"),
            F.round(F.col("sx_a") / F.col("n_arm"), 6).alias("mean_pre"),
            F.round(F.col("theta"), 6).alias("theta"),
            F.round(
                F.col("sy_a") / F.col("n_arm")
                - F.col("theta")
                * (F.col("sx_a") / F.col("n_arm") - F.col("mean_x_all")),
                6,
            ).alias("adjusted_mean"),
            F.round(1.0 - F.col("rho2"), 6).alias("var_ratio"),
        )
        .orderBy("arm")
    )


# ---------------------------------------------------------------------------
# x341 — difference-in-differences estimate (wave 69)
# ---------------------------------------------------------------------------

DID_REGION = "AMERICA"
DID_SPLIT_DATE = "1998-01-01"


def x341_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimate of the post-1998 shift in
    mean order value for AMERICA-region customers, using the rest of
    the world as the control trend: DiD = (ȳ_T,post − ȳ_T,pre) −
    (ȳ_C,post − ȳ_C,pre), with the large-sample SE √(Σ s²ᵢ/nᵢ) over
    the four cells — the workhorse quasi-experimental estimator when
    there was no randomized assignment to difference away.

    One pass reduces the fact join to 4 cells × (n, Σ, Σ²); the
    estimate, its SE, and the t-ratio are closed-form on the bounded
    cell relation.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    reg = load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    )
    geo = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey).join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    )
    cells = (
        orders.join(geo, orders.o_custkey == geo.c_custkey)
        .select(
            (F.col("r_name") == DID_REGION).alias("treated"),
            (F.col("o_orderdate") >= DID_SPLIT_DATE).alias("post"),
            F.col("o_totalprice").alias("v"),
        )
        .groupBy("treated", "post")
        .agg(
            F.count(F.lit(1)).alias("n_i"),
            dsum_expr("v", "s_i"),
            dsum_expr("v * v", "ss_i"),
        )
    )
    m = F.col("s_i") / F.col("n_i")
    var_over_n = (
        (F.col("ss_i") - F.col("s_i") * F.col("s_i") / F.col("n_i"))
        / (F.col("n_i") - 1)
    ) / F.col("n_i")
    sgn = F.when(F.col("treated"), F.lit(1.0)).otherwise(F.lit(-1.0)) * F.when(
        F.col("post"), F.lit(1.0)
    ).otherwise(F.lit(-1.0))
    agg = cells.agg(
        F.sum("n_i").cast("bigint").alias("n_orders"),
        F.sum((sgn * m).cast("decimal(38,18)")).cast("double").alias("did"),
        F.sum(var_over_n.cast("decimal(38,18)")).cast("double").alias("var_did"),
        F.max(F.when(F.col("treated") & F.col("post"), m)).alias("t_post"),
        F.max(F.when(F.col("treated") & ~F.col("post"), m)).alias("t_pre"),
        F.max(F.when(~F.col("treated") & F.col("post"), m)).alias("c_post"),
        F.max(F.when(~F.col("treated") & ~F.col("post"), m)).alias("c_pre"),
    )
    return agg.select(
        "n_orders",
        F.round("t_pre", 6).alias("treated_pre"),
        F.round("t_post", 6).alias("treated_post"),
        F.round("c_pre", 6).alias("control_pre"),
        F.round("c_post", 6).alias("control_post"),
        F.round("did", 6).alias("did"),
        F.round(F.sqrt(F.col("var_did")), 6).alias("se"),
        F.round(F.col("did") / F.sqrt(F.col("var_did")), 6).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# x342 — off-policy evaluation: IPS / clipped / SNIPS (wave 69)
# ---------------------------------------------------------------------------

IPS_SALT = "|ips"
IPS_BASE_P = 0.2
IPS_SEG_P = 0.8  # propensity for the BUILDING segment
IPS_SEGMENT = "BUILDING"
IPS_CLIP = 4.0


def x342_ips_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of "promote every AUTOMOBILE customer"
    from logs of a DIFFERENT (segment-biased) promotion policy:
    inverse-propensity scoring v̂ = mean(π(aᵤ)/μ(aᵤ)·rᵤ), its clipped
    variant (weights capped at ``IPS_CLIP``), the self-normalized
    SNIPS ratio, and the effective sample size — the counterfactual
    estimators every recommender/bandit platform runs over logged
    interactions before an online test.

    The logged action is a deterministic sha-uniform draw against the
    known behavior propensity (so the oracle replays the exact log),
    the reward is the customer's revenue, and every estimator is one
    decimal-summed aggregate over the scored pass — O(1) state.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        dsum_expr("o_totalprice", "r")
    )
    h8 = F.substring(
        F.sha2(
            F.concat(F.col("c_custkey").cast("string"), F.lit(IPS_SALT)), 256
        ),
        1,
        8,
    )
    u = (F.conv(h8, 16, 10).cast("bigint").cast("double") + 0.5) / F.lit(
        4294967296.0
    )
    mu_p = F.when(
        F.col("c_mktsegment") == IPS_SEGMENT, F.lit(IPS_SEG_P)
    ).otherwise(F.lit(IPS_BASE_P))
    logged = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .select(
            "c_mktsegment",
            F.coalesce("r", F.lit(0.0)).alias("r"),
            (u < mu_p).alias("a"),  # logged action: promoted or not
            mu_p.alias("p_a_true"),
        )
        .withColumn(
            "mu",
            F.when(F.col("a"), F.col("p_a_true")).otherwise(
                1.0 - F.col("p_a_true")
            ),
        )
        .withColumn(
            # target policy: promote iff AUTOMOBILE (deterministic)
            "pi",
            F.when(
                (F.col("c_mktsegment") == "AUTOMOBILE") == F.col("a"),
                F.lit(1.0),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("w", F.col("pi") / F.col("mu"))
    )
    agg = logged.agg(
        F.count(F.lit(1)).alias("n"),
        dsum_expr("w * r", "swr"),
        dsum_expr("LEAST(w, CAST('%s' AS DOUBLE)) * r" % IPS_CLIP, "swr_clip"),
        dsum_expr("w", "sw"),
        dsum_expr("w * w", "sww"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(F.col("swr") / F.col("n"), 6).alias("v_ips"),
        F.round(F.col("swr_clip") / F.col("n"), 6).alias("v_clipped"),
        F.round(F.col("swr") / F.col("sw"), 6).alias("v_snips"),
        F.round(
            F.col("sw") * F.col("sw") / F.col("sww"), 6
        ).alias("effective_n"),
    )


# ---------------------------------------------------------------------------
# x345 — quantile treatment effects (wave 72)
# ---------------------------------------------------------------------------

QTE_SALT = "|qte"


def x345_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects at the quartiles: the per-arm exact
    p25/p50/p75 of order value under the hash-bucketed assignment,
    and their treatment−control gaps — what a mean difference (x243/
    x320) hides: an intervention that moves the tail but not the
    median shows up HERE.

    The x333 interval-overlap machinery partitioned by arm: one
    per-(arm, distinct-value) count relation, one cumulative window
    over it (value-cardinality-sized per arm), a 3-row quantile grid,
    and pure integer position logic for the picks.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("v")
    )
    arm = (
        F.substring(
            F.sha2(
                F.concat(F.col("o_orderkey").cast("string"), F.lit(QTE_SALT)),
                256,
            ),
            1,
            1,
        )
        < "8"
    )
    pop = orders.select(
        F.when(arm, "treatment").otherwise("control").alias("g"), "v"
    )
    per_val = pop.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.partitionBy("g").orderBy("v")
    cum = per_val.withColumn("cumc", F.sum("c").over(wv))
    ng = per_val.groupBy("g").agg(F.sum("c").alias("n_g"))
    grid = None
    for q in QUARTILE_QS:
        row = orders.sparkSession.range(1).select(F.lit(q).alias("q"))
        grid = row if grid is None else grid.unionAll(row)
    picks = (
        cum.join(F.broadcast(ng), "g")
        .crossJoin(F.broadcast(grid))
        .withColumn("pos", F.ceil(F.col("q") * F.col("n_g")).cast("bigint"))
        .filter(
            (F.col("cumc") >= F.col("pos"))
            & (F.col("cumc") - F.col("c") < F.col("pos"))
        )
    )
    wide = picks.groupBy("q").agg(
        F.max(F.when(F.col("g") == "treatment", F.col("v"))).alias("t_v"),
        F.max(F.when(F.col("g") == "control", F.col("v"))).alias("c_v"),
        F.max(F.when(F.col("g") == "treatment", F.col("n_g"))).alias("n_t"),
        F.max(F.when(F.col("g") == "control", F.col("n_g"))).alias("n_c"),
    )
    return wide.select(
        F.round("q", 2).alias("quantile"),
        F.col("n_t").cast("bigint").alias("n_treatment"),
        F.col("n_c").cast("bigint").alias("n_control"),
        F.round("t_v", 6).alias("treatment_value"),
        F.round("c_v", 6).alias("control_value"),
        F.round(F.col("t_v") - F.col("c_v"), 6).alias("qte"),
    ).orderBy("quantile")


# ---------------------------------------------------------------------------
# x346 — power analysis: minimum detectable effect (wave 72)
# ---------------------------------------------------------------------------

# Φ⁻¹(1 − 0.05/2) and Φ⁻¹(0.8): two-sided α = 5%, power = 80%,
# pinned as literals via the same inverse-normal used for the FDR
# thresholds (module constant, not computed per engine)
MDE_Z_ALPHA = _phi_inv_upper(0.025)
MDE_Z_BETA = _phi_inv_upper(0.2)
MDE_REL_TARGET = 0.05  # sizing target: detect a 5% lift


def x346_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-experiment power analysis from the data you already have:
    with the observed order-value variance and the x243 segment
    sizes, the minimum detectable effect at α=5%/power=80% —
    MDE = (z_{α/2}+z_β)·√(s²(1/n_a+1/n_b)) — absolute and relative,
    plus the per-arm n required to detect a 5% lift.  This is the
    "don't launch an underpowered test" gate, computed at corpus
    scale instead of from a spreadsheet sample.

    One conditional aggregate to (n, Σ, Σ²) per segment; every
    reported number is closed-form with the z's pinned as module
    literals (the x296 threshold discipline).
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    sample = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_mktsegment").isin(TTEST_SEG_A, TTEST_SEG_B))
        .select(
            (F.col("c_mktsegment") == TTEST_SEG_A).alias("is_a"),
            F.col("o_totalprice").alias("v"),
        )
    )
    agg = sample.agg(
        F.count(F.when(F.col("is_a"), 1)).alias("n_a"),
        F.count(F.when(~F.col("is_a"), 1)).alias("n_b"),
        F.count(F.lit(1)).alias("n"),
        dsum_expr("v", "s"),
        dsum_expr("v * v", "ss"),
    )
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    zsum = F.lit(MDE_Z_ALPHA + MDE_Z_BETA)
    mde = zsum * F.sqrt(
        var * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    mean = F.col("s") / F.col("n")
    n_req = (
        2.0
        * zsum
        * zsum
        * var
        / ((F.lit(MDE_REL_TARGET) * mean) * (F.lit(MDE_REL_TARGET) * mean))
    )
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(mean, 6).alias("mean_value"),
        F.round(F.sqrt(var), 6).alias("sd"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / mean, 6).alias("mde_rel"),
        F.ceil(n_req).cast("bigint").alias("n_per_arm_for_5pct"),
    )


# ---------------------------------------------------------------------------
# x347 — Beta-Bernoulli bandit posterior summaries (wave 72)
# ---------------------------------------------------------------------------

BANDIT_SUCCESS_PRICE = 150000.0
BANDIT_Z95 = 1.959963984540054  # pinned, same literal both engines


def x347_bandit_posteriors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-Bernoulli posterior summaries per order-priority "arm":
    with a uniform Beta(1,1) prior and success = high-value order,
    the posterior mean (x+1)/(n+2), a normal-approx 95% credible
    interval, and the posterior rank — the nightly summary a
    Thompson-sampling router logs so humans can see what the bandit
    believes.

    One conditional aggregate to (n, x) per arm; the posterior
    algebra is closed-form on the bounded arm relation; rank is a
    5-row window.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("arm"),
        (F.col("o_totalprice") > BANDIT_SUCCESS_PRICE)
        .cast("bigint")
        .alias("hit"),
    )
    per = orders.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("hit").alias("x")
    )
    pm = (F.col("x") + 1.0) / (F.col("n") + 2.0)
    psd = F.sqrt(
        pm * (1.0 - pm) / (F.col("n") + 3.0)
    )
    w = Window.orderBy(F.col("post_mean").desc(), F.col("arm"))
    return (
        per.select(
            "arm",
            F.col("n").cast("bigint").alias("n"),
            F.col("x").cast("bigint").alias("n_success"),
            F.round(pm, 6).alias("post_mean"),
            F.round(pm - F.lit(BANDIT_Z95) * psd, 6).alias("ci_lo"),
            F.round(pm + F.lit(BANDIT_Z95) * psd, 6).alias("ci_hi"),
        )
        .withColumn("post_rank", F.row_number().over(w).cast("bigint"))
        .orderBy("post_rank")
    )


# ---------------------------------------------------------------------------
# x348 — chi-square goodness-of-fit, weekday order mix (wave 73)
# ---------------------------------------------------------------------------


def x348_chisq_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of the order weekday mix against a
    uniform 1/7 expectation — the categorical sibling of x82's
    independence test: is order volume actually flat across the week,
    or does the calendar drive load?  (The reference engine would run
    this as a wc-style map+reduce over dates; mapreduce.go:130-219.)

    One corpus pass to 7 (dow, count) rows; expectation and the χ²
    contributions are closed-form on that bounded relation.  The
    statistic itself uses the algebraic identity (uniform expectation)
    χ² = 7·Σobs²/n − n, so the only sum crossing rows is the
    integer-exact decimal Σobs² — no float summation-order drift
    between engines.  ISO weekday (Mon=1) via Spark ``weekday()+1``
    ↔ DuckDB ``isodow``.
    """
    per = (
        load_table(spark, sf_dir, "orders")
        .select((F.weekday(F.to_date("o_orderdate")) + 1).alias("dow"))
        .groupBy("dow")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    tot = per.agg(
        F.sum("observed").alias("n"),
        F.sum(
            F.col("observed").cast("decimal(38,0)") * F.col("observed")
        ).alias("s2"),
    )
    exp = F.col("n") / 7.0
    contrib = (F.col("observed") - exp) * (F.col("observed") - exp) / exp
    chi2 = (
        F.lit(7.0) * F.col("s2").cast("double") / F.col("n") - F.col("n")
    )
    return (
        per.crossJoin(F.broadcast(tot))  # 1-row total
        .select(
            F.col("dow").cast("int").alias("dow"),
            F.col("observed").cast("bigint").alias("observed"),
            F.round(exp, 6).alias("expected"),
            F.round(contrib, 6).alias("contrib"),
            F.round(chi2, 6).alias("chi2_stat"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# x349 — Jarque-Bera normality test (wave 73)
# ---------------------------------------------------------------------------

# Order values are rescaled by this constant before the moment sums;
# skewness and kurtosis are invariant under linear scaling, and the
# rescale keeps Σx⁴ small enough that DECIMAL(38,6) sums stay exact
# at any SF (w⁴ ≤ ~1.3e7/row instead of v⁴ ≈ 6e22).  1e4 (not 1e5)
# on purpose: o_totalprice has 2 decimal digits, so w terminates at
# exactly 6 — the DECIMAL(38,6) cast is then exact in both engines,
# where a 7-digit w hits Spark-half-up vs DuckDB-exact-binary tie
# rounding on ~10% of rows.
JB_SCALE = 1.0e4


def x349_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on order value: skewness and excess
    kurtosis from the first four moments, JB = n/6·(S² + K²/4) — the
    moment-based screen run before any test that assumes Gaussian
    residuals (x243/x336 here).

    One corpus pass to four decimal moment sums (values pre-scaled by
    ``JB_SCALE`` so the quartic sum cannot exhaust DECIMAL(38,6) at
    100 TB — S and K are scale-invariant); every reported number is
    closed-form on the 1-row sufficient-statistics relation.
    """
    v = F.col("o_totalprice") / F.lit(JB_SCALE)
    agg = (
        load_table(spark, sf_dir, "orders")
        .select(v.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum_expr("w", "s1"),
            dsum_expr("w * w", "s2"),
            dsum_expr("w * w * w", "s3"),
            dsum_expr("w * w * w * w", "s4"),
        )
    )
    n = F.col("n").cast("double")
    m = F.col("s1") / n
    m2 = F.col("s2") / n - m * m
    m3 = F.col("s3") / n - 3.0 * m * F.col("s2") / n + 2.0 * m * m * m
    m4 = (
        F.col("s4") / n
        - 4.0 * m * F.col("s3") / n
        + 6.0 * m * m * F.col("s2") / n
        - 3.0 * m * m * m * m
    )
    skew = m3 / F.sqrt(m2 * m2 * m2)
    exkurt = m4 / (m2 * m2) - 3.0
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(m * JB_SCALE, 6).alias("mean_value"),
        F.round(F.sqrt(m2) * JB_SCALE, 6).alias("sd_value"),
        F.round(skew, 6).alias("skewness"),
        F.round(exkurt, 6).alias("excess_kurtosis"),
        F.round(
            n / 6.0 * (skew * skew + exkurt * exkurt / 4.0), 6
        ).alias("jb_stat"),
    )


# ---------------------------------------------------------------------------
# x350 — Grubbs outlier test (wave 73)
# ---------------------------------------------------------------------------


def x350_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test on per-customer revenue: G = max|x−x̄|/s plus the
    identity of the suspect — the single-outlier complement to x83's
    IQR fences and x140's robust flags (those list many, this names
    the MOST extreme point with a testable statistic).

    Per-customer revenue is one grouped decimal aggregate; (n, x̄, s)
    enter as a 1-row broadcast; the suspect is a TakeOrderedAndProject
    top-1 by (|z| desc, key asc) — no global sort materializes, ties
    break deterministically.
    """
    per = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(dsum(F.col("o_totalprice"), "rev"))
    )
    gstats = per.agg(
        F.count(F.lit(1)).alias("n"),
        dsum_expr("rev", "s"),
        dsum_expr("rev * rev", "ss"),
    ).select(
        "n",
        (F.col("s") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    z = F.abs(F.col("rev") - F.col("mean")) / F.col("sd")
    return (
        per.crossJoin(F.broadcast(gstats))  # 1-row stats
        .select(
            F.col("o_custkey").cast("bigint").alias("suspect_custkey"),
            F.round("rev", 6).alias("suspect_revenue"),
            F.col("n").cast("bigint").alias("n_customers"),
            F.round("mean", 6).alias("mean_revenue"),
            F.round("sd", 6).alias("sd_revenue"),
            F.round(z, 6).alias("g_stat"),
        )
        .orderBy(F.col("g_stat").desc(), F.col("suspect_custkey"))
        .limit(1)
    )


# ---------------------------------------------------------------------------
# x351 — Durbin-Watson serial-correlation test (wave 73)
# ---------------------------------------------------------------------------


def x351_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic of daily-revenue residuals around an
    OLS linear trend: DW = Σ(e_t−e_{t−1})²/Σe_t² — the residual
    autocorrelation check that decides whether x310-style OLS
    standard errors can be trusted or an AR term is needed.

    The fact table reduces to one decimal row per day FIRST, so the
    trend fit (closed-form from sufficient stats on day index t),
    residuals, and the lag-1 window all run on the calendar-bounded
    series (~2.4k rows at any SF; x245's argument).  Consecutive
    observed days via a row-lag window ordered by date.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(dsum(F.col("o_totalprice"), "rev"))
        .select(
            "d",
            F.col("rev").cast("double").alias("y"),
            F.datediff(F.col("d"), F.lit("1995-01-01")).cast(
                "double"
            ).alias("t"),
        )
    )
    fit = daily.agg(
        F.count(F.lit(1)).alias("n"),
        dsum_expr("t", "st"),
        dsum_expr("y", "sy"),
        dsum_expr("t * t", "stt"),
        dsum_expr("t * y", "sty"),
    ).select(
        "n",
        (
            (F.col("sty") - F.col("st") * F.col("sy") / F.col("n"))
            / (F.col("stt") - F.col("st") * F.col("st") / F.col("n"))
        ).alias("slope"),
    )
    fit = fit.crossJoin(
        F.broadcast(
            daily.agg(
                (
                    F.sum(F.col("y").cast(DECIMAL_T)).cast("double")
                    / F.count(F.lit(1))
                ).alias("ybar"),
                (
                    F.sum(F.col("t").cast(DECIMAL_T)).cast("double")
                    / F.count(F.lit(1))
                ).alias("tbar"),
            )
        )
    )
    resid = daily.crossJoin(F.broadcast(fit)).select(
        "d",
        "n",
        (
            F.col("y")
            - (
                F.col("ybar")
                + F.col("slope") * (F.col("t") - F.col("tbar"))
            )
        ).alias("e"),
    )
    w = Window.orderBy("d")
    diff = resid.select(
        "n",
        (F.col("e") * F.col("e")).alias("e2"),
        (F.col("e") - F.lag("e", 1).over(w)).alias("de"),
    )
    return diff.agg(
        F.max(F.col("n")).cast("bigint").alias("n_days"),
        F.round(
            F.sum((F.col("de") * F.col("de")).cast(DECIMAL_T)).cast(
                "double"
            )
            / F.sum((F.col("e2")).cast(DECIMAL_T)).cast("double"),
            6,
        ).alias("dw_stat"),
    )


# ---------------------------------------------------------------------------
# x352 — Ljung-Box portmanteau test (wave 73)
# ---------------------------------------------------------------------------

LJUNG_BOX_MAX_LAG = 7


def x352_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic over the daily-revenue ACF:
    Q(K) = n(n+2)·Σ_{k≤K} ρ̂_k²/(n−k) at calendar lags 1..7 — the
    joint "is there ANY autocorrelation" test that turns x245's
    per-lag ACF into one decision number per horizon.

    Reuses x245's plan shape verbatim: the corpus collapses to the
    calendar-bounded daily series, deviations from the 1-row mean
    broadcast, lagged pairs by calendar self-join (missing days
    contribute no pair), decimal ratio sums; the cumulative Q is a
    7-row running window.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(dsum(F.col("o_totalprice"), "rev"))
    )
    gstats = daily.agg(
        (
            dsum(F.col("rev"), "s").cast("double") / F.count(F.lit(1))
        ).alias("mean"),
        F.count(F.lit(1)).alias("n_days"),
    )
    dev = daily.crossJoin(F.broadcast(gstats)).select(
        "d", "n_days", (F.col("rev") - F.col("mean")).alias("dev")
    )
    denom = dev.agg(
        dsum_expr("dev * dev", "ss"), F.max("n_days").alias("n_days")
    )
    lags = spark.range(1, LJUNG_BOX_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = dev.alias("a")
    b = dev.crossJoin(F.broadcast(lags)).alias("b")
    pairs = a.join(
        b, F.col("b.d") == F.expr("date_add(a.d, b.lag)"), "inner"
    ).select(
        F.col("b.lag").alias("lag"),
        (F.col("a.dev") * F.col("b.dev")).alias("p"),
    )
    acf = (
        pairs.groupBy("lag")
        .agg(dsum_expr("p", "num"))
        .crossJoin(F.broadcast(denom))  # 1-row denominator + n
        .select(
            "lag",
            "n_days",
            (F.col("num") / F.col("ss")).alias("rho"),
        )
    )
    n = F.col("n_days").cast("double")
    w = Window.orderBy("lag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    term = F.col("rho") * F.col("rho") / (n - F.col("lag"))
    return (
        acf.select(
            F.col("lag").cast("int").alias("lag"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.round("rho", 6).alias("acf"),
            (n * (n + 2.0) * term).alias("_q_term"),
        )
        .withColumn("q_cum", F.round(F.sum("_q_term").over(w), 6))
        .drop("_q_term")
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# x354 — Chow structural-break test (wave 74)
# ---------------------------------------------------------------------------

# Candidate break: the midpoint-ish calendar year boundary inside the
# fixture's 1995-01-01..2001-08-01 order window (FIXTURES.md).
CHOW_BREAK = "1998-01-01"


def x354_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the daily-revenue trend at
    ``CHOW_BREAK``: fit OLS revenue~day separately before/after and
    pooled, F = ((SSR_p − SSR₁ − SSR₂)/k) / ((SSR₁+SSR₂)/(n−2k)),
    k = 2 — did the revenue-generating process actually change, or
    does one line fit the whole window?

    One corpus pass to the calendar-bounded daily series, one grouped
    aggregate to TWO rows of decimal sufficient statistics (n, Σt,
    Σy, Σt², Σty, Σy²); pooled sums are the 2-row sum of those exact
    decimals, and every SSR is closed-form on its sufficient-stats
    row.  Nothing after the first aggregate exceeds 2 rows.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(dsum(F.col("o_totalprice"), "y"))
        .select(
            (F.col("d") >= F.lit(CHOW_BREAK).cast("date")).alias("post"),
            F.datediff(F.col("d"), F.lit("1995-01-01").cast("date"))
            .cast("double")
            .alias("t"),
            "y",
        )
    )
    regs = daily.groupBy("post").agg(
        F.count(F.lit(1)).alias("n"),
        dsum_expr("t", "st"),
        dsum_expr("y", "sy"),
        dsum_expr("t * t", "stt"),
        dsum_expr("t * y", "sty"),
        dsum_expr("y * y", "syy"),
    )
    ssr = (
        F.col("syy")
        - F.col("sy") * F.col("sy") / F.col("n")
        - (F.col("sty") - F.col("st") * F.col("sy") / F.col("n"))
        * (F.col("sty") - F.col("st") * F.col("sy") / F.col("n"))
        / (F.col("stt") - F.col("st") * F.col("st") / F.col("n"))
    )
    split = regs.select("post", "n", ssr.alias("ssr")).agg(
        F.sum("n").alias("n"),
        F.sum(F.when(~F.col("post"), F.col("n")).otherwise(0)).alias("n_pre"),
        F.sum(F.when(F.col("post"), F.col("n")).otherwise(0)).alias("n_post"),
        F.sum("ssr").alias("ssr_split"),  # 2 addends: order-free
    )
    pooled = regs.agg(
        F.sum("n").alias("n"),
        F.sum("st").alias("st"),
        F.sum("sy").alias("sy"),
        F.sum("stt").alias("stt"),
        F.sum("sty").alias("sty"),
        F.sum("syy").alias("syy"),
    ).select(ssr.alias("ssr_pooled"))
    f_stat = (
        (F.col("ssr_pooled") - F.col("ssr_split"))
        / 2.0
        / (F.col("ssr_split") / (F.col("n") - 4.0))
    )
    return split.crossJoin(F.broadcast(pooled)).select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("n_pre").cast("bigint").alias("n_pre"),
        F.col("n_post").cast("bigint").alias("n_post"),
        F.round("ssr_split", 3).alias("ssr_split"),
        F.round("ssr_pooled", 3).alias("ssr_pooled"),
        F.round(f_stat, 6).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# x355 — Pettitt rank changepoint test (wave 74)
# ---------------------------------------------------------------------------


def x355_pettitt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt nonparametric changepoint on daily revenue: with global
    ranks r_i, U_t = 2·Σ_{i≤t} r_i − t·(n+1); the break candidate is
    argmax|U_t| with approximate p ≈ 2·exp(−6K²/(n³+n²)) — the
    rank-based sibling of x246's CUSUM that no outlier day can drag.

    The corpus collapses to the calendar-bounded daily series; ranks
    and prefix sums are INTEGER windows over that metadata-sized
    relation (rank ties broken by date — revenue sums are 2-dp exact,
    so ranking is engine-stable), and the only float is the final
    closed-form p.  Output: the 1-row argmax (earliest date on K
    ties).
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(dsum(F.col("o_totalprice"), "rev"))
    )
    ranked = daily.select(
        "d",
        F.row_number().over(Window.orderBy("rev", "d")).alias("rk"),
    )
    wd = Window.orderBy("d")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    u = ranked.select(
        "d",
        F.count(F.lit(1)).over(wall).alias("n"),
        (
            2 * F.sum("rk").over(
                wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            - F.row_number().over(wd)
            * (F.count(F.lit(1)).over(wall) + F.lit(1))
        ).alias("u_t"),
    )
    n = F.col("n").cast("double")
    return (
        u.orderBy(F.abs("u_t").desc(), "d")
        .limit(1)
        .select(
            F.col("n").cast("bigint").alias("n_days"),
            F.col("d").alias("change_day"),
            F.col("u_t").cast("bigint").alias("u_stat"),
            F.abs("u_t").cast("bigint").alias("k_stat"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.exp(
                        -6.0
                        * F.abs("u_t")
                        * F.abs("u_t")
                        / (n * n * n + n * n)
                    )
                    * 2.0,
                ),
                6,
            ).alias("p_approx"),
        )
    )


# ---------------------------------------------------------------------------
# x356 — Kaplan-Meier repeat-purchase survival (wave 74)
# ---------------------------------------------------------------------------

# End of the fixture's order calendar (FIXTURES.md): gaps still open
# on this date are right-censored, not treated as churn.
KM_CENSOR_DATE = "2001-08-02"
# Event-time rows reported (the at-risk bookkeeping always uses the
# full gap distribution; this only truncates the OUTPUT curve).
KM_MAX_DAYS = 90


def x356_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier estimate of the repeat-purchase interval: the
    probability a customer has NOT yet reordered t days after a
    purchase, with the final open gap of every customer right-censored
    at the calendar end — the censoring-aware upgrade of x222's span
    curve (a plain gap histogram understates long waits because open
    gaps are silently truncated).

    Per-customer distinct purchase dates → successive gaps via a
    customer-partitioned lead (event) plus one censored tail row;
    collapse to the gap-length distribution (bounded by the calendar
    window, ≤ ~2400 rows at ANY scale), then at-risk counts and the
    product-limit estimator are integer prefix sums and one exp of a
    decimal(38,12)-carried Σln(1−d/n) over that bounded relation.
    """
    censor = F.lit(KM_CENSOR_DATE).cast("date")
    purch = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c"), F.to_date("o_orderdate").alias("d"))
        .distinct()
    )
    nxt = F.lead("d").over(Window.partitionBy("c").orderBy("d"))
    spans = purch.select(
        F.when(nxt.isNotNull(), F.datediff(nxt, F.col("d")))
        .otherwise(F.datediff(censor, F.col("d")))
        .alias("gap"),
        F.when(nxt.isNotNull(), 1).otherwise(0).alias("event"),
    )
    dist = spans.groupBy("gap").agg(
        F.sum("event").alias("d_i"),
        F.sum(1 - F.col("event")).alias("c_i"),
    )
    wg = Window.orderBy("gap")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    at_risk = dist.select(
        "gap",
        "d_i",
        "c_i",
        (
            F.sum(F.col("d_i") + F.col("c_i")).over(wall)
            - F.coalesce(
                F.sum(F.col("d_i") + F.col("c_i")).over(
                    wg.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias("n_risk"),
    )
    term = F.when(
        F.col("d_i") < F.col("n_risk"),
        F.log(1.0 - F.col("d_i") / F.col("n_risk")),
    ).otherwise(F.lit(-1.0e6))
    surv = at_risk.select(
        "gap",
        "d_i",
        "c_i",
        "n_risk",
        F.exp(
            F.sum(term.cast("decimal(38,12)"))
            .over(wg.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double")
        ).alias("s"),
    )
    return (
        surv.filter((F.col("d_i") > 0) & (F.col("gap") <= KM_MAX_DAYS))
        .select(
            F.col("gap").cast("int").alias("gap_days"),
            F.col("n_risk").cast("bigint").alias("n_at_risk"),
            F.col("d_i").cast("bigint").alias("n_events"),
            F.col("c_i").cast("bigint").alias("n_censored"),
            F.round("s", 6).alias("survival"),
        )
        .orderBy("gap_days")
    )


# ---------------------------------------------------------------------------
# x359 — Mann-Kendall trend test (wave 75)
# ---------------------------------------------------------------------------


def x359_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on daily revenue: S =
    Σ_{i<j} sign(y_j − y_i) with the normal approximation z =
    (S∓1)/√(n(n−1)(2n+5)/18) — the significance test conventionally
    paired with x300's Theil-Sen slope (which estimates the trend MK
    decides on).

    The corpus collapses to the calendar-bounded daily series first,
    so the all-pairs comparison is a self-join of a metadata-sized
    relation (≤ ~2400 rows at ANY corpus scale — pair count is set by
    the calendar, not the data); S is an exact integer sum, and the
    only floats are the two closed-form output expressions.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(dsum(F.col("o_totalprice"), "rev"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(b, F.col("b.d") > F.col("a.d"))
        .agg(
            F.sum(
                F.signum(F.col("b.rev") - F.col("a.rev")).cast("bigint")
            ).alias("s")
        )
    )
    n_row = daily.agg(F.count(F.lit(1)).alias("n"))
    n = F.col("n").cast("double")
    var_s = n * (n - 1.0) * (2.0 * n + 5.0) / 18.0
    z = F.when(
        F.col("s") > 0, (F.col("s") - 1.0) / F.sqrt(var_s)
    ).when(
        F.col("s") < 0, (F.col("s") + 1.0) / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    return s.crossJoin(F.broadcast(n_row)).select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("s").cast("bigint").alias("s_stat"),
        F.round(var_s, 3).alias("var_s"),
        F.round(z, 6).alias("z_score"),
        F.signum(F.col("s")).cast("int").alias("trend_sign"),
    )


# ---------------------------------------------------------------------------
# x361 — seasonal-naive forecast backtest, MASE (wave 76)
# ---------------------------------------------------------------------------

SEASONAL_LAG = 7  # weekly seasonality on the daily revenue series


def x361_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster ŷ_t = y_{t−7}
    against the random-walk baseline ŷ_t = y_{t−1} on daily revenue:
    MASE = MAE(seasonal)/MAE(naive-1) — the scale-free "is weekly
    seasonality worth modeling" number (x257 shows the seasonality
    exists; this says whether it PREDICTS).

    The corpus collapses to the calendar-bounded daily series; both
    forecasts are lag windows over that metadata-sized relation,
    errors are decimal-summed, and the evaluation is restricted to
    days where BOTH lags exist so the two MAEs average over the
    identical day set.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(dsum(F.col("o_totalprice"), "rev"))
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "rev",
        F.lag("rev", 1).over(w).alias("p1"),
        F.lag("rev", SEASONAL_LAG).over(w).alias("p7"),
    ).filter(F.col("p7").isNotNull())
    agg = lagged.agg(
        F.count(F.lit(1)).alias("n_eval"),
        dsum_expr("abs(rev - p1)", "ae1"),
        dsum_expr("abs(rev - p7)", "ae7"),
    )
    mae1 = F.col("ae1") / F.col("n_eval")
    mae7 = F.col("ae7") / F.col("n_eval")
    return agg.select(
        F.col("n_eval").cast("bigint").alias("n_eval"),
        F.round(mae1, 3).alias("mae_naive1"),
        F.round(mae7, 3).alias("mae_seasonal7"),
        F.round(mae7 / mae1, 6).alias("mase"),
        F.round((1.0 - mae7 / mae1) * 100.0, 6).alias("improvement_pct"),
    )


# ---------------------------------------------------------------------------
# x362 — information-gain feature ranking (wave 76)
# ---------------------------------------------------------------------------


def x362_infogain_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-gain ranking of three candidate features (order
    weekday, order month, customer segment) for predicting order
    priority: IG = H(label) − H(label|feature) and the gain ratio
    IG/H(feature) — x301's single-pair MI grown into the
    feature-selection report a modeling pipeline actually consumes.

    ONE corpus pass: orders⋈customer reduces to the full
    (dow, month, segment, label) contingency cube (≤ 7·12·5·5 cells,
    map-side combined); every per-feature contingency is a rollup of
    that bounded cube, so adding features costs zero extra scans.
    Entropy terms are exact-integer ratios in double, decimal-carried
    (x301 rules).
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            (F.dayofweek("o_orderdate") - 1).alias("dow"),
            F.month("o_orderdate").alias("mon"),
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("label"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = base.agg(F.sum("c").alias("n"))
    lab = base.groupBy("label").agg(F.sum("c").alias("cl"))
    n = F.col("n").cast("double")
    h_label = (
        lab.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                ((F.col("cl") / n) * F.log(n / F.col("cl"))).cast(
                    "decimal(38,12)"
                )
            )
            .cast("double")
            .alias("h_label")
        )
    )

    def one(feature: str, fcol: str) -> DataFrame:
        cells = (
            base.groupBy(F.col(fcol).cast("string").alias("fv"), "label")
            .agg(F.sum("c").alias("c"))
        )
        marg = cells.groupBy("fv").agg(F.sum("c").alias("cf"))
        j = (
            cells.join(marg, "fv")
            .crossJoin(F.broadcast(tot))
        )
        return j.agg(
            F.lit(feature).alias("feature"),
            F.countDistinct("fv").cast("bigint").alias("n_values"),
            F.sum(
                (
                    (F.col("c") / n) * F.log(F.col("cf") / F.col("c"))
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("h_cond"),
        )

    feats = [("dow", "dow"), ("month", "mon"), ("segment", "seg")]
    out = one(*feats[0])
    for f in feats[1:]:
        out = out.unionByName(one(*f))

    def feat_entropy(feature: str, fcol: str) -> DataFrame:
        marg = base.groupBy(F.col(fcol).cast("string").alias("fv")).agg(
            F.sum("c").alias("cf")
        )
        return (
            marg.crossJoin(F.broadcast(tot))
            .agg(
                F.lit(feature).alias("feature"),
                F.sum(
                    ((F.col("cf") / n) * F.log(n / F.col("cf"))).cast(
                        "decimal(38,12)"
                    )
                )
                .cast("double")
                .alias("h_feat"),
            )
        )

    hf = feat_entropy(*feats[0])
    for f in feats[1:]:
        hf = hf.unionByName(feat_entropy(*f))
    ranked = (
        out.join(hf, "feature")
        .crossJoin(F.broadcast(h_label))
        .select(
            "feature",
            "n_values",
            F.round("h_label", 6).alias("h_label"),
            F.round("h_cond", 6).alias("h_cond"),
            F.round(F.col("h_label") - F.col("h_cond"), 6).alias("info_gain"),
            F.round(
                (F.col("h_label") - F.col("h_cond")) / F.col("h_feat"), 6
            ).alias("gain_ratio"),
        )
    )
    wr = Window.orderBy(F.col("info_gain").desc(), "feature")
    return ranked.withColumn(
        "rank", F.row_number().over(wr).cast("bigint")
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# x363 — split-conformal prediction interval (wave 77)
# ---------------------------------------------------------------------------

CONFORMAL_SPLIT = "1999-01-01"  # calibrate before, evaluate after
CONFORMAL_ALPHA = 0.1  # target 90% coverage


def x363_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the daily-revenue
    trend model: fit OLS revenue~day on the calibration window, take
    the ⌈(n+1)(1−α)⌉-th smallest absolute residual as the
    distribution-free radius q̂, then report EMPIRICAL coverage of
    ŷ±q̂ on the held-out window — the finite-sample-valid interval
    machinery modern forecasting stacks wrap around any point model.

    The corpus collapses to the calendar-bounded daily series; the
    fit is closed-form on decimal sufficient statistics, the order
    statistic is one row_number pick over the bounded calibration
    residuals (date tiebreak → engine-exact), and coverage is one
    grouped aggregate over the eval window.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(dsum(F.col("o_totalprice"), "y"))
        .select(
            "d",
            (F.col("d") >= F.lit(CONFORMAL_SPLIT).cast("date")).alias(
                "held_out"
            ),
            F.datediff(F.col("d"), F.lit("1995-01-01").cast("date"))
            .cast("double")
            .alias("t"),
            "y",
        )
    )
    calib = daily.filter(~F.col("held_out"))
    fit = calib.agg(
        F.count(F.lit(1)).alias("n"),
        dsum_expr("t", "st"),
        dsum_expr("y", "sy"),
        dsum_expr("t * t", "stt"),
        dsum_expr("t * y", "sty"),
    ).select(
        "n",
        (
            (F.col("sty") - F.col("st") * F.col("sy") / F.col("n"))
            / (F.col("stt") - F.col("st") * F.col("st") / F.col("n"))
        ).alias("slope"),
        (F.col("sy") / F.col("n")).alias("ybar"),
        (F.col("st") / F.col("n")).alias("tbar"),
    )
    resid = F.abs(
        F.col("y")
        - (F.col("ybar") + F.col("slope") * (F.col("t") - F.col("tbar")))
    )
    calib_r = calib.crossJoin(F.broadcast(fit)).select(
        "n", resid.alias("r"), "d"
    )
    # conformal rank k = ceil((n+1)(1-alpha)), clamped to n
    k = F.least(
        F.ceil((F.col("n") + 1) * F.lit(1.0 - CONFORMAL_ALPHA)).cast(
            "bigint"
        ),
        F.col("n").cast("bigint"),
    )
    qhat = (
        calib_r.withColumn(
            "rk", F.row_number().over(Window.orderBy("r", "d"))
        )
        .filter(F.col("rk") == k)
        .select(F.col("n").alias("n_calib"), F.col("r").alias("q_hat"))
    )
    ev = daily.filter(F.col("held_out")).crossJoin(F.broadcast(fit))
    return (
        ev.select(resid.alias("r"))
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.max("n_calib").cast("bigint").alias("n_calib"),
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.round(F.max("q_hat"), 3).alias("q_hat"),
            F.lit(1.0 - CONFORMAL_ALPHA).alias("target_coverage"),
            F.round(
                F.sum(
                    F.when(F.col("r") <= F.col("q_hat"), 1).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("empirical_coverage"),
        )
    )


# ---------------------------------------------------------------------------
# x364 — energy distance two-sample test (wave 77)
# ---------------------------------------------------------------------------

ENERGY_SPLIT = "1998-01-01"


def x364_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance between the pre- and post-1998 daily-revenue
    distributions: E = 2·E|X−Y| − E|X−X′| − E|Y−Y′| — the
    characteristic-function two-sample test that is zero iff the
    distributions match, catching shape changes a mean test (x243) or
    even KS (x291) can under-weight in the tails.

    All three pairwise expectations are self-/cross-joins of the
    calendar-bounded daily relation (pair count is a CALENDAR
    constant — ~3M pairs regardless of corpus size), each collapsing
    immediately to one decimal sum; no row ever fans out past the
    bounded series.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(dsum(F.col("o_totalprice"), "rev"))
        .select(
            "rev",
            (F.col("d") >= F.lit(ENERGY_SPLIT).cast("date")).alias("post"),
        )
    )
    x = daily.filter(~F.col("post")).select(F.col("rev").alias("vx"))
    y = daily.filter(F.col("post")).select(F.col("rev").alias("vy"))

    def pair_sum(a: DataFrame, b: DataFrame, ca: str, cb: str, alias: str):
        return a.crossJoin(b).agg(
            dsum_expr(f"abs({ca} - {cb})", alias),
            F.count(F.lit(1)).alias(f"{alias}_n"),
        )

    xy = pair_sum(x, y.select(F.col("vy")), "vx", "vy", "sxy")
    xx = pair_sum(x, x.select(F.col("vx").alias("vx2")), "vx", "vx2", "sxx")
    yy = pair_sum(y, y.select(F.col("vy").alias("vy2")), "vy", "vy2", "syy")
    nx = x.agg(F.count(F.lit(1)).alias("n_pre"))
    ny = y.agg(F.count(F.lit(1)).alias("n_post"))
    exy = F.col("sxy") / F.col("sxy_n")
    exx = F.col("sxx") / F.col("sxx_n")
    eyy = F.col("syy") / F.col("syy_n")
    return (
        xy.crossJoin(F.broadcast(xx))
        .crossJoin(F.broadcast(yy))
        .crossJoin(F.broadcast(nx))
        .crossJoin(F.broadcast(ny))
        .select(
            F.col("n_pre").cast("bigint").alias("n_pre"),
            F.col("n_post").cast("bigint").alias("n_post"),
            F.round(exy, 3).alias("mean_cross_dist"),
            F.round(exx, 3).alias("mean_within_pre"),
            F.round(eyy, 3).alias("mean_within_post"),
            F.round(2.0 * exy - exx - eyy, 3).alias("energy_dist"),
        )
    )


# ---------------------------------------------------------------------------
# x365 — population stability index drift monitor (wave 77)
# ---------------------------------------------------------------------------

PSI_SPLIT = "1998-01-01"
# Fixed log10-width bins: bin = floor(PSI_BINS_PER_DECADE·log10(v)).
# Data-INDEPENDENT edges on purpose — decile-of-baseline edges would
# need a global order statistic per snapshot at 100 TB, while fixed
# log bins make every snapshot embarrassingly parallel and directly
# comparable across time.
PSI_BINS_PER_DECADE = 4
PSI_EPS = 1.0e-6  # zero-cell clamp (standard PSI practice)


def x365_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the order-value distribution,
    pre- vs post-1998: PSI = Σ_bins (p−q)·ln(p/q) with fixed
    log-width bins and the conventional ε clamp for empty cells —
    the model-monitoring drift number (PSI < 0.1 stable, 0.1–0.25
    watch, > 0.25 act) complementing x233's KL and x307's JS, which
    bin by category rather than value.

    One corpus pass to (period, bin) counts (map-side combined; bin
    count is bounded by the price range's decades × bins-per-decade),
    a full outer alignment of the two bounded histograms, and the
    PSI sum over that bounded relation.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        (F.to_date("o_orderdate") >= F.lit(PSI_SPLIT).cast("date")).alias(
            "post"
        ),
        F.floor(
            F.log10(F.col("o_totalprice")) * PSI_BINS_PER_DECADE
        ).alias("bin"),
    )
    cells = orders.groupBy("post", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    base = cells.filter(~F.col("post")).select("bin", F.col("c").alias("cb"))
    cur = cells.filter(F.col("post")).select("bin", F.col("c").alias("cc"))
    tot = cells.agg(
        F.sum(F.when(~F.col("post"), F.col("c")).otherwise(0)).alias("nb"),
        F.sum(F.when(F.col("post"), F.col("c")).otherwise(0)).alias("nc"),
    )
    joined = (
        base.join(cur, "bin", "full")
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
            F.coalesce(F.col("cc"), F.lit(0)).alias("cc"),
            F.greatest(
                F.coalesce(F.col("cb"), F.lit(0)) / F.col("nb").cast("double"),
                F.lit(PSI_EPS),
            ).alias("p"),
            F.greatest(
                F.coalesce(F.col("cc"), F.lit(0)) / F.col("nc").cast("double"),
                F.lit(PSI_EPS),
            ).alias("q"),
        )
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        joined.select(
            F.col("bin").cast("int").alias("bin"),
            F.col("cb").cast("bigint").alias("n_baseline"),
            F.col("cc").cast("bigint").alias("n_current"),
            F.round(
                (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")),
                9,
            ).alias("contrib"),
            F.round(
                F.sum(
                    (
                        (F.col("p") - F.col("q"))
                        * F.log(F.col("p") / F.col("q"))
                    ).cast("decimal(38,12)")
                )
                .over(w)
                .cast("double"),
                6,
            ).alias("psi"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# x366 — log-rank test between survival curves (wave 77)
# ---------------------------------------------------------------------------

LOGRANK_REGION = "ASIA"  # group 1 = customers in this region


def x366_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing the x356 repeat-purchase survival
    curves of ASIA-region customers vs the rest: at each event time,
    observed group-1 events vs the hypergeometric expectation under
    H₀ (identical hazards), Z = Σ(O−E)/√ΣV — the standard "do these
    cohorts churn differently" decision number.

    Same bounded shape as x356: gaps collapse to the calendar-bounded
    (gap, group) distribution, at-risk counts are integer prefix sums
    per group, and the O/E/V sums run over that metadata-sized
    relation.  The region flag enters through the contract-bounded
    nation⋈region dimension (broadcast by size, 25 rows).
    """
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    asia_nations = (
        nat.join(reg, nat.n_regionkey == reg.r_regionkey)
        .filter(F.col("r_name") == LOGRANK_REGION)
        .select(F.col("n_nationkey").alias("nk"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(asia_nations),
            F.col("c_nationkey") == F.col("nk"),
            "left",
        )
        .select(
            F.col("c_custkey").alias("c"),
            F.col("nk").isNotNull().cast("int").alias("g"),
        )
    )
    censor = F.lit(KM_CENSOR_DATE).cast("date")
    purch = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("c"), F.to_date("o_orderdate").alias("d")
        )
        .distinct()
        .join(cust, "c")
    )
    nxt = F.lead("d").over(Window.partitionBy("c").orderBy("d"))
    spans = purch.select(
        "g",
        F.when(nxt.isNotNull(), F.datediff(nxt, F.col("d")))
        .otherwise(F.datediff(censor, F.col("d")))
        .alias("gap"),
        F.when(nxt.isNotNull(), 1).otherwise(0).alias("event"),
    )
    dist = spans.groupBy("gap").agg(
        F.sum(F.when(F.col("g") == 1, F.col("event")).otherwise(0)).alias("d1"),
        F.sum(F.when(F.col("g") == 0, F.col("event")).otherwise(0)).alias("d0"),
        F.sum(F.when(F.col("g") == 1, 1 - F.col("event")).otherwise(0)).alias(
            "c1"
        ),
        F.sum(F.when(F.col("g") == 0, 1 - F.col("event")).otherwise(0)).alias(
            "c0"
        ),
    )
    wg = Window.orderBy("gap")
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    def risk(dcol: str, ccol: str, alias: str) -> Column:
        removed = F.col(dcol) + F.col(ccol)
        return (
            F.sum(removed).over(wall)
            - F.coalesce(
                F.sum(removed).over(
                    wg.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias(alias)

    at_risk = dist.select(
        "gap", "d1", "d0", risk("d1", "c1", "n1"), risk("d0", "c0", "n0")
    ).filter(F.col("d1") + F.col("d0") > 0)
    dt = F.col("d1") + F.col("d0")
    nt = F.col("n1") + F.col("n0")
    e1 = dt * F.col("n1") / nt.cast("double")
    v = F.when(
        nt > 1,
        dt
        * (F.col("n1") / nt.cast("double"))
        * (1.0 - F.col("n1") / nt.cast("double"))
        * (nt - dt)
        / (nt - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    agg = at_risk.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum(e1.cast("decimal(38,12)")).cast("double").alias("e1"),
        F.sum(v.cast("decimal(38,12)")).cast("double").alias("v1"),
        F.count(F.lit(1)).cast("bigint").alias("n_event_times"),
    )
    return agg.select(
        "n_event_times",
        "o1",
        F.round("e1", 6).alias("e1"),
        F.round("v1", 6).alias("var1"),
        F.round(
            (F.col("o1") - F.col("e1")) / F.sqrt(F.col("v1")), 6
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# x370 — group-sequential A/B monitoring, O'Brien-Fleming (wave 79)
# ---------------------------------------------------------------------------

SEQ_SALT = ":seq"
# Interim-look calendar boundaries (look k = orders strictly before)
SEQ_LOOKS = ("1996-07-01", "1998-01-01", "1999-07-01", "2001-08-02")
# Two-sided O'Brien-Fleming z boundaries for K=4 looks at alpha=0.05
# (Pocock-program values, pinned as literals)
OBF_BOUNDS = (4.049, 2.863, 2.337, 2.024)


def x370_sequential_monitoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring with O'Brien-Fleming spending:
    hash-assign every order to an arm (x37 string-compare trick),
    compute the Welch z of order value at four calendar interim
    looks, and compare each against its OBF boundary — the peeking
    discipline that lets an experiment stop early without inflating
    α, one level up from x243's single-look test.

    One corpus pass to (look-interval, arm) sufficient statistics (8
    rows); looks are CUMULATIVE integer/decimal prefix sums over that
    bounded relation, so adding interim looks costs rows, not scans.
    """
    arm_a = (
        F.substring(
            F.sha2(
                F.concat(F.col("o_orderkey").cast("string"), F.lit(SEQ_SALT)),
                256,
            ),
            1,
            1,
        )
        < "8"
    )
    buck = F.lit(None).cast("int")
    for i in range(len(SEQ_LOOKS) - 1, -1, -1):
        buck = F.when(
            F.to_date("o_orderdate") < F.lit(SEQ_LOOKS[i]).cast("date"),
            F.lit(i + 1),
        ).otherwise(buck)
    per = (
        load_table(spark, sf_dir, "orders")
        .select(
            buck.alias("look"),
            arm_a.cast("int").alias("a"),
            F.col("o_totalprice").alias("y"),
        )
        .filter(F.col("look").isNotNull())
        .groupBy("look", "a")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum_expr("y", "s"),
            dsum_expr("y * y", "ss"),
        )
    )
    wcum = (
        Window.partitionBy("a")
        .orderBy("look")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per.select(
        "look",
        "a",
        F.sum("n").over(wcum).alias("n"),
        F.sum(F.col("s").cast(DECIMAL_T)).over(wcum).cast("double").alias("s"),
        F.sum(F.col("ss").cast(DECIMAL_T)).over(wcum).cast("double").alias("ss"),
    )
    a = cum.filter(F.col("a") == 1).select(
        "look",
        F.col("n").alias("n_a"),
        F.col("s").alias("s_a"),
        F.col("ss").alias("ss_a"),
    )
    b = cum.filter(F.col("a") == 0).select(
        "look",
        F.col("n").alias("n_b"),
        F.col("s").alias("s_b"),
        F.col("ss").alias("ss_b"),
    )
    bounds = None
    for i, z in enumerate(OBF_BOUNDS):
        row = spark.range(1).select(
            F.lit(i + 1).alias("look"), F.lit(z).alias("obf_bound")
        )
        bounds = row if bounds is None else bounds.unionAll(row)
    va = (F.col("ss_a") - F.col("s_a") * F.col("s_a") / F.col("n_a")) / (
        F.col("n_a") - 1.0
    )
    vb = (F.col("ss_b") - F.col("s_b") * F.col("s_b") / F.col("n_b")) / (
        F.col("n_b") - 1.0
    )
    z = (F.col("s_a") / F.col("n_a") - F.col("s_b") / F.col("n_b")) / F.sqrt(
        va / F.col("n_a") + vb / F.col("n_b")
    )
    return (
        a.join(b, "look")
        .join(F.broadcast(bounds), "look")
        .select(
            F.col("look").cast("int").alias("look"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(z, 6).alias("z_score"),
            F.col("obf_bound"),
            (F.abs(z) > F.col("obf_bound")).cast("bigint").alias("crossed"),
        )
        .orderBy("look")
    )


# ---------------------------------------------------------------------------
# x409 — doubly-robust off-policy estimate, AIPW (wave 81; renumbered
# from x372 in round 8 — the id collided with x372_mann_whitney and
# this operator was never registered; now both registered, unique ids)
# ---------------------------------------------------------------------------

AIPW_TARGET_SEGMENT = "AUTOMOBILE"  # target policy: promote this segment


def x409_doubly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust (AIPW) value estimate of x342's target policy:
    v̂ = mean[ Q(x,π(x)) + 1{a=π(x)}/μ(a|x)·(r − Q(x,π(x))) ] with
    the outcome model Q = per-(segment, action) logged mean reward —
    the estimator that stays consistent if EITHER the propensities or
    the outcome model are right, and the reason platforms report DM /
    IPS / AIPW side by side (all three emitted here).

    Same deterministic sha-logged policy as x342 (the oracle replays
    the log bit-for-bit); Q is a 10-row grouped aggregate that joins
    back broadcast; every estimate is one decimal-summed mean.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        dsum_expr("o_totalprice", "r")
    )
    h8 = F.substring(
        F.sha2(
            F.concat(F.col("c_custkey").cast("string"), F.lit(IPS_SALT)), 256
        ),
        1,
        8,
    )
    u = (F.conv(h8, 16, 10).cast("bigint").cast("double") + 0.5) / F.lit(
        4294967296.0
    )
    mu_p = F.when(
        F.col("c_mktsegment") == IPS_SEGMENT, F.lit(IPS_SEG_P)
    ).otherwise(F.lit(IPS_BASE_P))
    logged = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .select(
            "c_mktsegment",
            F.coalesce("r", F.lit(0.0)).alias("r"),
            (u < mu_p).alias("a"),
            mu_p.alias("p_a_true"),
        )
        .withColumn(
            "mu",
            F.when(F.col("a"), F.col("p_a_true")).otherwise(
                1.0 - F.col("p_a_true")
            ),
        )
        .withColumn(
            "pi_a", F.col("c_mktsegment") == AIPW_TARGET_SEGMENT
        )
    )
    q = logged.groupBy("c_mktsegment", "a").agg(
        (
            F.sum(F.col("r").cast(DECIMAL_T)).cast("double")
            / F.count(F.lit(1))
        ).alias("q")
    )
    scored = logged.join(
        F.broadcast(
            q.select(
                F.col("c_mktsegment").alias("q_seg"),
                F.col("a").alias("qa"),
                "q",
            )
        ),
        (F.col("c_mktsegment") == F.col("q_seg"))
        & (F.col("pi_a") == F.col("qa")),
        "left",
    ).select(
        F.coalesce("q", F.lit(0.0)).alias("q_pi"),
        "r",
        "mu",
        (F.col("a") == F.col("pi_a")).alias("match"),
    )
    agg = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("q_pi").cast(DECIMAL_T)).cast("double").alias("s_dm"),
        F.sum(
            F.when(
                F.col("match"), (F.col("r") - F.col("q_pi")) / F.col("mu")
            )
            .otherwise(0.0)
            .cast(DECIMAL_T)
        )
        .cast("double")
        .alias("s_corr"),
        F.sum(
            F.when(F.col("match"), F.col("r") / F.col("mu"))
            .otherwise(0.0)
            .cast(DECIMAL_T)
        )
        .cast("double")
        .alias("s_ips"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("s_dm") / F.col("n"), 4).alias("v_dm"),
        F.round(F.col("s_ips") / F.col("n"), 4).alias("v_ips"),
        F.round(
            (F.col("s_dm") + F.col("s_corr")) / F.col("n"), 4
        ).alias("v_aipw"),
    )


# ---------------------------------------------------------------------------
# x372 — Mann-Whitney U rank-sum test (wave 81)
# ---------------------------------------------------------------------------

MW_Z_CRIT_5 = 1.959963984540054  # two-sided normal 5% (pinned literal)


def x372_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test: do URGENT and LOW-priority orders draw
    from the same order-value distribution?  The rank-based two-sample
    test that needs no normality — the significance-test completion of
    x299 (which computes the SAME U statistic as an AUC, without the
    tie-corrected normal approximation a decision needs).

    No per-row ranking: one grouped aggregate reduces the corpus to
    per-distinct-value arm counts, ``layout._global_running_sum``
    supplies the cumulative B counts (range-bucketed, no unpartitioned
    window), and 2·U = Σ t_a·(2·(cb − t_b) + t_b) is exact integer
    arithmetic summed through decimal.  The tie correction
    Σ(t³ − t) comes from the same relation; z uses the normal
    approximation with ties, no continuity correction (pinned
    convention, mirrored in the oracle).
    """
    from go_mapreduce_spark.operators.layout import _global_running_sum

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    per_val = orders.groupBy(F.col("o_totalprice").alias("val")).agg(
        F.sum((F.col("o_orderpriority") == "1-URGENT").cast("int")).alias("t_a"),
        F.sum((F.col("o_orderpriority") == "5-LOW").cast("int")).alias("t_b"),
    )
    cum = _global_running_sum(per_val, ["val"], F.col("val"), {"t_b": "cb"})
    agg = cum.agg(
        dsum_expr("t_a * (2 * (cb - t_b) + t_b)", "u2"),
        F.sum("t_a").cast("bigint").alias("n_a"),
        F.sum("t_b").cast("bigint").alias("n_b"),
        dsum_expr(
            "(t_a + t_b) * (t_a + t_b) * (t_a + t_b) - (t_a + t_b)", "tie3"
        ),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    u = F.col("u2") / 2.0
    mu = na * nb / 2.0
    var = na * nb / 12.0 * (n + 1.0 - F.col("tie3") / (n * (n - 1.0)))
    z = (u - mu) / F.sqrt(var)
    return agg.select(
        "n_a",
        "n_b",
        F.round(u, 1).alias("u_stat"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > F.lit(MW_Z_CRIT_5)).alias("reject_5pct"),
    )


# ---------------------------------------------------------------------------
# x373 — McNemar's test for paired binary policies (wave 81)
# ---------------------------------------------------------------------------

MCN_CHI2_CRIT_5 = 3.841458820694124  # chi-square(1) 95% (pinned literal)


def x373_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on the DISCORDANT documents of x321's two keep
    policies (content policy vs size policy, binarized at the keep
    boundary): does one filter systematically keep documents the other
    drops?  Cohen's kappa (x321) scores agreement; McNemar is the
    significance test for a systematic DIRECTION in the disagreement —
    the question a curation pipeline asks before replacing one filter
    with the other.

    One corpus pass, two conditional counters (b = A-keep ∧ B-drop,
    c = A-drop ∧ B-keep), continuity-corrected
    χ² = (|b − c| − 1)²/(b + c) on the 1-row result.
    """
    from go_mapreduce_spark.operators.text import _tokens_ascii

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_tok = F.size(_tokens_ascii(F.col("text")))
    ar = F.length(F.regexp_replace("text", "[^A-Za-z]", "")) / F.length("text")
    keep_a = (n_tok >= KAPPA_A_KEEP_TOK) & (ar >= F.lit(KAPPA_A_KEEP_AR))
    keep_b = F.col("n_chars") >= KAPPA_B_KEEP_CHARS
    agg = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((keep_a & ~keep_b).cast("int")).cast("bigint").alias("b_disc"),
        F.sum((~keep_a & keep_b).cast("int")).cast("bigint").alias("c_disc"),
    )
    d = F.abs(F.col("b_disc") - F.col("c_disc")).cast("double") - 1.0
    chi2 = d * d / (F.col("b_disc") + F.col("c_disc")).cast("double")
    return agg.select(
        "n_docs",
        "b_disc",
        "c_disc",
        F.round(chi2, 6).alias("chi2_cc"),
        (chi2 > F.lit(MCN_CHI2_CRIT_5)).alias("reject_5pct"),
    )


# ---------------------------------------------------------------------------
# x374 — Kendall's tau-b on the daily series (wave 81)
# ---------------------------------------------------------------------------


def x374_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between daily order count and daily revenue —
    the concordance twin of Spearman (x290): tau counts pairwise order
    inversions directly, so a single wild day perturbs it by at most
    2/(n(n-1)) (Spearman's rank-variance form is more tie-brittle).

    The corpus reduces to ONE row per order date first (count +
    decimal revenue), so the pairwise stage is calendar-bounded —
    ~2.4k days → ~3M pairs at ANY scale factor, the x300/x364
    discipline.  All pair classifications are exact (integer counts,
    decimal revenue equality), and tau-b's tie denominators come from
    the same pair counts.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.col("o_totalprice").cast(DECIMAL_T)).alias("y"),
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    ax, bx = F.col("a.x"), F.col("b.x")
    ay, by = F.col("a.y"), F.col("b.y")
    pairs = a.join(b, F.col("a.d") < F.col("b.d")).agg(
        F.sum(
            (((ax < bx) & (ay < by)) | ((ax > bx) & (ay > by))).cast("int")
        ).cast("bigint").alias("conc"),
        F.sum(
            (((ax < bx) & (ay > by)) | ((ax > bx) & (ay < by))).cast("int")
        ).cast("bigint").alias("disc"),
        F.sum((ax == bx).cast("int")).cast("bigint").alias("tie_x"),
        F.sum((ay == by).cast("int")).cast("bigint").alias("tie_y"),
        F.count(F.lit(1)).cast("bigint").alias("n0"),
    )
    tau = (F.col("conc") - F.col("disc")).cast("double") / F.sqrt(
        (F.col("n0") - F.col("tie_x")).cast("double")
        * (F.col("n0") - F.col("tie_y")).cast("double")
    )
    return pairs.select(
        "n0",
        "conc",
        "disc",
        "tie_x",
        "tie_y",
        F.round(tau, 6).alias("tau_b"),
    )


# ---------------------------------------------------------------------------
# x375 — precision-recall AUC / average precision (wave 81)
# ---------------------------------------------------------------------------


def x375_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR-AUC) of order value as a classifier score
    for order status (``F`` positive, ``O`` negative) — the
    class-imbalance-honest companion of x299's ROC-AUC: under rare
    positives ROC flatters any scorer, PR does not.

    Same scalable shape as x299: per-distinct-score (pos, total)
    counts, descending-score cumulatives via the range-bucketed
    running-sum machinery (descending = ascending on the NEGATED
    score; distinct scores, so no tie-peer ambiguity), then
    AP = (1/P) Σ_s pos_s · (cpos_s / ctot_s) with each tied score
    treated as ONE block (pinned convention, mirrored in the oracle).
    The per-block precision terms are double ratios of exact integers
    summed through decimal — the engine-stable dsum discipline.
    """
    from go_mapreduce_spark.operators.layout import _global_running_sum

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    per_val = orders.groupBy(F.col("o_totalprice").alias("val")).agg(
        F.sum((F.col("o_orderstatus") == "F").cast("int")).alias("pos"),
        F.sum((F.col("o_orderstatus") == "O").cast("int")).alias("neg"),
    ).withColumn("nval", -F.col("val"))
    cum = _global_running_sum(
        per_val, ["nval"], F.col("nval"), {"pos": "cpos", "neg": "cneg"}
    )
    agg = cum.agg(
        dsum_expr(
            "pos * (CAST(cpos AS DOUBLE) / CAST(cpos + cneg AS DOUBLE))",
            "ap_num",
        ),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
    )
    ap = F.col("ap_num") / F.col("n_pos").cast("double")
    baseline = F.col("n_pos") / (F.col("n_pos") + F.col("n_neg")).cast(
        "double"
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.round(ap, 6).alias("avg_precision"),
        F.round(baseline, 6).alias("baseline"),
        F.round(ap - baseline, 6).alias("lift"),
    )


# ---------------------------------------------------------------------------
# x376 — ridge regression, closed form from sufficient statistics (wave 82)
# ---------------------------------------------------------------------------

RIDGE_LAMBDA = 1.0  # L2 penalty on the two slope coefficients only


def x376_ridge_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression of document length (``n_chars``) on two text
    features — token count and alphabetic-character count — with an
    unpenalized intercept: the regularized linear model a quality
    pipeline fits as a "does metadata match content?" baseline,
    trained ENTIRELY in-plan.  One corpus pass collapses documents to
    ten decimal-exact sufficient statistics, and the 3×3 normal
    equations (X'X + λ·diag(0,1,1)) solve by Cramer's rule as scalar
    expressions on the 1-row result.  No iteration, no driver-side
    linear algebra, no matrix library — the d=3 solve IS the plan
    (x179's power iteration covers the large-d case; closed form wins
    when d is pinned).

    Every downstream number derives from the same double-cast decimal
    sums in one pinned expression shape on both engines, so the
    coefficients and R² are bit-stable.  (lineitem's quantity/price
    columns are generated independently in the fixtures — no signal to
    fit; document length IS structurally explained by its features.)
    """
    from go_mapreduce_spark.operators.text import _tokens_ascii

    li = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    ).select(
        F.size(_tokens_ascii(F.col("text"))).alias("q"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("d"),
        F.col("n_chars").alias("y"),
    )
    s = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum_expr("q", "sq"),
        dsum_expr("d", "sd"),
        dsum_expr("y", "sy"),
        dsum_expr("q * q", "sqq"),
        dsum_expr("q * d", "sqd"),
        dsum_expr("d * d", "sdd"),
        dsum_expr("q * y", "sqy"),
        dsum_expr("d * y", "sdy"),
        dsum_expr("y * y", "syy"),
    )
    n = F.col("n").cast("double")
    lam = F.lit(RIDGE_LAMBDA)
    # A = [[n, sq, sd], [sq, sqq+λ, sqd], [sd, sqd, sdd+λ]], b = [sy, sqy, sdy]
    a11 = F.col("sqq") + lam
    a22 = F.col("sdd") + lam
    sq, sd, sqd = F.col("sq"), F.col("sd"), F.col("sqd")
    sy, sqy, sdy = F.col("sy"), F.col("sqy"), F.col("sdy")
    det = (
        n * (a11 * a22 - sqd * sqd)
        - sq * (sq * a22 - sqd * sd)
        + sd * (sq * sqd - a11 * sd)
    )
    b0 = (
        sy * (a11 * a22 - sqd * sqd)
        - sq * (sqy * a22 - sqd * sdy)
        + sd * (sqy * sqd - a11 * sdy)
    ) / det
    b1 = (
        n * (sqy * a22 - sqd * sdy)
        - sy * (sq * a22 - sqd * sd)
        + sd * (sq * sdy - sqy * sd)
    ) / det
    b2 = (
        n * (a11 * sdy - sqy * sqd)
        - sq * (sq * sdy - sqy * sd)
        + sy * (sq * sqd - a11 * sd)
    ) / det
    # SSE = Σy² − 2·b'X'y + b'X'Xb (unpenalized Gram for the fit metric)
    sse = (
        F.col("syy")
        - 2.0 * (b0 * sy + b1 * sqy + b2 * sdy)
        + (
            b0 * b0 * n
            + b1 * b1 * F.col("sqq")
            + b2 * b2 * F.col("sdd")
            + 2.0 * (b0 * b1 * sq + b0 * b2 * sd + b1 * b2 * sqd)
        )
    )
    sst = F.col("syy") - sy * sy / n
    return s.select(
        "n",
        F.round(b0, 6).alias("coef_intercept"),
        F.round(b1, 6).alias("coef_tokens"),
        F.round(b2, 6).alias("coef_alpha"),
        F.round(1.0 - sse / sst, 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# x379 — k-fold cross-validated ridge (wave 83)
# ---------------------------------------------------------------------------

CV_FOLDS = 5
CV_SALT = "|cvfold"


def x379_cv_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation of the x376 ridge model WITHOUT k
    training passes: because the model is closed-form in sufficient
    statistics, ONE corpus pass groups the ten statistics by
    deterministic fold (hash of doc_id mod K), and each fold's
    leave-that-fold-out coefficients come from DECIMAL subtraction
    (total − fold) on the K-row relation — exact, so the per-fold
    solve is bit-identical to retraining on the complement.  Held-out
    R² per fold then uses the fold's own statistics.  This is the
    distributed-CV shape that matters at 100 TB: K× model quality
    evidence for 1× the scan cost.
    """
    from go_mapreduce_spark.operators.text import _tokens_ascii

    # fold assignment is the repo's engine-portable determinism: first
    # 8 hex chars of a salted sha256, parsed to int (x323's pattern)
    h8 = F.substring(
        F.sha2(F.concat(F.col("doc_id").cast("string"), F.lit(CV_SALT)), 256),
        1,
        8,
    )
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    ).select(
        F.pmod(F.conv(h8, 16, 10).cast("bigint"), F.lit(CV_FOLDS)).alias(
            "fold"
        ),
        F.size(_tokens_ascii(F.col("text"))).alias("q"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("d"),
        F.col("n_chars").alias("y"),
    )

    def dec(e: str, a: str):
        return F.sum(F.expr(e).cast(DECIMAL_T)).alias(a)

    per_fold = docs.groupBy("fold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dec("q", "sq"),
        dec("d", "sd"),
        dec("y", "sy"),
        dec("q * q", "sqq"),
        dec("q * d", "sqd"),
        dec("d * d", "sdd"),
        dec("q * y", "sqy"),
        dec("d * y", "sdy"),
        dec("y * y", "syy"),
    )
    stats = ["n", "sq", "sd", "sy", "sqq", "sqd", "sdd", "sqy", "sdy", "syy"]
    tot = per_fold.agg(
        *[F.sum(c).alias(f"t_{c}") for c in stats]
    )
    j = per_fold.crossJoin(F.broadcast(tot))
    # training statistics = total − fold, exact in decimal
    tr = {c: (F.col(f"t_{c}") - F.col(c)).cast("double") for c in stats[1:]}
    tr["n"] = (F.col("t_n") - F.col("n")).cast("double")
    lam = F.lit(RIDGE_LAMBDA)
    a11 = tr["sqq"] + lam
    a22 = tr["sdd"] + lam
    n, sq, sd, sqd = tr["n"], tr["sq"], tr["sd"], tr["sqd"]
    sy, sqy, sdy = tr["sy"], tr["sqy"], tr["sdy"]
    det = (
        n * (a11 * a22 - sqd * sqd)
        - sq * (sq * a22 - sqd * sd)
        + sd * (sq * sqd - a11 * sd)
    )
    b0 = (
        sy * (a11 * a22 - sqd * sqd)
        - sq * (sqy * a22 - sqd * sdy)
        + sd * (sqy * sqd - a11 * sdy)
    ) / det
    b1 = (
        n * (sqy * a22 - sqd * sdy)
        - sy * (sq * a22 - sqd * sd)
        + sd * (sq * sdy - sqy * sd)
    ) / det
    b2 = (
        n * (a11 * sdy - sqy * sqd)
        - sq * (sq * sdy - sqy * sd)
        + sy * (sq * sqd - a11 * sd)
    ) / det
    # held-out fit on the fold's OWN statistics (double-cast once)
    hn = F.col("n").cast("double")
    hsq, hsd, hsqd = [F.col(c).cast("double") for c in ("sq", "sd", "sqd")]
    hsy, hsqy, hsdy = [F.col(c).cast("double") for c in ("sy", "sqy", "sdy")]
    hsqq, hsdd, hsyy = [F.col(c).cast("double") for c in ("sqq", "sdd", "syy")]
    sse = (
        hsyy
        - 2.0 * (b0 * hsy + b1 * hsqy + b2 * hsdy)
        + (
            b0 * b0 * hn
            + b1 * b1 * hsqq
            + b2 * b2 * hsdd
            + 2.0 * (b0 * b1 * hsq + b0 * b2 * hsd + b1 * b2 * hsqd)
        )
    )
    sst = hsyy - hsy * hsy / hn
    return j.select(
        F.col("fold").cast("int").alias("fold"),
        F.col("n").alias("n_test"),
        F.round(b1, 6).alias("coef_tokens"),
        F.round(b2, 6).alias("coef_alpha"),
        F.round(1.0 - sse / sst, 6).alias("r2_holdout"),
    ).orderBy("fold")


# ---------------------------------------------------------------------------
# x380 — multiplicative seasonal decomposition (wave 83)
# ---------------------------------------------------------------------------


def x380_seasonal_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical multiplicative decomposition of the daily revenue
    series: trend = centered 7-day moving total (exact integer cents;
    only days with a FULL window get one — pinned convention),
    seasonal index per weekday = mean of revenue/trend over those
    days.  The "is Monday really slow or is that the trend?" question
    every forecast backtest (x361) starts from.

    The corpus reduces to one decimal row per day first, so every
    window is calendar-bounded; weekday is pure day-number arithmetic
    ((days since epoch) mod 7) — no engine-specific DOW function, both
    sides share the convention 0 = Thursday (1970-01-01).  The only
    double division is (7·cents)/window_total — a ratio of exact
    integers — and the per-weekday mean sums those doubles through
    decimal.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
                "d"
            )
        )
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)  # daily relation: bounded
    trended = (
        daily.withColumn("win_cents", F.sum("cents").over(w))
        .withColumn("win_n", F.count(F.lit(1)).over(w))
        # full 7-day windows only, and contiguous days (no calendar
        # gaps inside the window): span check pins it
        .withColumn("d_lo", F.min("d").over(w))
        .withColumn("d_hi", F.max("d").over(w))
        .filter(
            (F.col("win_n") == 7)
            & (F.col("d_hi") - F.col("d_lo") == 6)
        )
        .select(
            F.pmod(F.col("d"), F.lit(7)).alias("dow"),
            (
                (F.col("cents") * 7).cast("double")
                / F.col("win_cents").cast("double")
            ).alias("ratio"),
        )
    )
    return (
        trended.groupBy("dow")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            (
                F.sum(F.col("ratio").cast(DECIMAL_T)).cast("double")
                / F.count(F.lit(1))
            ).alias("idx"),
        )
        .select("dow", "n_days", F.round("idx", 6).alias("seasonal_index"))
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# x381 — isotonic regression via the exact max-min formula (wave 83)
# ---------------------------------------------------------------------------


def x381_isotonic_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact isotonic (monotone non-decreasing) regression of daily
    mean order value over time — the shape-constrained trend fit
    (calibration curves, dose-response, monotone drift) that PAVA
    computes sequentially.  Sequential pooling does not distribute,
    but the CLOSED FORM does:

        fit_i = max_{j≤i} min_{k≥j} mean(y_j..y_k)

    The corpus reduces to one exact-cents row per day, interval means
    come from prefix sums on the bounded daily relation, the inner
    min is a grouped aggregate over the O(days²) interval relation
    (calendar-bounded: ~3M pairs at ANY corpus size — the x300/x364
    discipline), and the outer max is a running window max.  Every
    mean is (cents diff)/(count), a ratio of exact integers, so both
    engines agree bit-for-bit.  Output: one row per day with the
    observed and fitted values; monotonicity is pytest-asserted.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
                "d"
            )
        )
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("cents"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )
    wo = Window.orderBy("d")  # daily relation: calendar-bounded
    pre = daily.select(
        "d",
        "cents",
        "cnt",
        F.sum("cents").over(wo).alias("pc"),
        F.sum("cnt").over(wo).alias("pn"),
        F.row_number().over(wo).alias("i"),
    )
    a, b = pre.alias("a"), pre.alias("b")
    intervals = a.join(b, F.col("a.i") <= F.col("b.i")).select(
        F.col("a.i").alias("j"),
        (
            (F.col("b.pc") - F.col("a.pc") + F.col("a.cents")).cast("double")
            / (F.col("b.pn") - F.col("a.pn") + F.col("a.cnt")).cast("double")
        ).alias("mean_jk"),
    )
    mins = intervals.groupBy("j").agg(F.min("mean_jk").alias("m_j"))
    fit = pre.join(mins, pre["i"] == mins["j"]).select(
        "d",
        "i",
        (F.col("cents").cast("double") / F.col("cnt").cast("double")).alias(
            "y"
        ),
        F.max("m_j")
        .over(Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0))
        .alias("f"),
    )
    return fit.select(
        "d",
        F.round(F.col("y") / 100.0, 6).alias("daily_mean"),
        F.round(F.col("f") / 100.0, 6).alias("isotonic_fit"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# x387 — Page-Hinkley drift statistic (wave 85)
# ---------------------------------------------------------------------------

PH_DELTA_CENTS = 500.0  # tolerated per-day mean drift, in cents
PH_LAMBDA_CENTS = 200_000.0  # alarm threshold, in cents


def x387_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley change detection on the daily mean order value —
    the sequential drift alarm (CUSUM's one-sided sibling, x246) that
    monitors a KPI for a sustained upward shift:

        U_t = Σ_{i≤t} (x_i − mean(x_1..x_i) − δ),
        PH_t = U_t − min_{s≤t} U_s,  alarm iff max_t PH_t > λ.

    The running mean at every prefix makes this look sequential, but
    on the calendar-bounded daily relation it is three window passes:
    prefix sums give mean(x_1..x_i) exactly (integer cents / count),
    U is a running decimal sum of the residuals, and PH is U minus its
    running min.  Output: the test summary plus the argmax day — the
    estimated change point.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01")).alias(
                "d"
            )
        )
        .agg(
            F.sum((F.col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("bigint")
            .alias("cents"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
        )
    )
    wo = Window.orderBy("d")  # daily relation: calendar-bounded
    run = daily.select(
        "d",
        (F.col("cents").cast("double") / F.col("cnt").cast("double")).alias(
            "x"
        ),
        (
            F.sum("cents").over(wo).cast("double")
            / F.sum("cnt").over(wo).cast("double")
        ).alias("m"),
    ).select(
        "d", (F.col("x") - F.col("m") - F.lit(PH_DELTA_CENTS)).alias("resid")
    )
    cum = run.select(
        "d",
        F.sum(F.col("resid").cast(DECIMAL_T))
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("u"),
    ).select(
        "d",
        "u",
        (
            F.col("u")
            - F.min("u").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("ph"),
    )
    return cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.max("ph") / 100.0, 6).alias("ph_max"),
        F.max(F.struct(F.col("ph"), F.col("d")))["d"]
        .cast("bigint")
        .alias("changepoint_day"),
        (F.max("ph") > F.lit(PH_LAMBDA_CENTS)).alias("drift_alarm"),
    )


# ---------------------------------------------------------------------------
# x390 — two-proportion z-test with Wilson intervals (wave 86)
# ---------------------------------------------------------------------------

WILSON_Z = 1.959963984540054  # 95% two-sided normal (pinned literal)


def x390_two_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: do lineitems of URGENT orders get
    returned at a different rate than lineitems of LOW-priority
    orders?  Reports the pooled-variance z statistic AND a Wilson
    95% interval per arm — the score interval that behaves at small
    counts and extreme rates where the Wald interval collapses.

    One joined corpus pass reduces to four counters; everything
    downstream is closed-form scalar algebra on the 1-row result in
    one pinned expression shape on both engines.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_returnflag") == "R").alias("ret")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_orderkey"),
        (F.col("o_orderpriority") == "1-URGENT").alias("is_a"),
    )
    agg = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).agg(
        F.count(F.when(F.col("is_a"), 1)).cast("bigint").alias("n_a"),
        F.count(F.when(F.col("is_a") & F.col("ret"), 1))
        .cast("bigint")
        .alias("k_a"),
        F.count(F.when(~F.col("is_a"), 1)).cast("bigint").alias("n_b"),
        F.count(F.when(~F.col("is_a") & F.col("ret"), 1))
        .cast("bigint")
        .alias("k_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ka, kb = F.col("k_a").cast("double"), F.col("k_b").cast("double")
    p1, p2 = ka / na, kb / nb
    pp = (ka + kb) / (na + nb)
    z = (p1 - p2) / F.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    zz = F.lit(WILSON_Z * WILSON_Z)

    def wilson_lo(p, n):
        return (
            p + zz / (2.0 * n)
            - F.lit(WILSON_Z)
            * F.sqrt(p * (1.0 - p) / n + zz / (4.0 * n * n))
        ) / (1.0 + zz / n)

    def wilson_hi(p, n):
        return (
            p + zz / (2.0 * n)
            + F.lit(WILSON_Z)
            * F.sqrt(p * (1.0 - p) / n + zz / (4.0 * n * n))
        ) / (1.0 + zz / n)

    return agg.select(
        "n_a",
        "n_b",
        F.round(p1, 6).alias("rate_urgent"),
        F.round(p2, 6).alias("rate_low"),
        F.round(z, 6).alias("z_score"),
        F.round(wilson_lo(p1, na), 6).alias("ci_lo_urgent"),
        F.round(wilson_hi(p1, na), 6).alias("ci_hi_urgent"),
        F.round(wilson_lo(p2, nb), 6).alias("ci_lo_low"),
        F.round(wilson_hi(p2, nb), 6).alias("ci_hi_low"),
        (F.abs(z) > F.lit(WILSON_Z)).alias("reject_5pct"),
    )


# ---------------------------------------------------------------------------
# x399 — robust location report: median, MAD, robust outliers (wave 90)
# ---------------------------------------------------------------------------

MAD_CONSISTENCY = 1.482602218505602  # 1/Phi^-1(3/4), pinned literal
MAD_Z_CUT = 3.0


def x399_robust_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location/scale report for order values: exact median,
    median absolute deviation, the Gaussian-consistent scaled MAD,
    and the census of |x − med| > 3·1.4826·MAD robust outliers — the
    heavy-tail-proof siblings of mean/stddev/z-score that survive the
    exact corruption x350's Grubbs test hunts.

    Two corpus passes (median, then MAD + census against the 1-row
    broadcast), both exact interpolated percentiles — the x83
    machinery, which already hash-matches DuckDB's quantile_cont.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("x")
    )
    # the 1-row median/MAD relations feed two downstream passes each:
    # localCheckpoint so each corpus pass runs once (x319/x324 rule)
    med = orders.agg(F.percentile("x", 0.5).alias("med")).localCheckpoint()
    dev = orders.crossJoin(F.broadcast(med)).select(
        "med", F.abs(F.col("x") - F.col("med")).alias("ad")
    )
    mad = dev.agg(
        F.percentile("ad", 0.5).alias("mad"), F.max("med").alias("med")
    ).localCheckpoint()
    census = dev.crossJoin(F.broadcast(mad.select("mad"))).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            (
                F.col("ad")
                > F.lit(MAD_Z_CUT) * F.lit(MAD_CONSISTENCY) * F.col("mad")
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_robust_outliers"),
    )
    return census.crossJoin(F.broadcast(mad)).select(
        "n",
        F.round("med", 6).alias("median"),
        F.round("mad", 6).alias("mad"),
        F.round(F.col("mad") * F.lit(MAD_CONSISTENCY), 6).alias(
            "mad_scaled"
        ),
        "n_robust_outliers",
    )


# ---------------------------------------------------------------------------
# x405 — exponential goodness-of-fit of inter-arrival times (wave 93)
# ---------------------------------------------------------------------------


def x405_exponential_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are per-user event inter-arrival times exponential (i.e., is
    arrival a Poisson process)?  MLE fit λ̂ = 1/mean, then the exact
    Kolmogorov distance between the empirical CDF and the fitted
    1 − e^{−λx} — x291's machinery pointed at a PARAMETRIC null
    instead of a second sample, with the KS jump evaluated on BOTH
    sides of each empirical step (the sup lives at a step edge).

    Gaps are integer microseconds (exact), the empirical CDF comes
    from per-distinct-gap counts + the range-bucketed running sum (no
    unpartitioned window), and λ̂ enters as a 1-row broadcast.
    """
    from go_mapreduce_spark.operators.layout import _global_running_sum

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "user_id",
            (
                F.unix_micros("ts")
                - F.unix_micros(F.lag("ts").over(w))
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0))
    )
    per_gap = gaps.groupBy(F.col("gap_us").alias("g")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cum = _global_running_sum(per_gap, ["g"], F.col("g"), {"cnt": "ccnt"})
    lam = gaps.agg(
        (
            F.count(F.lit(1)).cast("double")
            / F.sum(F.col("gap_us").cast(DECIMAL_T)).cast("double")
        ).alias("lam"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).localCheckpoint()
    scored = cum.crossJoin(F.broadcast(lam)).select(
        "n",
        F.abs(
            F.col("ccnt") / F.col("n").cast("double")
            - (1.0 - F.exp(-F.col("lam") * F.col("g").cast("double")))
        ).alias("d_hi"),
        F.abs(
            (F.col("ccnt") - F.col("cnt")) / F.col("n").cast("double")
            - (1.0 - F.exp(-F.col("lam") * F.col("g").cast("double")))
        ).alias("d_lo"),
    )
    d = scored.agg(
        F.max("n").alias("n"),
        F.max(F.greatest("d_hi", "d_lo")).alias("d_stat"),
    )
    return d.crossJoin(F.broadcast(lam.select("lam"))).select(
        "n",
        F.round(F.lit(1e6) * F.col("lam"), 6).alias("lambda_per_sec"),
        F.round("d_stat", 6).alias("d_stat"),
        F.round(F.lit(KS_C_05) / F.sqrt(F.col("n").cast("double")), 6).alias(
            "crit_5pct"
        ),
        (
            F.col("d_stat")
            > F.lit(KS_C_05) / F.sqrt(F.col("n").cast("double"))
        ).alias("reject_5pct"),
    )


# ---------------------------------------------------------------------------
# x407 — Benjamini-Yekutieli FDR under arbitrary dependence (wave 94)
# ---------------------------------------------------------------------------

# BY harmonic correction c(m) = Σ_{k=1..m} 1/k, then the step-up
# thresholds shrink by it: t_i = Φ⁻¹(1 − α·i / (2·m·c(m)))
BY_HARMONIC = sum(1.0 / k for k in range(1, FDR_M_TESTS + 1))
BY_Z_THRESHOLDS = {
    i: _phi_inv_upper(FDR_ALPHA * i / (2 * FDR_M_TESTS * BY_HARMONIC))
    for i in range(1, FDR_M_TESTS + 1)
}


def x407_fdr_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Yekutieli FDR over the same 25 per-nation hypotheses
    as x296 — the variant that stays valid under ARBITRARY dependence
    between the tests (x296's BH assumes positive dependence; the 25
    nation-vs-rest z's share every "rest" observation, so BY is the
    defensible default).  The harmonic penalty c(25) ≈ 3.816 makes BY
    strictly more conservative: its rejection set is a subset of BH's
    by construction, and the query reports both flags side by side.

    Same plan as x296: one conditional-aggregate pass → 25-row
    relation; both step-up rules run against module-literal z
    thresholds (zero inverse-CDF calls in either engine).
    """
    zs = _nation_welch_zs(spark, sf_dir)

    def thr_map(d):
        return F.create_map(
            *[c for i, t in d.items() for c in (F.lit(i), F.lit(t))]
        )

    w_rank = Window.orderBy(F.abs(F.col("z")).desc(), F.col("n_name"))
    ranked = (
        zs.withColumn("rnk", F.row_number().over(w_rank))
        .withColumn("thr_bh", F.element_at(thr_map(FDR_Z_THRESHOLDS), F.col("rnk")))
        .withColumn("thr_by", F.element_at(thr_map(BY_Z_THRESHOLDS), F.col("rnk")))
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    istar_bh = F.max(
        F.when(F.abs(F.col("z")) >= F.col("thr_bh"), F.col("rnk"))
    ).over(w_all)
    istar_by = F.max(
        F.when(F.abs(F.col("z")) >= F.col("thr_by"), F.col("rnk"))
    ).over(w_all)
    return ranked.select(
        "n_name",
        F.round("z", 6).alias("z_stat"),
        F.col("rnk").cast("bigint").alias("rank"),
        (F.col("rnk") <= F.coalesce(istar_bh, F.lit(0))).alias("rejected_bh"),
        (F.col("rnk") <= F.coalesce(istar_by, F.lit(0))).alias("rejected_by"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# x408 — join-fanout audit (wave 94)
# ---------------------------------------------------------------------------


def x408_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-fanout audit of the orders→lineitem join: the distribution
    of lines per order (min / exact p50 / exact p99 / max / mean) and
    the max-to-mean hot-key ratio — the number that predicts join
    explosion and shuffle skew BEFORE a query hits it (the planning
    input behind the x47 salting and AQE-skew defenses).

    One key-grouped count (the join's own shuffle shape), then exact
    interpolated percentiles over the per-key relation — bounded by
    distinct keys, not rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("fanout")
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.min("fanout").cast("bigint").alias("min_fanout"),
        F.round(F.percentile(F.col("fanout").cast("double"), 0.5), 6).alias(
            "p50_fanout"
        ),
        F.round(F.percentile(F.col("fanout").cast("double"), 0.99), 6).alias(
            "p99_fanout"
        ),
        F.max("fanout").cast("bigint").alias("max_fanout"),
        F.round(
            F.sum(F.col("fanout").cast(DECIMAL_T)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_fanout"),
        F.round(
            F.max("fanout").cast("double")
            / (
                F.sum(F.col("fanout").cast(DECIMAL_T)).cast("double")
                / F.count(F.lit(1))
            ),
            6,
        ).alias("hot_key_ratio"),
    )
