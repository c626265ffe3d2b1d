"""Extended relational surface: rollup, JSON, as-of join, range join,
set ops, scalar functions (SURVEY.md §2.B capability matrix rows the
reference lacks entirely).

Every query keeps the scale rules: dimension/band tables broadcast,
JSON parsing stays JVM-side (get_json_object), as-of joins avoid the
naive cross product by pre-filtering on the equi-key before ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from go_mapreduce_spark import scratch
from go_mapreduce_spark.functions.numeric import dsum, dsum_expr
from go_mapreduce_spark.sources.registry import load_table


def x14_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: (flag, status) → (flag) → grand total.

    Spark plans rollup as a single Expand + hash aggregate — one scan,
    one shuffle, all grouping levels computed together (not one pass
    per level).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_quantity"), "sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def x29_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation: all 2^2 grouping sets of (status, priority).

    Same single-Expand plan as rollup — grouping-set count multiplies
    the pre-aggregation input, not the number of passes.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "total_price"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def x30_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts, one column per event type.

    Pivot with an EXPLICIT value list compiles to conditional
    aggregation (one pass, no second job to discover values) — always
    pass the list at scale.
    """
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    out = pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in types],
    )
    return out.orderBy("user_id")


def x15_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over events.props (string JSON column).

    get_json_object is a JVM-side expression — no Python, no UDF; at
    100 TB prefer parsing once via from_json into a struct column if
    multiple paths are read (single parse), which this single-path
    query doesn't need.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select(F.pmod(k, F.lit(10)).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "total_value"))
        .orderBy("k_bucket")
    )


def x16_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the same user's most
    recent click at-or-before the purchase time (left: purchases with
    no prior click keep NULL).

    Implementation: equi-join on user_id bounded by the range
    predicate, then keep the latest click per purchase via a window.
    At 100 TB the right physical shape is the same equi-key shuffle —
    per-user event lists are small, so the range filter + rank stays
    in-partition; a full interval/BNL join is never needed.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = purchases.join(
        clicks,
        on=[
            purchases.user_id == clicks.user_id,
            clicks.click_ts <= purchases.purchase_ts,
        ],
        how="left",
    ).select(
        purchases.user_id, "purchase_id", "purchase_ts", "click_id", "click_ts"
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("click_ts").desc_nulls_last(), F.col("click_id").desc_nulls_last()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "purchase_id", "click_id")
        .orderBy("purchase_id")
    )


def x31_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the spark.sql surface:
    customers with above-nation-average account balance.

    Exercises (a) the SQL API over registered temp views and (b)
    Catalyst's subquery decorrelation — the correlated scalar subquery
    rewrites to an aggregate + join (no per-row re-execution; verify
    in the plan: one aggregate over customer grouped by nation,
    joined back).
    """
    from go_mapreduce_spark.sources.registry import load_table as _lt

    _lt(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey,
               ROUND(c_acctbal, 6) AS acctbal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c2.c_acctbal)
                           FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey
        """
    )


_QTY_BANDS = [(0, 10, "low"), (10, 25, "mid"), (25, 40, "high"), (40, 60, "xl")]


def x17_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: lineitem rows bucketed by quantity bands.

    The band table is tiny → broadcast nested-loop join; the fact
    side streams through without shuffling.  (With a large band table
    the scale path is interval partitioning / Spark's range-join hints
    — not needed for dimension-sized bands.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(_QTY_BANDS, "lo int, hi int, band string")
    return (
        li.join(
            F.broadcast(bands),
            (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice"), "sum_price"),
        )
        .orderBy("band")
    )


def x18_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference: users who viewed but never purchased."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    # subtract == ANSI EXCEPT (distinct); plans as dedup + left-anti
    return views.subtract(purchases).orderBy("user_id")


def x32_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics) of two event streams, re-aggregated.

    union is a zero-shuffle concatenation of partitions; only the
    downstream groupBy shuffles.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    return (
        clicks.unionAll(views)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_interactions"))
        .orderBy("user_id")
    )


def x33_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation + array functions: per user, the sorted set
    of event types (canonical CSV form), its size, and a membership
    test.

    collect_set has nondeterministic order — array_sort makes the
    value canonical, and array_join emits it as a scalar string (the
    rule for ANY array-valued aggregate under cross-engine hash
    comparison: arrays are engine-internal, the canonical serialized
    form is the contract)."""
    ev = load_table(spark, sf_dir, "events")
    types = F.array_sort(F.collect_set("event_type"))
    return (
        ev.groupBy("user_id")
        .agg(types.alias("types"))
        .select(
            "user_id",
            F.array_join("types", ",").alias("types_csv"),
            F.size("types").cast("bigint").alias("n_types"),
            F.array_contains("types", "purchase").alias("is_buyer"),
        )
        .orderBy("user_id")
    )


def x28_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status z-score of order totals — window-function plan.

    (x − avg over w) / stddev_samp over w with
    w = PARTITION BY o_orderstatus: zero Python, one shuffle on the
    group key, per-partition parallelism regardless of group count.
    The applyInPandas formulation of the same query lives in
    operators/udfs.grouped_zscore_pandas as the grouped-map UDF demo
    (pytest-equivalence-checked) — a whole-group pandas frame is a
    scale-killer when groups are unbounded, so the declared plan is
    this one.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus")
    z = (F.col("o_totalprice") - F.avg("o_totalprice").over(w)) / F.stddev_samp(
        "o_totalprice"
    ).over(w)
    return (
        orders.select(
            "o_orderkey", "o_orderstatus", F.round(z, 6).alias("z")
        )
        .orderBy("o_orderkey")
    )


def x58_window_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining analytic-window functions in one declared query:
    lag, dense_rank, percent_rank, ntile — per order-status, ordered
    by (o_totalprice, o_orderkey) so ties are deterministic.

    One shuffle on the partition key + one in-partition sort serves
    all four functions (a single Window physical operator); adding
    functions to an existing frame is free, which is why a reporting
    layer should stack them rather than re-window per metric.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return (
        orders.select(
            "o_orderkey",
            "o_orderstatus",
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.dense_rank().over(w).cast("bigint").alias("drank"),
            F.round(F.percent_rank().over(w), 6).alias("prank"),
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
        )
        .orderBy("o_orderkey")
    )


def x34_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the §2.B aggregation shape rollup and
    cube don't cover: an arbitrary list of grouping columns,
    ((returnflag), (linestatus), ()) — per-flag totals, per-status
    totals, and the grand total in ONE pass.

    Same single-Expand physical plan as rollup/cube: the grouping-set
    list multiplies pre-aggregation rows (3× here), never the number
    of scans.  Expressed through the SQL surface (GROUPING SETS has no
    DataFrame-API equivalent) with the decimal-sum discipline inline.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
        """
    )


def x46_array_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column:
    dimension, L2 norm, mean element, max |element| — transform /
    aggregate / array_max staying entirely JVM-side (the §2.B "array"
    scalar-function row, exercised on real vector data).

    Per-element double casts on BOTH engines (the floats are float32
    in parquet; summing in float32 order-dependently would break hash
    parity).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sumsq = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    total = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x)
    return (
        emb.select(
            "vec_id",
            F.size("embedding").cast("bigint").alias("dim"),
            F.round(F.sqrt(sumsq), 6).alias("l2_norm"),
            F.round(total / F.size("embedding"), 6).alias("mean_elem"),
            F.round(F.array_max(F.transform(v, F.abs)), 6).alias("max_abs"),
        )
        .orderBy("vec_id")
    )


def x19_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function sampler (string/date/math) with exact
    cross-engine semantics: upper/substring/concat, year/month/
    date_trunc, abs/floor/round."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return orders.select(
        "o_orderkey",
        F.upper(F.substring("o_orderpriority", 1, 8)).alias("prio_prefix"),
        F.concat_ws("#", "o_orderstatus", "o_orderpriority").alias("status_tag"),
        F.year("o_orderdate").cast("bigint").alias("order_year"),
        F.month("o_orderdate").cast("bigint").alias("order_month"),
        F.date_trunc("month", "o_orderdate").alias("order_month_start"),
        F.floor(F.col("o_totalprice") / 1000).cast("bigint").alias("price_k"),
        F.round(F.sqrt(F.abs(F.col("o_totalprice"))), 6).alias("price_sqrt"),
    ).orderBy("o_orderkey")


def x67_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user modal event_type (most frequent; ties break to the
    lexicographically smallest type — deterministic, unlike bare
    ``mode()``), plus its count.

    Plan: one partial-aggregated count per (user, type), then an
    in-partition window rank — two narrow shuffles on user-keyed
    data, no row explosion.  The tie rule is part of the declared
    semantics so the oracle replays it exactly.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("modal_type"),
            F.col("n").alias("n_events"),
        )
        .orderBy("user_id")
    )


def x68_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: lineitem's four numeric measures stacked into
    (measure, value) rows — the inverse of x30's pivot.

    ``unpivot`` is pure per-row expression fan-out (a generate node,
    no shuffle): each input row emits 4 output rows at scan speed;
    the aggregate after it is the usual partial+final sum.
    """
    li = load_table(spark, sf_dir, "lineitem")
    melted = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return (
        melted.groupBy("l_returnflag", "measure")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("val"), "total"),
        )
        .orderBy("l_returnflag", "measure")
    )


PRICING_CUTOFF = "1998-09-01"


def x79_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical scan-heavy
    report (filter -> wide partial aggregate -> tiny final group).

    The shape the reference's map+reduce wordcount generalizes to in
    a warehouse (reference mapreduce/mapper.go + reducer.go roles):
    per-split partial sums, one shuffle of 6 aggregate cells per
    (returnflag, linestatus) group.  The shipdate filter reaches the
    parquet scan (PushedFilters), products are evaluated per-row in
    IEEE double (bit-identical on any engine), and every sum goes
    through exact decimal (functions/numeric.py) so the report is
    reproducible at any parallelism.  Group cardinality is ~6 rows
    regardless of input scale — the final shuffle is constant-size.
    """
    from go_mapreduce_spark.functions.numeric import davg

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit(PRICING_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum_expr("l_extendedprice * (1.0 - l_discount)", "sum_disc_price"),
            dsum_expr(
                "l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", "sum_charge"
            ),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def x92_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation with its share of the region total and rank
    within region — the percent-of-parent report every BI layer ships.

    The q5 star join (all dims broadcast) collapses to a
    |nations|-row relation; the share/rank windows run over THAT.
    The window sum stays in exact decimal (order-invariant), and the
    share division happens once on the already-exact doubles — so the
    report hashes identically at any parallelism.  Rank orders by the
    exact decimal with the nation name as tie-break.
    """
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                F.expr("l_extendedprice * (1.0 - l_discount)").cast("decimal(38,6)")
            ).alias("rev_dec")
        )
    )
    w = Window.partitionBy("r_name")
    return (
        rev.select(
            "r_name",
            "n_name",
            F.col("rev_dec").cast("double").alias("revenue"),
            F.round(
                F.col("rev_dec").cast("double")
                / F.sum("rev_dec").over(w).cast("double"),
                6,
            ).alias("share"),
            F.rank()
            .over(w.orderBy(F.col("rev_dec").desc(), F.col("n_name")))
            .cast("bigint")
            .alias("rnk"),
        )
        .orderBy("r_name", "n_name")
    )


def x93_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG/string_agg surface: each order's part keys as one
    sorted comma-joined string.

    ``collect_list`` is partition-order-nondeterministic, so the
    deterministic contract is sort-then-join (array_sort before
    array_join) — the idiom that makes group concatenation safe to
    hash-compare at any parallelism.  One shuffle on the group key;
    basket arrays are bounded by order size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("l_partkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("parts"),
        )
        .orderBy("l_orderkey")
    )


Q3_SEGMENT = "BUILDING"
Q3_CUTOFF = "1998-06-01"
Q3_TOP_N = 10


def x97_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority report: unshipped orders of
    one market segment ranked by revenue — filter + 3-way join +
    group + top-k, the other canonical warehouse benchmark shape.

    Both date predicates and the segment filter push to their scans;
    customer (filtered to one segment) is still data-sized (~1/5 of
    customers), so it carries no broadcast hint — the planner's size
    statistics pick broadcast at fixture scale (the plan test pins
    that) and a shuffled join beyond the threshold; revenue goes
    through exact decimal so the top-k ordering is deterministic at
    any parallelism (ties broken by orderkey), and the final
    ``orderBy + limit`` plans as TakeOrderedAndProject — per-partition
    heaps, no global sort.
    """
    cutoff = F.lit(Q3_CUTOFF).cast("timestamp")
    customer = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                F.expr("l_extendedprice * (1.0 - l_discount)").cast("decimal(38,6)")
            ).alias("rev_dec")
        )
        .select(
            "l_orderkey",
            "o_orderdate",
            "o_orderpriority",
            F.col("rev_dec").cast("double").alias("revenue"),
        )
        .orderBy(F.col("rev_dec").desc(), F.col("l_orderkey"))
        .limit(Q3_TOP_N)
    )


Q10_CUTOFF = "1997-01-01"
Q10_TOP_N = 20


def x98_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: customers ranked by
    revenue lost to returns in a date window, with their nation.

    The fact side carries two pushed filters (return flag + order
    date through the join); nation broadcasts; customer joins by key
    AFTER the per-customer aggregate has collapsed the fact volume —
    the aggregate-then-join order that keeps the wide customer
    attributes out of the fact shuffle.  Top-k is heap-based, exact
    decimal keeps the ranking deterministic.
    """
    cutoff = F.lit(Q10_CUTOFF).cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= cutoff)
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.expr("l_extendedprice * (1.0 - l_discount)").cast("decimal(38,6)")
            ).alias("rev_dec")
        )
    )
    return (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("rev_dec").cast("double").alias("revenue"),
        )
        .orderBy(F.col("rev_dec").desc(), F.col("c_custkey"))
        .limit(Q10_TOP_N)
    )


def x125_sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers solely responsible for returns on multi-supplier
    orders: for each order with ≥ 2 distinct suppliers where EXACTLY
    one supplier has any returned line (l_returnflag = 'R'), charge
    that supplier; report per-supplier order counts, top 20.

    The TPC-H Q21 shape (exists / not-exists over order line groups)
    re-expressed as layered aggregation — per-(order, supplier) flags,
    per-order counts, a filter, then a per-supplier rollup — which is
    both clearer and cheaper than correlated EXISTS subqueries: one
    shuffle on orderkey (the two window counts share it), one on
    suppkey, and a broadcast join to pick up supplier names.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    # pre-partition on orderkey ALONE: hash(orderkey) clusters every
    # (orderkey, suppkey) group too, so the aggregate AND both window
    # counts run on ONE exchange instead of two
    per_os = (
        li.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max((F.col("l_returnflag") == "R").cast("int")).alias("has_r"))
    )
    per_order = per_os.withColumn(
        "n_supp", F.count(F.lit(1)).over(Window.partitionBy("l_orderkey"))
    ).withColumn(
        "n_r_supp", F.sum("has_r").over(Window.partitionBy("l_orderkey"))
    )
    culprits = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_r_supp") == 1) & (F.col("has_r") == 1)
    )
    return (
        culprits.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        # supplier is data-sized: no hint — the culprit aggregate is
        # the small side and AQE broadcasts it, not the base table
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(F.col("s_name").alias("supplier"), "n_orders")
        .orderBy(F.col("n_orders").desc(), F.col("supplier").asc())
        .limit(20)
    )


def x126_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation count and balance-sum of "under-engaged high-value"
    customers: account balance above the global average, order count
    below HALF the average order count — the TPC-H Q22 "global sales
    opportunity" shape adapted to a fixture where every customer has
    orders (a pure no-orders anti-join is degenerate here; q10/x52
    cover anti joins).

    Both global averages stay in-plan (1-row aggregates broadcast via
    cross join — never a driver collect), order counts ride one
    shuffle on custkey, and the nation lookup broadcasts.  No
    correlated per-row execution anywhere — Catalyst sees one scan
    per table.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    oc = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    avgs = cust.agg(F.avg("c_acctbal").alias("a_bal")).crossJoin(
        oc.agg(F.avg("n_orders").alias("a_ord"))
    )
    idle = (
        cust.join(oc, "c_custkey")
        .crossJoin(F.broadcast(avgs))
        .filter(
            (F.col("c_acctbal") > F.col("a_bal"))
            & (F.col("n_orders") < F.col("a_ord") * 0.5)
        )
    )
    return (
        idle.join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 4).alias("total_balance"),
        )
        .orderBy("nation")
    )


def x131_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of parts on (cheaper price, larger
    size): a part is on the frontier iff no other part is at most its
    price AND at least its size with one strict — the classic
    two-criteria skyline (cheapest-per-capability catalog audit).

    The O(N²) NOT-EXISTS definition (what the oracle runs) collapses
    to a single sorted sweep: per price level take the max size, then
    a part survives iff its size equals its price-level max AND
    strictly exceeds the running max size over all STRICTLY cheaper
    levels.

    The sweep's prefix-max is computed WITHOUT an unpartitioned
    window (distinct-price cardinality is unbounded in principle, so
    a global sweep would be a single-task stage at scale): price
    levels range-bucket on ``approx_percentile`` split points, the
    running max runs partitioned by bucket, and the cross-bucket
    carry-in is a prefix max over ≤ 32 per-bucket maxes — computed
    driver-side from a bounded collect and embedded as a literal
    map.  Every price in a lower bucket is strictly cheaper than
    every price in a higher one, and equal prices share a bucket, so
    ``run_cheaper = greatest(carry_in, within_bucket_prefix)``
    reproduces the global sweep exactly.  Exact ties on both criteria
    all stay on the frontier (neither dominates).
    """
    part = load_table(spark, sf_dir, "part")
    per_price = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("pmax")
    )

    n_splits = 32
    fracs = [i / n_splits for i in range(1, n_splits)]
    row = per_price.select(
        F.percentile_approx("p_retailprice", F.lit(fracs), F.lit(10_000)).alias("bs")
    ).first()
    bounds = sorted(set(row["bs"] or []))
    bucket = F.lit(0)
    for v in bounds:
        bucket = bucket + (F.col("p_retailprice") > F.lit(v)).cast("int")

    # per-bucket maxes → cross-bucket carry-in computed driver-side
    # (bounded: ≤ n_splits rows) and re-entered as a literal map, so
    # the final plan is one aggregate + one partitioned window — no
    # second aggregate branch, no carry join.  Buckets with no
    # strictly-lower predecessor are simply absent (element_at → null).
    bmax = {
        r["_rb"]: r["_bmax"]
        for r in per_price.groupBy(bucket.alias("_rb"))
        .agg(F.max("pmax").alias("_bmax"))
        .collect()
    }
    carry, run = {}, None
    for rb in sorted(bmax):
        if run is not None:
            carry[rb] = run
        run = max(run, bmax[rb]) if run is not None else bmax[rb]
    carry_args = [
        c
        for rb in sorted(carry)
        for c in (F.lit(rb).cast("int"), F.lit(carry[rb]).cast("int"))
    ]
    carry_col = (
        F.element_at(F.create_map(*carry_args), F.col("_rb"))
        if carry_args
        else F.lit(None).cast("int")
    )
    w = Window.partitionBy("_rb").orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    levels = (
        per_price.withColumn("_rb", bucket)
        .withColumn("_wmax", F.max("pmax").over(w))
        .withColumn("run_cheaper", F.greatest(carry_col, F.col("_wmax")))
        .drop("_rb", "_wmax")
    )
    return (
        part.join(levels, "p_retailprice")
        .filter(
            (F.col("p_size") == F.col("pmax"))
            & (
                F.col("run_cheaper").isNull()
                | (F.col("p_size") > F.col("run_cheaper"))
            )
        )
        .select("p_partkey", "p_name", F.round("p_retailprice", 2).alias("price"), "p_size")
        .orderBy("price", "p_partkey")
    )


def x137_json_struct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type stats of the JSON ``props.k`` field, parsed ONCE
    via ``from_json`` into a typed struct — the multi-read JSON shape
    (x15's ``get_json_object`` re-parses per path; ``from_json``
    amortizes one parse across every field read, the right call when
    a props blob carries more than one consumed key).

    Also counts parse failures (NULL struct) — the schema-drift canary
    a production ingest keeps next to every typed-JSON read.  Pure
    JVM expressions; one aggregate.

    "Unparsed" is defined on BOTH engines as "not a JSON object":
    Spark's ``from_json`` with a struct schema yields a NULL struct
    for invalid JSON *and* for valid non-object JSON (``'5'``,
    ``'[1]'``); the oracle mirrors that exactly with
    ``json_valid(props) AND json_type(props) = 'OBJECT'`` — plain
    ``json_valid`` alone would accept scalars/arrays and silently
    diverge if the fixture ever emits them.
    """
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json(F.col("props"), "k BIGINT").alias("p"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("p").isNull().cast("int")).alias("n_unparsed"),
            F.min("p.k").alias("k_min"),
            F.max("p.k").alias("k_max"),
            F.round(F.avg("p.k"), 6).alias("k_avg"),
        )
        .orderBy("event_type")
    )


def x138_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's foreign
    keys: per FK edge, total child rows and orphan count (child key
    with no parent row) — the data-quality gate a warehouse load runs
    before publishing a snapshot.

    Each CHILD TABLE is scanned ONCE: its FK columns left-join the
    key-only parents, and one conditional aggregate yields every
    per-FK orphan count simultaneously — 3 lineitem FKs cost one
    lineitem pass, not three (the naive per-FK anti-join runs 6 child
    scans; at 100 TB the child scan IS the cost).  The stacked output
    is FK-count-sized regardless of volume.

    Join strategy is left to AQE: the orders/part/supplier/customer
    key sets are DATA-sized (one key per parent row), so a forced
    broadcast would collect them to the driver and OOM at scale — at
    fixture scale AQE still picks broadcast from the observed sizes,
    and at 100 TB the same plan degrades gracefully to a shuffle
    join.  Only ``nation`` (25 rows by schema contract) keeps an
    explicit broadcast hint.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    def key_only(parent: DataFrame, pkey: str, marker: str) -> DataFrame:
        return parent.select(pkey).distinct().withColumn(marker, F.lit(1))

    # lineitem: one scan, three FK checks
    li_j = (
        li.select("l_orderkey", "l_partkey", "l_suppkey")
        .join(
            key_only(orders, "o_orderkey", "m_o"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .join(
            key_only(part, "p_partkey", "m_p"),
            F.col("l_partkey") == F.col("p_partkey"),
            "left",
        )
        .join(
            key_only(sup, "s_suppkey", "m_s"),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left",
        )
    )
    agg_row = li_j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("m_o").isNull().cast("int")).alias("orph_o"),
        F.sum(F.col("m_p").isNull().cast("int")).alias("orph_p"),
        F.sum(F.col("m_s").isNull().cast("int")).alias("orph_s"),
    )
    # unpivot the ONE aggregate row into 3 FK rows inside the same
    # plan (3 separate .select()s would each re-run the lineitem scan)
    li_rows = [
        agg_row.select(
            F.expr(
                "stack(3, 'lineitem.orderkey', n, orph_o,"
                "         'lineitem.partkey',  n, orph_p,"
                "         'lineitem.suppkey',  n, orph_s)"
                " as (fk, n_child, n_orphans)"
            )
        )
    ]

    def single(child: DataFrame, ckey: str, parent: DataFrame, pkey: str, name: str) -> DataFrame:
        # nation is contract-bounded (25 rows): hint it; every other
        # parent key set is data-sized — AQE chooses the strategy
        keys = key_only(parent, pkey, "m")
        if pkey == "n_nationkey":
            keys = F.broadcast(keys)
        j = child.select(ckey).join(keys, F.col(ckey) == F.col(pkey), "left")
        return j.agg(
            F.count(F.lit(1)).alias("n_child"),
            F.sum(F.col("m").isNull().cast("int")).alias("n_orphans"),
        ).select(F.lit(name).alias("fk"), "n_child", "n_orphans")

    audits = li_rows + [
        single(orders, "o_custkey", cust, "c_custkey", "orders.custkey"),
        single(cust, "c_nationkey", nation, "n_nationkey", "customer.nationkey"),
        single(sup, "s_nationkey", nation, "n_nationkey", "supplier.nationkey"),
    ]
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out.orderBy("fk")


# ---------------------------------------------------------------------------
# x182: VARIANT semi-structured analytics (Spark 4 VARIANT type)
# ---------------------------------------------------------------------------


def x182_variant_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type: the
    ``props`` JSON string is wrapped into a nested envelope in-plan
    (string concat of already-serialized parts — no float formatting,
    so both engines see byte-identical JSON), parsed ONCE with
    ``parse_json`` into a VARIANT, and read back with typed
    ``variant_get`` paths ('$.meta.k' as int, '$.type' as string).

    VARIANT is the schema-on-read path for ingest pipelines whose
    payloads drift: unlike ``from_json`` it needs no declared struct,
    and unlike per-path ``get_json_object`` (x15) it parses once per
    row however many paths are read — at 100 TB the parse, not the
    extraction, is the cost.  The binary encoding keeps typed access
    O(path) instead of re-tokenizing.  Aggregate: per extracted type,
    event count, sum/max of the extracted k, and the count of rows
    whose k survived a parity filter — all on the VARIANT-decoded
    values.  Oracle: DuckDB JSON functions over the identical
    envelope string.
    """
    ev = load_table(spark, sf_dir, "events")
    envelope = F.concat(
        F.lit('{"meta":'),
        F.col("props"),
        F.lit(',"type":"'),
        F.col("event_type"),
        F.lit('"}'),
    )
    v = F.parse_json(envelope)
    k = F.try_variant_get(v, "$.meta.k", "int")
    typ = F.try_variant_get(v, "$.type", "string")
    return (
        ev.select(typ.alias("vtype"), k.alias("k"))
        .groupBy("vtype")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").cast("int").alias("max_k"),
            F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_even_k"),
        )
        .orderBy("vtype")
    )


# ---------------------------------------------------------------------------
# x183: higher-order array lambdas over embeddings
# ---------------------------------------------------------------------------


def x183_array_lambda_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector statistics computed entirely with higher-order array
    functions — transform / filter / aggregate (fold) / zip_with —
    the lambda surface that keeps array math inside Catalyst
    expressions (whole-stage codegen, zero Python) instead of
    exploding 64x rows or shipping to a UDF.

    Columns: l2 norm via an ordered left fold of squares, positive
    count via filter+size, max |x| via transform+array_max, and the
    palindrome dot product <x, reverse(x)> via zip_with+fold.  Floats
    are cast float->double BEFORE any arithmetic and folded in index
    order, so every intermediate is the same IEEE double in DuckDB's
    list lambdas (list_transform / list_filter / list_reduce) — the
    x179 determinism discipline.  One scan, no shuffle until the
    final sort.
    """
    em = load_table(spark, sf_dir, "embeddings")
    arrd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    em = em.select("vec_id", arrd.alias("a"))
    a = F.col("a")
    l2 = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    n_pos = F.size(F.filter(a, lambda x: x > 0))
    max_abs = F.array_max(F.transform(a, lambda x: F.abs(x)))
    rev_dot = F.aggregate(
        F.zip_with(a, F.reverse(a), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return em.select(
        "vec_id",
        F.round(l2, 6).alias("l2_norm"),
        n_pos.cast("int").alias("n_positive"),
        F.round(max_abs, 6).alias("max_abs"),
        F.round(rev_dot, 6).alias("rev_dot"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# x193: SQL session variables (Spark 4 DECLARE / SET VAR surface)
# ---------------------------------------------------------------------------


def x193_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step parameterized SQL through session variables — Spark
    4's DECLARE VARIABLE / SET VAR surface, the scripting primitive
    that replaces driver-side string formatting of thresholds into
    query text: step 1 computes the exact median order price into a
    typed variable; step 2 uses it as a scalar predicate.

    The variable is rounded to 6 dp on BOTH engines before the
    comparison (the x40 exact-percentile parity plus rounding makes
    the threshold bit-identical, so the > predicate partitions rows
    identically).  Plan-wise the variable is a resolved literal by
    optimization time — the filter pushes to the scan exactly as a
    hand-written constant would; at 100 TB the two steps are one
    metadata-sized aggregate plus one pruned scan.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql("DECLARE OR REPLACE VARIABLE median_price DOUBLE")
    spark.sql(
        "SET VAR median_price = "
        "(SELECT ROUND(percentile(o_totalprice, 0.5), 6) FROM orders)"
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_above,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                          AS DOUBLE), 4) AS rev_above
        FROM orders
        WHERE o_totalprice > median_price
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
        """
    )


# ---------------------------------------------------------------------------
# x199: map higher-order functions (map_from_entries / map_filter /
# transform_values)
# ---------------------------------------------------------------------------


def x199_map_lambdas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type profiles through the MAP lambda surface:
    build a ``map<event_type, count>`` per user with
    ``map_from_entries`` over sorted entries, drop rare types with
    ``map_filter`` (count >= 2), rescale with ``transform_values``,
    and explode back to rows for the ordered relational contract.

    The map type is the natural carrier for per-entity feature
    bundles at serving time (one row per user, not one per
    (user, feature)); the lambdas run in codegen like the array
    family (x183).  The oracle checks SEMANTICS, not mechanism —
    plain GROUP BY + HAVING + arithmetic produce the identical
    relation, which is exactly the point: the map pipeline is a
    row-layout choice, not a different answer.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    as_map = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("event_type", "cnt"))
            )
        ).alias("profile")
    )
    adjusted = as_map.select(
        "user_id",
        F.transform_values(
            F.map_filter(F.col("profile"), lambda k, v: v >= 2),
            lambda k, v: v * 2,
        ).alias("profile"),
    )
    return (
        adjusted.select("user_id", F.explode("profile").alias("event_type", "adj"))
        .select(
            "user_id", "event_type", F.col("adj").cast("bigint").alias("adj_count")
        )
        .orderBy("user_id", "event_type")
    )


# ---------------------------------------------------------------------------
# x201: argmax aggregates (max_by / min_by)
# ---------------------------------------------------------------------------


def x201_argmax_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: the user with the highest decimal-exact total
    value (and the lowest-spending user), through the ``max_by`` /
    ``min_by`` argmax aggregates — one grouped pass instead of the
    window + filter detour (at scale: map-side combinable, no second
    shuffle, no rank materialization).

    Ties are pinned IN the ordering key: the comparator is
    ``struct(total, -user_id)``, so equal totals resolve to the
    smallest user id deterministically — max_by with a bare value
    column leaves ties engine-defined, which would break the hash
    gate.  The oracle takes the window formulation; same relation,
    which is the point.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(38,6)")).alias("total")
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.max_by(
                "user_id", F.struct(F.col("total"), (-F.col("user_id")).alias("nu"))
            ).alias("top_user"),
            F.max("total").alias("top_total_d"),
            F.min_by(
                "user_id", F.struct(F.col("total"), F.col("user_id"))
            ).alias("bottom_user"),
            F.min("total").alias("bottom_total_d"),
        )
        .select(
            "event_type",
            "top_user",
            F.round(F.col("top_total_d").cast("double"), 4).alias("top_total"),
            "bottom_user",
            F.round(F.col("bottom_total_d").cast("double"), 4).alias(
                "bottom_total"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# x202: null-preserving fan-out (explode_outer)
# ---------------------------------------------------------------------------


def x202_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle fan-out that KEEPS empty documents: ``explode_outer``
    emits one null row for a doc with no 3-gram shingles, so the
    per-doc aggregate covers the whole corpus — the null-preserving
    explode an ingest pipeline needs when "no features" must stay a
    row, not silently vanish (the plain ``explode``'s inner-join
    semantics).  ``count(sh)`` counts only non-null shingles, so
    empty docs report 0 without a separate anti-join branch.
    """
    from go_mapreduce_spark.operators.dedup import lower_tokens, shingles_from_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", lower_tokens(F.col("text")).alias("toks"))
    sh = toks.select(
        "doc_id",
        F.explode_outer(shingles_from_tokens(F.col("toks"))).alias("sh"),
    )
    return (
        sh.groupBy("doc_id")
        .agg(
            F.count("sh").cast("bigint").alias("n_shingle_occurrences"),
            F.count_distinct("sh").cast("bigint").alias("n_distinct_shingles"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x203: schema-drift union (unionByName + allowMissingColumns)
# ---------------------------------------------------------------------------


def x203_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time schema drift: an old feed without ``value`` and a
    new feed with it, combined via ``unionByName(allowMissingColumns
    =True)`` — positional UNION would silently misalign columns; the
    by-name union fills the missing column with NULL, which the
    aggregate then reports honestly (n_with_value < n_events for the
    drifted slice).  The standard first step of every multi-source
    ingest with evolving producers.
    """
    ev = load_table(spark, sf_dir, "events")
    old_feed = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "user_id"
    )
    new_feed = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "user_id", "event_type", "value"
    )
    unified = old_feed.unionByName(new_feed, allowMissingColumns=True)
    return (
        unified.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count("value").cast("bigint").alias("n_with_value"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 4
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# x207: calendar dimension build (date-function breadth)
# ---------------------------------------------------------------------------


def x207_calendar_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calendar dimension every warehouse derives once and joins
    everywhere: for each distinct order date — year, quarter, month,
    day, ISO weekday, month-end date, same-day-next-quarter
    (``add_months`` with its month-end clamp), and days to month end.

    Cross-engine date-function parity is the minefield here, so each
    column is pinned to a definition both engines share exactly:
    weekday normalized to ISO (Mon=1 — Spark ``weekday()+1``, DuckDB
    ``isodow``), ``last_day`` (identical clamp), and ``add_months``
    vs ``+ INTERVAL 3 MONTH`` (both clamp day-of-month into the
    target month).  Dimension cardinality is |distinct dates| —
    metadata-sized forever.
    """
    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(F.to_date("o_orderdate").alias("d")).distinct()
    return (
        d.select(
            "d",
            F.year("d").cast("int").alias("yr"),
            F.quarter("d").cast("int").alias("qtr"),
            F.month("d").cast("int").alias("mon"),
            F.dayofmonth("d").cast("int").alias("dom"),
            (F.weekday("d") + 1).cast("int").alias("iso_dow"),
            F.last_day("d").alias("month_end"),
            F.add_months("d", 3).alias("next_qtr_day"),
            F.datediff(F.last_day("d"), F.col("d"))
            .cast("int")
            .alias("days_to_month_end"),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# x208: array set algebra (collect_set + intersect/except)
# ---------------------------------------------------------------------------


def x208_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioural coverage through array set algebra: the
    sorted set of event types the user produced (``collect_set``),
    the types they are MISSING vs the global catalogue
    (``array_except``), and the overlap count with the
    purchase-funnel types (``array_intersect``) — the in-row set
    operations that replace per-(user,type) pivot tables when the
    universe is small.

    ``collect_set`` order is engine-internal, so every emitted array
    is ``array_sort``-ed before leaving the plan — the same
    determinism rule the hash gate forces everywhere else.
    """
    ev = load_table(spark, sf_dir, "events")
    all_types = F.array(
        *[F.lit(t) for t in ("click", "purchase", "signup", "view", "error")]
    )
    funnel = F.array(F.lit("click"), F.lit("purchase"), F.lit("signup"))
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    return (
        per_user.select(
            "user_id",
            F.size("types").cast("int").alias("n_types"),
            # serialized, not an array column: the driver's hasher
            # sorts result columns with pandas and crashes on complex
            # types (the round-1 x33 lesson, pinned by the schema
            # audit in test_correctness.py)
            F.array_join(
                F.array_sort(F.array_except(all_types, F.col("types"))), ","
            ).alias("missing_types"),
            F.size(F.array_intersect(F.col("types"), funnel))
            .cast("int")
            .alias("n_funnel_types"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# x209: bitmap flag aggregation (bit_or / bit_and / bit_count)
# ---------------------------------------------------------------------------

_TYPE_BITS = {"click": 0, "error": 1, "purchase": 2, "signup": 3, "view": 4}


def x209_bitmap_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type presence as BITMAPS: each event contributes
    ``1 << type_bit``; ``bit_or`` folds a user's events into one
    presence mask, ``bit_count`` reads the coverage, and a second
    ``bit_and`` across each type's user masks answers "which types
    does EVERY user of this type also produce" — the bitmap-index
    idiom that turns set questions into integer ops (5 bytes of state
    per user instead of a (user,type) relation; at 10^9 users this is
    the difference between a bitmap join and a shuffle).
    """
    ev = load_table(spark, sf_dir, "events")
    mask = F.lit(0).cast("long")
    for t, b in _TYPE_BITS.items():
        mask = F.when(F.col("event_type") == t, F.lit(1 << b)).otherwise(mask)
    per_user = ev.select("user_id", mask.alias("m")).groupBy("user_id").agg(
        F.bit_or("m").alias("presence_mask")
    )
    return (
        per_user.select(
            "user_id",
            F.col("presence_mask").cast("int").alias("presence_mask"),
            F.bit_count("presence_mask").cast("int").alias("n_types"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# x212: parameterized SQL (named-argument binding)
# ---------------------------------------------------------------------------

PARAM_SEGMENT = "BUILDING"
PARAM_MIN_ORDERS = 2


def x212_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL — ``spark.sql(query, args={...})`` binds
    typed values into ``:name`` markers server-side, the
    injection-safe alternative to f-string query assembly (the
    parameter is a literal to Catalyst, so it folds, pushes down and
    prunes exactly like hand-written SQL; with a string-assembled
    query a hostile segment value would be parsed as SQL).

    Per market segment: customers with at least ``:min_orders``
    orders, their order count and decimal revenue — the segment and
    threshold arrive ONLY through the args map.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6)))
                          AS DOUBLE), 4) AS revenue
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = :segment
        GROUP BY c.c_custkey
        HAVING COUNT(*) >= :min_orders
        ORDER BY c.c_custkey
        """,
        args={"segment": PARAM_SEGMENT, "min_orders": PARAM_MIN_ORDERS},
    )


# ---------------------------------------------------------------------------
# x214: XML ingestion surface (from_xml)
# ---------------------------------------------------------------------------


def x214_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion through Spark 4's native ``from_xml``: each event
    is serialized to an XML envelope in-plan (string concat of
    already-serialized integer/string parts — no float formatting)
    and parsed back through a declared schema, proving the
    encode→decode cycle lossless; the aggregate runs on the
    DECODED struct fields only.

    XML is the remaining legacy wire format in enterprise feeds
    (SOAP, financial messaging); ``from_xml`` keeps the parse
    JVM-side like ``from_json``/``parse_json`` (x137/x182 complete
    the semi-structured trio).  DuckDB has no XML reader, so the
    oracle is the closed-form aggregate over the raw table — exactly
    the x147/x191 roundtrip-proof pattern: any parse loss
    hash-mismatches.
    """
    ev = load_table(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<e><id>"),
        F.col("event_id").cast("string"),
        F.lit("</id><u>"),
        F.col("user_id").cast("string"),
        F.lit("</u><t>"),
        F.col("event_type"),
        F.lit("</t><k>"),
        F.get_json_object("props", "$.k"),
        F.lit("</k></e>"),
    )
    parsed = ev.select(
        F.from_xml(xml, "id BIGINT, u BIGINT, t STRING, k BIGINT").alias("x")
    )
    return (
        parsed.groupBy(F.col("x.t").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("x.k").cast("bigint").alias("sum_k"),
            F.count_distinct("x.u").cast("bigint").alias("n_users"),
            F.min("x.id").cast("bigint").alias("min_event_id"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# x237 — ordered LISTAGG leaderboard (wave 35)
# ---------------------------------------------------------------------------

LEADER_TOP_N = 3


def x237_listagg_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: the top-3 customer nations by exact decimal
    order revenue, emitted as ONE ordered comma-joined string — the
    LISTAGG/STRING_AGG reporting surface (deterministic: revenue desc,
    nation asc tiebreak).

    Aggregate-before-join discipline: revenue collapses to
    (segment, nation) — a contract-bounded relation (segments ×
    nations) — BEFORE any string work; the ranking window and the
    ordered array_sort/array_join run on that metadata-sized relation.
    Spark has no ordered-collect aggregate, so determinism comes from
    sorting (rank, nation) STRUCTS, not from collect order.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "c_nationkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("rev").desc(), F.col("n_name").asc()
    )
    ranked = rev.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= LEADER_TOP_N
    )
    return (
        ranked.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("rk"), F.col("n_name")))
                    ),
                    lambda s: s.getField("n_name"),
                ),
                ",",
            ).alias("top_nations"),
            F.round(F.sum(F.col("rev")).cast("double"), 4).alias("top3_revenue"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# x250 — SQL scalar UDFs (CREATE FUNCTION ... RETURN) (wave 39)
# ---------------------------------------------------------------------------


def x250_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF surface (Spark 4 ``CREATE FUNCTION ... RETURN``):
    business logic declared ONCE in the catalog as SQL expressions —
    a net-revenue formula and a CASE-based order-size band — then
    used like built-ins in an aggregate query.

    SQL UDFs are the fast path the Python UDF family (x22/x42/x45)
    can't be: the body is inlined into the plan at analysis time, so
    the query runs entirely in whole-stage codegen with no
    serialization boundary — at 100 TB the difference between a UDF
    surface and a UDF tax.  The oracle inlines the same expressions,
    proving the catalog indirection changes nothing.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_x250_li")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION gms_net_revenue(
               price DOUBLE, discount DOUBLE, tax DOUBLE)
           RETURNS DOUBLE
           RETURN price * (1 - discount) * (1 + tax)"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION gms_qty_band(q DOUBLE)
           RETURNS STRING
           RETURN CASE WHEN q < 10 THEN 'small'
                       WHEN q < 30 THEN 'medium'
                       ELSE 'large' END"""
    )
    return spark.sql(
        """SELECT gms_qty_band(l_quantity) AS band,
                  l_returnflag,
                  CAST(COUNT(*) AS BIGINT) AS n_rows,
                  ROUND(CAST(SUM(CAST(gms_net_revenue(
                            l_extendedprice, l_discount, l_tax)
                        AS DECIMAL(38,6))) AS DOUBLE), 4) AS net_revenue
           FROM _x250_li
           GROUP BY 1, 2
           ORDER BY band, l_returnflag"""
    )


# ---------------------------------------------------------------------------
# x251 — parquet schema-evolution read (mergeSchema) (wave 39)
# ---------------------------------------------------------------------------


def x251_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over a parquet lake whose files span two schema
    generations: gen-1 extracts lack ``o_orderpriority`` (added
    later), gen-2 files carry it.  ``mergeSchema`` unions the footers
    so old files surface NULL for the new column — the additive
    -evolution contract every long-lived 100 TB lake depends on
    (rewriting history to add a column is a non-starter).

    Generations are a deterministic orderkey-parity split of
    ``orders``, so the oracle recomputes the same relation from the
    source table directly; matching proves no rows, values, or NULL
    semantics were harmed by the footer merge.  Scale: mergeSchema
    reads ALL footers (driver-side metadata work) — on a real lake
    pin the merged schema in a catalog instead; the read path itself
    stays fully distributed with pushdown intact.
    """
    import os

    orders = load_table(spark, sf_dir, "orders")
    root = scratch.fresh_dir("x251", sf_dir)
    g1, g2 = os.path.join(root, "gen1"), os.path.join(root, "gen2")
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(g1)
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("overwrite").parquet(g2)
    merged = spark.read.option("mergeSchema", "true").parquet(g1, g2)
    return merged.groupBy(
        F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>")).alias(
            "priority"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(dsum(F.col("o_totalprice"), "t"), 4).alias("total_price"),
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# x268 — SQL pipe syntax (wave 44)
# ---------------------------------------------------------------------------


def x268_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe-syntax surface (Spark 4 ``|>`` operators, the
    GoogleSQL-derived linear composition style): the TPC-H-Q1-shaped
    pricing summary written as a top-to-bottom pipeline —
    FROM |> WHERE |> AGGREGATE ... GROUP BY |> ORDER BY — instead of
    inside-out SQL.

    Pure syntax surface: the parser lowers pipes to the identical
    logical plan, so the oracle is the classic formulation and the
    hash match proves the lowering changes nothing (same scan
    pushdown, same partial aggregate).
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("_x268_li")
    return spark.sql(
        """FROM _x268_li
           |> WHERE l_shipdate <= TIMESTAMP '1998-09-01'
           |> AGGREGATE
                COUNT(*) AS n_rows,
                ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6)))
                      AS DOUBLE), 4) AS sum_qty,
                ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum_disc_price
              GROUP BY l_returnflag, l_linestatus
           |> ORDER BY l_returnflag, l_linestatus"""
    ).select(
        "l_returnflag",
        "l_linestatus",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        "sum_qty",
        "sum_disc_price",
    )


# ---------------------------------------------------------------------------
# x269 — collation-aware grouping (wave 44)
# ---------------------------------------------------------------------------


def x269_collated_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation surface (Spark 4 ``COLLATE``): group order priorities
    case-insensitively via the ``UTF8_LCASE`` collation instead of
    normalizing with ``lower()`` — the engine-level treatment (the
    collation rides the type, so joins/aggregates/comparisons all
    honor it and codegen keeps the fast path; a ``lower()`` wrapper
    would re-materialize every value and break scan-level statistics
    reuse).

    The fixture's priorities are single-case, so the oracle's
    ``lower()`` normalization is exactly equivalent — proving the
    collated group-by produces the same partitions; a mixed-case
    pytest pins the actual case-folding behavior.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_x269_orders")
    return spark.sql(
        """SELECT lower(pri) AS priority,
                  CAST(COUNT(*) AS BIGINT) AS n_orders,
                  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                        AS DOUBLE), 4) AS total_price
           FROM (SELECT o_orderpriority COLLATE UTF8_LCASE AS pri,
                        o_totalprice
                 FROM _x269_orders)
           GROUP BY pri
           ORDER BY priority"""
    )


# ---------------------------------------------------------------------------
# x272 — LATERAL correlated subquery join (wave 46)
# ---------------------------------------------------------------------------

LATERAL_TOP_K = 3


def x272_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``LATERAL_TOP_K`` customers by account balance per nation
    via a correlated ``JOIN LATERAL (... ORDER BY ... LIMIT k)`` —
    the SQL-standard way to spell per-group top-k without window
    functions, and a decorrelation test: Catalyst must rewrite the
    per-row subquery into a set-based plan (rank-and-filter), never
    execute it once per outer row (the 100 TB death sentence the
    syntax naively implies).

    The oracle states the same query with an explicit window rank —
    the hash match proves the lateral decorrelation computes exactly
    the windowed semantics.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("_x272_cust")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("_x272_nation")
    return spark.sql(
        f"""SELECT n.n_name, t.c_name, t.c_acctbal
            FROM _x272_nation n
            JOIN LATERAL (
                SELECT c_name, ROUND(c_acctbal, 2) AS c_acctbal
                FROM _x272_cust c
                WHERE c.c_nationkey = n.n_nationkey
                ORDER BY c.c_acctbal DESC, c.c_name
                LIMIT {LATERAL_TOP_K}
            ) t
            ORDER BY n.n_name, t.c_acctbal DESC, t.c_name"""
    )


# ---------------------------------------------------------------------------
# x275 — business-timezone day rollup (wave 48)
# ---------------------------------------------------------------------------

BUSINESS_TZ = "America/New_York"


def x275_local_day_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event rollup on BUSINESS-timezone days: UTC event
    timestamps converted with ``convert_timezone`` to
    ``America/New_York`` wall time before the day bucket — the
    difference between "our Monday" and "UTC Monday" that every
    revenue dashboard eventually gets wrong.  IANA tzdata rules (DST
    included) are applied by the engine, not hand-offset arithmetic;
    the oracle chains DuckDB's ``timezone('tz', timezone('UTC', ts))``
    to the same effect, so a hash match proves both engines agree on
    the civil-time mapping.

    One scan, one (day, type) aggregate; the conversion is a per-row
    scalar that stays in codegen.
    """
    from go_mapreduce_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events")
    local_day = F.to_date(
        F.convert_timezone(F.lit("UTC"), F.lit(BUSINESS_TZ), F.col("ts"))
    )
    return (
        ev.groupBy(local_day.alias("local_day"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(dsum(F.col("value"), "v"), 4).alias("total_value"),
        )
        .orderBy("local_day", "event_type")
    )


# ---------------------------------------------------------------------------
# x276 — error-safe arithmetic (try_* family) (wave 48)
# ---------------------------------------------------------------------------


def x276_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic surface: ``try_divide`` /
    ``try_cast`` turn would-be runtime errors (division by zero,
    malformed casts) into NULLs — the posture that lets a 100 TB job
    survive one pathological row instead of dying at 99% (ANSI mode
    on, which Spark 4 defaults to, makes bare ``/ 0`` and bad casts
    THROW).

    Per order-status: items, zero-discount items (the division-by-
    zero candidates), average price-per-discount-point over the rows
    where it exists, and how many priority prefixes survive a
    ``try_cast`` to int.  The oracle mirrors with explicit CASE
    guards — NULL semantics must match exactly.
    """
    from go_mapreduce_spark.functions.numeric import DECIMAL_T
    from go_mapreduce_spark.operators.scale import spread_for_fanout

    # try_divide + decimal sums per row on an under-split scan run
    # near-single-core: spread first (NO-OP at real scale; the
    # grouped decimal sums are partition-invariant)
    li = spread_for_fanout(load_table(spark, sf_dir, "lineitem"))
    ratio = F.try_divide(F.col("l_extendedprice"), F.col("l_discount"))
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.count(F.when(F.col("l_discount") == 0, 1))
            .cast("bigint")
            .alias("n_zero_discount"),
            F.count(ratio).cast("bigint").alias("n_with_ratio"),
            F.round(
                F.sum(ratio.cast(DECIMAL_T)).cast("double") / F.count(ratio), 4
            ).alias("avg_price_per_disc"),
            F.count(F.substring("l_returnflag", 1, 1).try_cast("int"))
            .cast("bigint")
            .alias("n_numeric_flags"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# x277 — JSON schema inference + typed extraction (wave 48)
# ---------------------------------------------------------------------------


def x277_json_schema_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read for the semi-structured ``props`` column:
    ``schema_of_json`` infers the struct type from a sample document
    IN the plan (no hand-written schema), ``from_json`` parses every
    row with it, and the typed field aggregates per event type — the
    discover-then-parse loop semi-structured ingestion actually runs.

    The inference input is a LITERAL sample (deterministic plan
    shape); at 100 TB you infer once on a sample and pin the result,
    never per-row.  The oracle extracts the same field with DuckDB's
    JSON operators — typed equality proves the inferred-schema parse
    is lossless.
    """
    from go_mapreduce_spark.functions.numeric import dsum

    ev = load_table(spark, sf_dir, "events")
    sample = ev.select("props").filter(F.col("props").isNotNull()).first()
    schema = F.schema_of_json(F.lit(sample["props"]))
    parsed = ev.withColumn("p", F.from_json("props", schema))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.col("p.k")).cast("bigint").alias("n_parsed"),
            F.sum(F.col("p.k")).cast("bigint").alias("k_total"),
            F.round(dsum(F.col("p.k").cast("double"), "s") / F.count(F.col("p.k")), 4).alias(
                "k_mean"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# x287 — GROUP BY ALL / ORDER BY ALL (wave 52)
# ---------------------------------------------------------------------------


def x287_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` surface (the DuckDB-
    pioneered shorthand Spark 4 adopted): the engine derives the
    grouping key from the non-aggregate select items, killing the
    classic copy-paste drift between SELECT list and GROUP BY.  The
    oracle runs the LITERAL same modern SQL text — both engines parse
    and plan the shorthand identically, which is the point.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_x287_orders")
    return spark.sql(
        """SELECT o_orderstatus, o_orderpriority,
                  CAST(COUNT(*) AS BIGINT) AS n_orders,
                  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                        AS DOUBLE), 4) AS total_price
           FROM _x287_orders
           GROUP BY ALL
           ORDER BY ALL"""
    )


# ---------------------------------------------------------------------------
# x288 — IDENTIFIER() templated dimension rollup (wave 52)
# ---------------------------------------------------------------------------

TEMPLATE_DIM = "o_orderpriority"


def x288_identifier_template(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-injection-safe templating via the ``IDENTIFIER()`` clause
    (Spark 4): the rollup dimension arrives as a PARAMETER and is
    bound as an identifier — not string-spliced — so a hostile value
    can name a column but can never smuggle SQL (the parameterized
    completion of x212, which binds values; this binds names).

    The oracle inlines the same column statically; a hash match
    proves the indirection is semantics-free.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_x288_orders")
    return spark.sql(
        """SELECT IDENTIFIER(:dim) AS dim,
                  CAST(COUNT(*) AS BIGINT) AS n_orders,
                  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                        AS DOUBLE), 4) AS total_price
           FROM _x288_orders
           GROUP BY IDENTIFIER(:dim)
           ORDER BY dim""",
        args={"dim": TEMPLATE_DIM},
    )


# ---------------------------------------------------------------------------
# x294 — bag-semantics set operations (wave 54)
# ---------------------------------------------------------------------------

EXCEPT_ALL_TOP_N = 15
EXCEPT_ALL_YR_A = 1996
EXCEPT_ALL_YR_B = 1997


def x294_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (bag) set algebra — ``EXCEPT ALL`` with real
    multiplicity arithmetic, the semantics x18/q9's DISTINCT variants
    deliberately do not cover: for parts shipped in both contrast years, each year-A shipment "cancels" one year-B shipment, and what
    survives is the per-part multiplicity DIFFERENCE, not a boolean.

    The report: the ``EXCEPT ALL`` survivor multiplicity per part for
    the top-``EXCEPT_ALL_TOP_N`` parts, cross-checked in-plan against
    the closed form max(n_a − n_b, 0) — which is also how Spark's
    physical plan computes it (a single grouped count diff, no
    row-matching), so the operator scales as one aggregate + one
    generate, never a pairwise cancel.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.year("l_shipdate").alias("yr")
    )
    y94 = li.filter(F.col("yr") == EXCEPT_ALL_YR_A).select("l_partkey")
    y95 = li.filter(F.col("yr") == EXCEPT_ALL_YR_B).select("l_partkey")
    surv = y94.exceptAll(y95).groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("surviving")
    )
    both = (
        y94.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_a"))
        .join(
            y95.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_b")),
            "l_partkey",
            "left",
        )
        .select(
            "l_partkey",
            "n_a",
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    return (
        surv.join(both, "l_partkey")
        .select(
            F.col("l_partkey").cast("bigint").alias("l_partkey"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("surviving").cast("bigint").alias("surviving"),
            (F.col("surviving") == F.greatest(F.col("n_a") - F.col("n_b"), F.lit(0)))
            .alias("matches_closed_form"),
        )
        .orderBy(F.desc("surviving"), "l_partkey")
        .limit(EXCEPT_ALL_TOP_N)
    )


# ---------------------------------------------------------------------------
# x385 — recursive CTE reachability (wave 85)
# ---------------------------------------------------------------------------

RCTE_MAX_HOPS = 4  # walk rows grow ~24^k (UNION ALL enumerates walks; Spark caps
# recursion at 1M rows and rejects UNION-distinct) - 4 covers a
# 25-node dense trade graph and stays ~331k walks at ANY data scale


def x385_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``WITH RECURSIVE`` (new in Spark 4.x — probed working in
    this build): minimum-hop reachability over the nation-level trade
    graph from the lowest exporter nation (data-derived seed — a
    fixed nation can be edgeless at tiny scale factors).  Everywhere else this repo unrolls
    fixed iteration counts as chained CTEs (x59/x143/x292) because
    recursive CTEs historically could not run on Spark; this query
    pins the NATIVE surface so a user migrating recursive SQL does not
    have to.  Termination is a pinned hop cap (UNION ALL + hop guard,
    min-hop by final aggregation) — the same shape DuckDB executes, so
    the oracle is the identical statement.

    The trade graph (supplier nation → customer nation, distinct) is
    at most |nations|² edges — metadata-sized by construction; the
    heavy part is the one corpus join that derives it, which is the
    same lineitem⋈orders⋈customer⋈supplier spine q5 already plans
    efficiently.  That corpus join is MATERIALIZED (localCheckpoint)
    before entering the recursion: a non-recursive CTE referenced
    from the recursive step is re-planned per iteration step in this
    build, so leaving ``edges`` inline re-ran the 4-way corpus join
    once per hop (A/B'd r10: 4.04 → 2.44 s at sf0.1; rows
    identical).  The recursive surface itself stays native — that is
    the point of this query; DuckDB materializes its CTEs anyway, so
    the oracle statement is unchanged.
    """
    from pyspark.sql import functions as F

    from go_mapreduce_spark.sources.registry import load_table

    load_table(spark, sf_dir, "nation").createOrReplaceTempView("rcte_nation")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    edges.createOrReplaceTempView("rcte_edges")
    return spark.sql(f"""
        WITH RECURSIVE reach (node, hops) AS (
            SELECT CAST(MIN(u) AS INT) AS node, 0 AS hops FROM rcte_edges
            UNION ALL
            SELECT e.v AS node, r.hops + 1 AS hops
            FROM reach r JOIN rcte_edges e ON e.u = r.node
            WHERE r.hops < {RCTE_MAX_HOPS}
        )
        SELECT n.n_name,
               CAST(MIN(r.hops) AS BIGINT) AS min_hops
        FROM reach r JOIN rcte_nation n ON n.n_nationkey = r.node
        GROUP BY n.n_name
        ORDER BY min_hops, n_name
    """)


# ---------------------------------------------------------------------------
# x386 — ANALYZE-style column statistics census (wave 85)
# ---------------------------------------------------------------------------


def x386_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CBO-input column statistics for the orders table, computed the
    way ANALYZE TABLE ... FOR COLUMNS would: per column the exact NDV,
    null fraction, and min/max (as strings — one schema for every
    type).  This is the table-services census a 100 TB lakehouse runs
    after every big ingest: selectivity estimation, zone-map sanity,
    and "did this load null out a column" alerts all read from it.

    One pass per column group via a single wide aggregate (exact
    count-distincts share the scan; Spark plans them with expand +
    partial aggregation, no per-column rescans of the parquet).
    """
    from go_mapreduce_spark.sources.registry import load_table
    from go_mapreduce_spark.operators.scale import spread_for_fanout

    # the exact-NDV aggregate expands every row ×(1 + n_cols): spread
    # an under-split scan before the expand (NO-OP at real scale;
    # count/NDV/min/max are partition-invariant)
    orders = spread_for_fanout(load_table(spark, sf_dir, "orders"))
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    agg = orders.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.count_distinct(F.col(c)).alias(f"ndv_{c}") for c in cols],
        *[
            F.sum(F.col(c).isNull().cast("int")).alias(f"nn_{c}")
            for c in cols
        ],
        *[F.min(F.col(c)).cast("string").alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c)).cast("string").alias(f"mx_{c}") for c in cols],
    )
    # the per-column output rows are projections of this ONE 1-row
    # aggregate; checkpoint it so the union does not replay the scan
    # once per column (x319/x324 bounded-relation discipline)
    agg = agg.localCheckpoint()
    rows = None
    for c in cols:
        row = agg.select(
            F.lit(c).alias("column_name"),
            F.col(f"ndv_{c}").cast("bigint").alias("ndv"),
            F.round(
                F.col(f"nn_{c}") / F.col("_n").cast("double"), 6
            ).alias("null_frac"),
            F.col(f"mn_{c}").alias("min_value"),
            F.col(f"mx_{c}").alias("max_value"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows.orderBy("column_name")


# ---------------------------------------------------------------------------
# x404 — data-quality expectation suite (wave 92)
# ---------------------------------------------------------------------------

EXPECT_DATE_LO = "1990-01-01"
EXPECT_DATE_HI = "2005-12-31"


def x404_expectation_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A Great-Expectations-style validation suite over the orders
    table, evaluated engine-side: row count, key uniqueness, null
    checks, value-range and date-range bounds, and referential
    integrity against customer — each expectation one row with its
    observed value and pass/fail.  This is the post-ingest gate a
    100 TB pipeline runs before publishing (x367's WAP audit uses the
    same class of predicate; this is the reusable standalone report).

    One wide aggregate serves every single-table expectation (shared
    scan); referential integrity is one anti-join count.  The 1-row
    aggregate is checkpointed before the per-expectation fan-out.
    """
    from go_mapreduce_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    wide = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("o_orderkey").alias("ndv_key"),
        F.sum(F.col("o_custkey").isNull().cast("int")).alias("null_cust"),
        F.min("o_totalprice").cast("double").alias("min_price"),
        F.min(F.to_date("o_orderdate")).cast("string").alias("min_date"),
        F.max(F.to_date("o_orderdate")).cast("string").alias("max_date"),
    ).localCheckpoint()
    orphans = (
        orders.select("o_custkey")
        .join(customer, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
        .localCheckpoint()
    )
    checks = [
        ("row_count_positive", F.col("n").cast("string"), F.col("n") > 0),
        (
            "orderkey_unique",
            F.col("ndv_key").cast("string"),
            F.col("ndv_key") == F.col("n"),
        ),
        (
            "custkey_not_null",
            F.col("null_cust").cast("string"),
            F.col("null_cust") == 0,
        ),
        (
            "totalprice_positive",
            F.col("min_price").cast("string"),
            F.col("min_price") > 0.0,
        ),
        (
            "orderdate_in_range",
            F.concat_ws("..", F.col("min_date"), F.col("max_date")),
            (F.col("min_date") >= EXPECT_DATE_LO)
            & (F.col("max_date") <= EXPECT_DATE_HI),
        ),
    ]
    out = None
    for name, observed, ok in checks:
        row = wide.select(
            F.lit(name).alias("expectation"),
            observed.alias("observed"),
            ok.alias("passed"),
        )
        out = row if out is None else out.unionByName(row)
    ref = orphans.select(
        F.lit("custkey_ref_integrity").alias("expectation"),
        F.col("n_orphans").cast("string").alias("observed"),
        (F.col("n_orphans") == 0).alias("passed"),
    )
    return out.unionByName(ref).orderBy("expectation")
