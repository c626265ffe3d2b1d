"""Scale hardening utilities (SURVEY.md §7.2 M5): skew mitigation,
partitioning control, sketch-based approximation.

These are the knobs the reference fundamentally lacked — its reducer
built an unbounded in-memory table per key
(mapreduce/mapreduce.go:180-202), so one hot key OOM'd the worker.
Spark + AQE already split skewed *shuffle partitions*; salting goes
further by splitting a single hot KEY across reducers.
"""

from __future__ import annotations

import contextlib
import math
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from go_mapreduce_spark.session import scoped_confs

# Target shuffle-partition payload for iterative loops: ~4M edge rows
# (~64 MB of (long,long) pairs) per reducer.  Iterative algorithms pay
# shuffle-partition COUNT overhead per round (task scheduling, state
# setup), not just per byte — a 32-partition session runs 640 tasks
# for a 10-round PageRank on a graph that fits in one partition.
_ITER_ROWS_PER_PARTITION = 4_000_000

# Parallelism-regime divisor (round 11): between "fits in 4
# partitions" and "memory-bound at 4M rows each" there is a band
# where the loop is CPU-bound and wants one partition per ~75k rows
# up to the executor-core count.  Measured at sf0.1 (x143, ~600k
# edges, interleaved min-of-3): 4 parts 8.71 s vs 8 parts 6.65 s
# (−24%); at sf0.01 (~60k edges) 4 parts still wins (3.38 vs 3.73 —
# scheduling dominates), which is exactly what this two-regime rule
# returns.  The loop-floor measurement behind it (BENCH_FLOOR.json):
# the pure per-round scheduling cost is ~0.21–0.25 s while the real
# per-round cost was ~0.42–0.45 s — data work, parallelizable.
_ITER_ROWS_PER_CORE = 75_000


def iterative_shuffle_partitions(
    n_rows: int, floor: int = 4, cpu_bound: bool = False
) -> int:
    """Shuffle-partition count sized to the relation an iterative loop
    re-shuffles every round: ``ceil(n_rows / 4M)``, floored at 4.

    Scales both ways — a fixture-scale graph iterates on 4 partitions
    (measured 2× faster: scheduling overhead, not data, dominates),
    while a 10^10-edge graph at 100 TB gets ~2500, independent of the
    session default that was sized for scan-heavy one-pass queries.

    ``cpu_bound=True`` (round 11) adds a middle regime for loops that
    re-shuffle the FULL relation every round (the pagerank family's
    contribution join): one partition per ~75k rows, capped at the
    cluster's default parallelism.  A/B'd interleaved at sf0.1:
    x143 8.37→7.20 s min-of-3 (−14%; the loop-floor measurement in
    BENCH_FLOOR.json showed data work, not scheduling, was ~half the
    per-round cost).  Frontier-shrinking loops (BFS k-hop, cheapest
    path) must NOT opt in: their per-round relations collapse after
    round 1 and the extra tasks only add scheduling (x164 measured
    +37% with the regime applied).

    Results are partition-count-invariant (decimal sums; proven at
    {1,7,32} in test_determinism.py), so this is purely a speed knob.
    """
    base = max(floor, math.ceil(n_rows / _ITER_ROWS_PER_PARTITION))
    if not cpu_bound:
        return base
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if sess is not None:
        cores = sess.sparkContext.defaultParallelism
    else:
        # no active session (unit tests, offline sizing): the host's
        # core count is the honest cap — a fixed constant would
        # over-partition the loops this knob was measured to speed up
        # on any smaller machine.
        cores = os.cpu_count() or floor
    return max(base, min(math.ceil(n_rows / _ITER_ROWS_PER_CORE), cores))


def spread_for_fanout(
    df: DataFrame,
    min_parts: int | None = None,
    probe: DataFrame | None = None,
) -> DataFrame:
    """Ensure a relation about to pay large PER-ROW work — a d² pair
    explode, a per-frame decode grid, or a wide non-compact-decimal
    aggregate (precision > 18 sums are BigDecimal-backed, ~10² the
    cost of a long add) — has at least ``min_parts`` partitions
    (default: the session's shuffle-partition setting).

    The pathology this fixes: a small-but-expensive relation read
    from one parquet file runs its whole per-row work in ONE or very
    few tasks — x130's 2080-products-per-row explode measured 6.7 s
    single-task vs 1.0 s spread, and x394's 15-way decimal(38,6)
    aggregate 3.6 s on a 3-split scan vs 1.1 s spread (sf0.1).  For a
    pure aggregate the shuffle happens BEFORE the partial agg — only
    acceptable because the guard fires solely on under-split inputs,
    which are by premise small.  The guard makes it scale-safe: when
    the scan
    already has ≥ ``min_parts`` partitions (any real corpus at
    100 TB), this is a NO-OP — no shuffle is added; when it has
    fewer, the relation is by premise small, so the round-robin
    shuffle moves only those rows BEFORE the multiplier applies.
    Only safe where downstream results are partition-invariant (the
    decimal-sum discipline of functions/numeric.py) — order- or
    partition-sensitive plans must not use it.

    ``probe``: optional relation whose partition count stands in for
    ``df``'s — pass the BASE table when ``df`` is a narrow
    ``select()`` over it (a projection never changes the scan split).
    The partition probe (``df.rdd``) costs ~200 ms of driver-side
    planning + RDD conversion per distinct DataFrame object; the
    memoized ``load_table`` handle caches its ``_lazy_rdd``, so
    probing the base is once-per-file-per-session instead of
    once-per-query-build (round 12, guide §7.3)."""
    if min_parts is None:
        min_parts = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    if (probe if probe is not None else df).rdd.getNumPartitions() >= min_parts:
        return df
    return df.repartition(min_parts)


@contextlib.contextmanager
def iterative_plan_confs(spark, n: int):
    """Pin ``spark.sql.shuffle.partitions`` AND disable AQE for a
    driver-side iterative loop's lifetime (``session.scoped_confs``:
    both are restored on exit).

    Why AQE off here: an iterative loop re-plans the SAME fixed-shape
    round 10–25×; every round's stages then pay AQE's runtime
    re-optimization (stats collection, logical re-plan, stage
    re-submission) to rediscover a shape the loop author already
    pinned — measured 6.4 s vs 7.9 s on x143's 25-round PageRank at
    sf0.1 with partitions pinned either way.  Skew safety does NOT
    regress: round shuffles are keyed on node ids whose fan-in is
    degree-bounded by the contribution-list design, and partition
    count is already sized to the relation by
    :func:`iterative_shuffle_partitions`; one-pass scan-heavy plans
    should keep AQE on.
    """
    with scoped_confs(
        spark,
        {"spark.sql.adaptive.enabled": "false", "spark.sql.shuffle.partitions": str(n)},
    ):
        yield


@contextlib.contextmanager
def pinned_shuffle_partitions(spark, n: int):
    """Pin ``spark.sql.shuffle.partitions`` for a driver-side loop's
    lifetime, restoring on exit (``session.scoped_confs``, as the
    streaming replay drain in streaming/events.py does).  Plans are
    bound to the conf at ACTION time, so every round planned inside
    the block — and any final ``localCheckpoint`` — uses the pinned
    count; callers must materialize results before exiting if
    downstream consumers should not re-plan at the session default."""
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": str(n)}):
        yield


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: salt the (large, skewed) left side
    into ``salt`` sub-keys and replicate the right side once per salt.

    Turns one hot-key reducer into ``salt`` balanced ones at the cost
    of a ``salt``× blow-up of the right side — use when the right side
    is small-ish but too big/too hot for a plain broadcast, or under
    AQE-off constraints.  (With AQE skew-join on, prefer letting AQE
    split partitions; salting is the deterministic fallback and the
    only option when a SINGLE key exceeds one executor.)

    The salt is ``xxhash64`` of the row CONTENT (``salt_cols``,
    default all left columns) — deterministic under task retry and
    partitioning changes, unlike a ``monotonically_increasing_id``
    salt whose assignment depends on which partition replays (results
    were provably invariant either way — x47's oracle is the plain
    join — but retry-deterministic task outputs keep speculative
    execution and stage retries byte-stable at scale).  Identical
    rows share a salt; distinct rows of a hot key spread uniformly.
    """
    cols = salt_cols or left.columns
    lsalt = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(salt))
    )
    rsalt = right.join(
        F.broadcast(
            left.sparkSession.range(salt).select(F.col("id").cast("int").alias("_salt"))
        ),
        how="cross",
    )
    out = lsalt.join(rsalt, on=[key, "_salt"], how=how)
    return out.drop("_salt")


def x47_salted_join(spark, sf_dir: str) -> DataFrame:
    """Driver-gated salting proof: events ⋈ customer-segments through
    :func:`salted_join`, re-aggregated per segment.

    The oracle is the PLAIN join+aggregate — the whole point of
    salting is that the physical rebalancing is semantically
    invisible, and this gate proves it: any salt assignment must
    produce the bit-identical answer (each salted left row matches
    exactly one replica of its right row).
    """
    from go_mapreduce_spark.functions.numeric import dsum
    from go_mapreduce_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    seg = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, seg, "user_id")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "total_value"),
        )
        .orderBy("c_mktsegment")
    )


def repartition_for_join(df: DataFrame, key: str, n: int | None = None) -> DataFrame:
    """Pre-shuffle on the join key so several downstream joins/aggs on
    the same key reuse one exchange (Catalyst reuses compatible
    hash-partitionings instead of re-shuffling per operator)."""
    return df.repartition(n, F.col(key)) if n else df.repartition(F.col(key))


def key_histogram(df: DataFrame, key: str, top: int = 20) -> DataFrame:
    """Hot-key inspection: top keys by row count plus their share —
    the diagnostic that decides broadcast vs salt vs AQE."""
    total = df.count()
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("share", F.round(F.col("n_rows") / F.lit(float(total)), 6))
        .orderBy(F.col("n_rows").desc(), F.col(key).asc())
        .limit(top)
    )


# Filter for x105: ~20% of orders, selective enough that a runtime
# bloom filter on the fact side pays for itself.
BLOOM_PRIORITY = "1-URGENT"


def x105_bloom_join(spark, sf_dir: str) -> DataFrame:
    """Selective dim→fact join shaped for runtime bloom-filter
    pruning: revenue by return flag over lineitems whose order is
    URGENT-priority.

    The filter lives on ``orders`` (the small side); the expensive
    part is shuffling 100 TB of ``lineitem`` rows that will never
    match.  Spark's InjectRuntimeFilter rewrites exactly this plan: it
    builds a bloom filter over the filtered orders' keys during *its*
    scan and evaluates ``might_contain(l_orderkey)`` inside the
    lineitem scan — shuffle input shrinks toward the true match rate
    with zero semantic change (false positives only cost bytes; the
    join still decides membership).

    Declared result is the plain join (the oracle); the bloom rewrite
    is asserted as a plan contract in tests/test_plans.py.  At fixture
    scale the injection thresholds (10 GB application-side scan) keep
    the rewrite off — correctness is identical either way, which is
    the point.
    """
    from pyspark.sql import SparkSession  # noqa: F401  (signature parity)

    from go_mapreduce_spark.functions.numeric import dsum_expr
    from go_mapreduce_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == BLOOM_PRIORITY
    ).select("o_orderkey")
    return (
        li.join(urgent, li.l_orderkey == urgent.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum_expr("l_extendedprice * (1.0 - l_discount)", "revenue"),
        )
        .orderBy("l_returnflag")
    )
