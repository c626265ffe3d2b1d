"""PageRank semantics tests (operators/graph.py) + the streaming
foreachBatch upsert (streaming/upsert.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _pr_reference(edges, damping=0.85, n_iter=10, dangling=False, teleport=None):
    """Plain-python replica of the declared fixed-iteration formula.

    ``dangling=True`` redistributes the rank held by out-degree-0
    nodes along the teleport vector each round; ``teleport`` (node →
    probability, default uniform) is also the start vector."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    outd = {}
    for u, _ in edges:
        outd[u] = outd.get(u, 0) + 1
    n = len(nodes)
    if teleport is None:
        teleport = {x: 1.0 / n for x in nodes}
    rank = {x: teleport.get(x, 0.0) for x in nodes}
    for _ in range(n_iter):
        incoming = {x: 0.0 for x in nodes}
        for u, v in edges:
            incoming[v] += rank[u] / outd[u]
        dm = sum(rank[x] for x in nodes if x not in outd) if dangling else 0.0
        rank = {
            x: (1.0 - damping) * teleport.get(x, 0.0)
            + damping * (incoming[x] + dm * teleport.get(x, 0.0))
            for x in nodes
        }
    return rank


def test_pagerank_star_graph_matches_reference(spark):
    from go_mapreduce_spark.operators.graph import pagerank

    pairs = [(1, 2), (1, 3), (1, 4)]
    edges = pairs + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {r.node: r.rank for r in pagerank(df, symmetric=True).collect()}
    want = _pr_reference(edges)
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    # hub dominates leaves
    assert got[1] > got[2] == pytest.approx(got[3])


def test_pagerank_cycle_is_uniform(spark):
    """On a directed cycle every round preserves the uniform
    distribution exactly — generic (non-symmetric) path."""
    from go_mapreduce_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "u long, v long")
    ranks = [r.rank for r in pagerank(df).collect()]
    assert len(ranks) == 3
    for r in ranks:
        assert r == pytest.approx(1.0 / 3, abs=1e-12)


def test_pagerank_symmetric_flag_is_equivalent(spark):
    from go_mapreduce_spark.operators.graph import pagerank

    pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    edges = pairs + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(edges, "u long, v long")
    a = {r.node: r.rank for r in pagerank(df, symmetric=True).collect()}
    b = {r.node: r.rank for r in pagerank(df, symmetric=False).collect()}
    assert a == b  # bit-identical: same decimal-sum plan modulo the sink join


# directed toy graph: 3 and 5 have no in-edges, but every node has an
# out-edge, so the dangling-mass variants get one extra sink (6)
_DIRECTED = [(1, 2), (3, 2), (2, 4), (4, 1), (5, 1)]
_DIRECTED_SINK = _DIRECTED + [(4, 6)]


def test_pagerank_dangling_matches_reference(spark):
    from go_mapreduce_spark.operators.graph import pagerank_dangling

    df = spark.createDataFrame(_DIRECTED_SINK, "u long, v long")
    got = {r.node: r.rank for r in pagerank_dangling(df).collect()}
    want = _pr_reference(_DIRECTED_SINK, dangling=True)
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_ppr_seeded_matches_reference(spark):
    from go_mapreduce_spark.operators.graph import ppr_seeded

    df = spark.createDataFrame(_DIRECTED_SINK, "u long, v long")
    # 99 is not in the graph: s is uniform on the seeds present
    seeds = spark.createDataFrame([(1,), (5,), (99,)], "node long")
    got = {r.node: r.rank for r in ppr_seeded(df, seeds).collect()}
    want = _pr_reference(_DIRECTED_SINK, dangling=True, teleport={1: 0.5, 5: 0.5})
    assert set(got) == set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-12)
    assert got[3] == pytest.approx(0.0, abs=1e-12)  # unseeded, no in-edges


# ceilings on (jobs, stages) of each call plus its collect(), as
# measured on local[4] and local[8]: a change to the shared loop may
# not add a job or a stage.  Stage counts can drop run to run (a reused
# shuffle's stage is skipped), never rise.
_LOOP_COUNT_CEILINGS = {
    "pagerank_symmetric": (15, 50),
    "pagerank": (15, 50),
    "pagerank_dangling": (31, 108),
    "eigenvector_centrality": (23, 74),
    "pagerank_weighted": (14, 36),
    "ppr_seeded": (32, 113),
}


@pytest.mark.parametrize("call", sorted(_LOOP_COUNT_CEILINGS))
def test_power_iteration_job_and_stage_counts(spark, call):
    from go_mapreduce_spark.operators import graph as G

    pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    sym = pairs + [(b, a) for a, b in pairs]
    run = {
        "pagerank_symmetric": lambda: G.pagerank(
            spark.createDataFrame(sym, "u long, v long"), symmetric=True
        ),
        "pagerank": lambda: G.pagerank(
            spark.createDataFrame(_DIRECTED, "u long, v long")
        ),
        "pagerank_dangling": lambda: G.pagerank_dangling(
            spark.createDataFrame(_DIRECTED, "u long, v long")
        ),
        "eigenvector_centrality": lambda: G.eigenvector_centrality(
            spark.createDataFrame(sym, "u long, v long")
        ),
        "pagerank_weighted": lambda: G.pagerank_weighted(
            spark.createDataFrame(
                [(u, v, float(1 + (u * v) % 3)) for u, v in sym],
                "u long, v long, w double",
            )
        ),
        "ppr_seeded": lambda: G.ppr_seeded(
            spark.createDataFrame(_DIRECTED, "u long, v long"),
            spark.createDataFrame([(1,), (5,)], "node long"),
        ),
    }[call]
    sc = spark.sparkContext
    group = f"loop-counts-{call}"
    sc.setJobGroup(group, group)
    try:
        run().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
    max_jobs, max_stages = _LOOP_COUNT_CEILINGS[call]
    assert len(jobs) <= max_jobs, (call, len(jobs))
    assert stages <= max_stages, (call, stages)


def test_stream_upsert_totals_equals_batch(spark, sf_dir, tmp_path):
    """Replaying events through the foreachBatch upsert must leave the
    target equal to the batch per-user aggregate — across multiple
    micro-batches (maxFilesPerTrigger=2 over 4 files)."""
    from go_mapreduce_spark.functions.numeric import dsum
    from go_mapreduce_spark.sources.registry import load_table
    from go_mapreduce_spark.streaming.events import read_event_stream
    from go_mapreduce_spark.streaming.upsert import stream_upsert_totals

    replay = str(tmp_path / "replay")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, sf_dir, "events")
    events.repartition(4).write.parquet(replay)

    stream = read_event_stream(spark, replay, max_files_per_trigger=2)
    stream_upsert_totals(spark, stream, target, ckpt)

    got = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(target).collect()
    }
    want = {
        r.user_id: (r.n_events, round(r.total_value, 6))
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "total_value"))
        .collect()
    }
    assert got == want


def test_pagerank_counts_sink_nodes(spark):
    """A pure sink (in-edges only) must be part of the node set: it
    dilutes 1/n and receives teleport + incoming mass."""
    from go_mapreduce_spark.operators.graph import pagerank

    # 1->2, 3->2: node 2 is a sink; n must be 3, not 2
    df = spark.createDataFrame([(1, 2), (3, 2)], "u long, v long")
    got = {r.node: r.rank for r in pagerank(df).collect()}
    want = _pr_reference([(1, 2), (3, 2)])
    assert set(got) == {1, 2, 3}
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-9)


def test_upsert_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-applying a micro-batch whose id is already recorded (crash
    between target write and checkpoint commit) must be a no-op."""
    from go_mapreduce_spark.sources.registry import load_table
    from go_mapreduce_spark.streaming.upsert import apply_totals_batch

    target = str(tmp_path / "target")
    batch = load_table(spark, sf_dir, "events").limit(50)
    apply_totals_batch(spark, target, batch, batch_id=0)
    first = sorted(
        (r.user_id, r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(target).collect()
    )
    # replay of batch 0: skipped, no double-count
    apply_totals_batch(spark, target, batch, batch_id=0)
    again = sorted(
        (r.user_id, r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(target).collect()
    )
    assert again == first
    # a NEW batch id does apply
    apply_totals_batch(spark, target, batch, batch_id=1)
    doubled = {
        r.user_id: r.n_events for r in spark.read.parquet(target).collect()
    }
    base = {r[0]: r[1] for r in first}
    assert doubled == {k: 2 * v for k, v in base.items()}


def test_upsert_swap_crash_is_recoverable(spark, sf_dir, tmp_path):
    """Simulate a crash between the two swap renames (target moved
    aside, stage not yet renamed in): the next apply must heal from
    <target>.old instead of losing the table."""
    import os

    from go_mapreduce_spark.sources.registry import load_table
    from go_mapreduce_spark.streaming.upsert import apply_totals_batch

    target = str(tmp_path / "target")
    batch = load_table(spark, sf_dir, "events").limit(50)
    apply_totals_batch(spark, target, batch, batch_id=0)
    want = sorted(
        (r.user_id, r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(target).collect()
    )
    # crash window: target renamed aside, stage rename never happened
    os.rename(target, target + ".old")
    apply_totals_batch(spark, target, batch, batch_id=0)  # replay heals + skips
    got = sorted(
        (r.user_id, r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(target).collect()
    )
    assert got == want


def test_triangle_count_closed_triple(spark, sf_dir):
    """Every doc with a triangle sits in an x27 cluster of size >= 3,
    and triangle membership is symmetric within a clique."""
    from go_mapreduce_spark.operators.dedup import x27_dedup_clusters
    from go_mapreduce_spark.operators.graph import x69_triangle_count

    tri = {r.doc_id: r.n_triangles for r in x69_triangle_count(spark, sf_dir).collect()}
    if not tri:
        return  # sf without 3-cliques: vacuously fine (driver gates rows at sf0.01)
    clusters = x27_dedup_clusters(spark, sf_dir).collect()
    sizes: dict[int, int] = {}
    for r in clusters:
        sizes[r.cluster_id] = sizes.get(r.cluster_id, 0) + 1
    by_doc = {r.doc_id: sizes[r.cluster_id] for r in clusters}
    for d in tri:
        assert by_doc.get(d, 0) >= 3


def test_pagerank_dangling_conserves_mass(spark, sf_dir):
    """With dangling-mass redistribution the rank vector must sum to
    exactly 1 (the x59 simplification leaks mass; x143 must not)."""
    import pyspark.sql.functions as F

    from go_mapreduce_spark.operators.graph import (
        SUPPLIER_NODE_OFFSET,
        pagerank_dangling,
    )
    from go_mapreduce_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    edges = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("u"),
            (F.col("l_suppkey") + SUPPLIER_NODE_OFFSET).alias("v"),
        )
        .distinct()
    )
    # UNROUNDED ranks (x143's 6-dp output rounding alone accounts for
    # ~1e-4 of apparent drift over ~1600 nodes)
    total = pagerank_dangling(edges).agg(
        F.sum(F.col("rank").cast("decimal(38,18)")).cast("double")
    ).collect()[0][0]
    assert abs(total - 1.0) < 1e-9


def test_triangle_counts_skewed_hub(spark):
    """Degree-ordered orientation on a graph where ONE node carries
    50% of all edges: counts stay exact AND the hub's oriented
    out-degree collapses to ~0 (all its edges point INTO it), so the
    wedge join's per-node fan-out is bounded by the small spoke
    degrees — the id-ordered orientation this replaced would open
    C(hub_deg, 2) wedges at the hub."""
    from itertools import combinations

    from go_mapreduce_spark.operators.graph import oriented_edges, triangle_counts

    n = 100
    hub_edges = [(0, i) for i in range(1, n + 1)]                 # hub deg = n
    ring_edges = [(i, i + 1) for i in range(1, n)]                # spokes deg ≤ 4
    pairs = hub_edges + ring_edges                                # hub in n/(2n-1) ≈ 50%
    e = spark.createDataFrame(pairs, "u long, v long")

    got = {r.node: r.n_triangles for r in triangle_counts(e).collect()}
    adj = {frozenset(p) for p in pairs}
    want: dict[int, int] = {}
    for a, b, c in combinations(range(n + 1), 3):
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= adj:
            for x in (a, b, c):
                want[x] = want.get(x, 0) + 1
    assert got == want
    assert want[0] == n - 1  # hub sits in every (0, i, i+1) triangle

    # cardinality contract: hub emits no wedges (out-degree 0); max
    # oriented out-degree stays spoke-sized despite 50% edge skew
    out_deg = {
        r.s: r.cnt
        for r in oriented_edges(e).groupBy("s").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert 0 not in out_deg
    assert max(out_deg.values()) <= 3


def test_kcore_peels_tails_and_converges(spark):
    """Ring + dangling tail: the 2-core is exactly the ring (tails
    peel away over successive rounds), and the fixed round count has
    reached the fixpoint (one extra round changes nothing) — the
    docstring's convergence claim, asserted."""
    from go_mapreduce_spark.operators.graph import KCORE_ROUNDS, kcore_edges

    ring = [(i, (i + 1) % 6) for i in range(6)]
    # chain hanging off node 0: 6-7-8-9 (each peel round removes one)
    tail = [(0, 7), (7, 8), (8, 9)]
    e = spark.createDataFrame(ring + tail, "u long, v long")
    core = {(r.u, r.v) for r in kcore_edges(e).collect()}
    assert core == {(a, b) for a, b in ring}
    more = {(r.u, r.v) for r in kcore_edges(e, rounds=KCORE_ROUNDS + 1).collect()}
    assert more == core


# ---------------------------------------------------------------------------
# wave 15: BFS k-hop + Bellman-Ford cheapest path
# ---------------------------------------------------------------------------


def test_x164_bipartite_parity_and_seed_distance(spark, sf_dir):
    from go_mapreduce_spark.operators.graph import (
        BFS_ROUNDS,
        SUPPLIER_NODE_OFFSET,
        x164_khop_reachability,
    )

    rows = x164_khop_reachability(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.dist <= BFS_ROUNDS
        # bipartite: even hops land on suppliers, odd on customers
        is_supplier = r.node >= SUPPLIER_NODE_OFFSET
        assert (r.dist % 2 == 0) == is_supplier
    assert any(r.dist == 0 for r in rows), "seed set present at distance 0"


def test_x165_costs_consistent_with_bfs(spark, sf_dir):
    from go_mapreduce_spark.operators.graph import (
        x164_khop_reachability,
        x165_cheapest_path,
    )

    bfs = {r.node: r.dist for r in x164_khop_reachability(spark, sf_dir).collect()}
    cp = {r.node: r.cost for r in x165_cheapest_path(spark, sf_dir).collect()}
    # same fixed round count over the same edges => identical reach set
    assert set(bfs) == set(cp)
    for node, cost in cp.items():
        assert cost >= 0
        if bfs[node] == 0:
            assert cost == 0.0
        else:
            assert cost > 0
