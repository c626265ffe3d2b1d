"""Iterative graph algorithms beyond connected components: PageRank
over the near-duplicate graph.

Rank on the dedup graph is a real curation signal: in a duplicate
cluster, the highest-rank node is the most-connected ("canonical")
variant — a principled keep-choice, where x27's min-id keep is the
cheap one.

Scale design (shared with connected_components, operators/dedup.py):
- One driver loop, fixed ``n_iter`` rounds (deterministic plan — no
  data-dependent convergence branch, so the oracle can replay it).
- Per round: one join ranks⋈edges (key-partitioned; reusing the same
  partitioning across rounds) + one aggregate.  Contribution sums go
  through DECIMAL(38,18) — exact and associative, so ranks are
  bit-identical at any partitioning AND match the oracle's
  identically-shaped sum; 18 fractional digits keep ~1e-18 absolute
  precision on rank mass (ranks ∈ (0,1]).
- Lineage cut by ``localCheckpoint``, lazy in the loop and eager on
  the last round (same discipline as the CC loop; swap for reliable
  checkpoint() on a multi-executor cluster).  The cadence is derived
  from the round's shape, not a parameter: a round that reads the
  vector twice (a dangling-mass or L1-norm aggregate beside the
  contribution join) is cut every round, since its un-cut lineage
  doubles per round; a round that reads it once is cut every
  ``_LINEAR_CUT_EVERY`` rounds (SCALE.md, "Checkpoint cadence under
  double-reference").
- ``pagerank`` keeps the lossy sink simplification (sink mass is not
  redistributed); ``pagerank_dangling`` and ``ppr_seeded`` carry the
  full dangling-mass correction.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_mapreduce_spark.operators.scale import (
    iterative_plan_confs,
    iterative_shuffle_partitions,
)

PR_DAMPING = 0.85
PR_ITERS = 10
_DEC = "decimal(38,18)"
# cut cadence of a round that reads the vector once: its inter-cut
# chain is linear, so a longer cadence is safe
_LINEAR_CUT_EVERY = 4


def _power_iteration(
    ed: DataFrame,
    n_iter: int,
    contribution: Column,
    update: Callable[[int], Column],
    out_weight: Column | None = None,
    symmetric: bool = False,
    mass: str | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """The round skeleton shared by the PageRank family: ``n_iter``
    fixed rounds over a per-node vector ``rank``, each one MapReduce
    round pair — the ranks⋈edges contribution join, then a keyed
    DECIMAL(38,18) sum — returning (node, rank).

    - ``ed``: the edge relation (u, v[, w]); cached and counted here.
    - ``out_weight``: per-source aggregate joined onto every edge
      (out-degree, strength); None joins nothing.
    - ``contribution``: per-edge value over the edge columns + ``rank``.
    - ``update(n)``: next rank over ``s`` (summed contributions, 0.0
      for a node with no in-edges), the node relation's loop-invariant
      columns and ``mass``; ``n`` is the teleport support size.
    - ``symmetric``: every node has in- and out-edges, so the node set
      is the u side and ``s`` is the next vector as-is — the per-round
      left join that re-admits zero-in-degree nodes is skipped,
      dropping a third of the per-round shuffles.
    - ``mass``: ``"dangling"`` adds the loop-invariant ``is_dangling``
      flag and per round the 1-row decimal sum of rank on dangling
      nodes; ``"norm"`` per round the 1-row L1 norm of ``s``.  Either
      is cross-joined back as a broadcast (1 row: safe by
      construction) — no driver collect inside the loop.
    - ``seeds``: the teleport support is the seed nodes present in the
      graph; ``teleport`` (uniform on them) is a node column and the
      start vector.  Otherwise the support is every node and the start
      vector is uniform.

    Round-overhead discipline (r9 verdict: the per-round SHAPE was
    already minimal; round overhead was the cost):

    - Loop-invariant node columns (``is_dangling``, ``teleport``) are
      hoisted into the cached node relation: the dangling mass is a
      filter + aggregate, and the former per-round anti-join against
      out-degree nodes is gone (same decimal sum over the same rows:
      results bit-identical).
    - A vector read twice per round (the mass aggregate and the
      contribution join / output) doubles its un-cut lineage per round
      (2^k subplans; the oracle needs MATERIALIZED CTEs for the same
      reason), so those loops cut every round.
      ``localCheckpoint(eager=False)`` cuts the LOGICAL lineage at call
      time while deferring materialization to the round that consumes
      it — the per-round eager jobs collapse into the final action's
      DAG (A/B'd r10 on x143: lazy 6.8 s vs eager 7.3 s, and a cut
      every 2nd round instead measured WORSE, 8.6 s, because the
      doubled un-cut reference recomputes).  Round 13 on x292
      (min-of-3 interleaved at sf0.1, identity asserted): cadence 4
      3.99 s/33 jobs, 2 2.92 s/28 jobs, 1 3.00 s/25 jobs — every-round
      cuts are the floor and bound duplication at 2.
    - The last cut is EAGER so the whole chain materializes while the
      pinned confs are still in force and before the caches unpersist
      — otherwise the caller's action re-plans at the session default
      and re-exchanges the cached graph.
    - AQE is disabled for the loop (``iterative_plan_confs``): fixed-
      shape rounds × runtime re-optimization rediscover the pinned
      shape every round (A/B'd 6.4 vs 7.9 s on x143).
    """
    # the edge list is often an expensive subplan (x59 feeds the x6
    # near-dup join in) — cache it FIRST so degrees, nodes, and the
    # per-round joins all read the materialized relation, not the
    # upstream pipeline again
    ed = ed.persist()
    # shuffle partitioning sized to the graph, not the session default:
    # every round re-shuffles only ranks (≤ |V| rows) and aggregates
    # ≤ |E| contributions, so partition-count overhead dominates at
    # small scale and edge volume at large scale
    parts = iterative_shuffle_partitions(ed.count(), cpu_bound=True)
    with iterative_plan_confs(ed.sparkSession, parts):
        outd = None if out_weight is None else ed.groupBy("u").agg(out_weight)
        # the per-edge relation resolved once, hash-partitioned by the
        # per-round join key and cached: every round's ranks⋈edges join
        # reuses this partitioning (only the small ranks side moves)
        # instead of re-exchanging the graph each iteration
        ed_e = (ed if outd is None else ed.join(outd, "u")).repartition(parts, "u").persist()
        nodes = (ed_e if symmetric else ed).select(F.col("u").alias("node"))
        if not symmetric:
            nodes = nodes.union(ed.select(F.col("v").alias("node")))
        nodes = nodes.distinct()
        cols = ["node"]
        if seeds is not None:
            support = nodes.join(seeds.select("node").distinct(), "node", "left_semi")
            n = support.count()
            nodes = nodes.join(support.withColumn("_sd", F.lit(1)), "node", "left")
            cols.append(
                F.when(F.col("_sd").isNotNull(), F.lit(1.0) / n)
                .otherwise(F.lit(0.0))
                .alias("teleport")
            )
        if mass == "dangling":
            out_flag = outd.select(F.col("u").alias("node"), F.lit(1).alias("_o"))
            nodes = nodes.join(out_flag, "node", "left")
            cols.append(F.col("_o").isNull().alias("is_dangling"))
        nodes = nodes.select(*cols).persist()
        if seeds is None:
            n = nodes.count()
        if n == 0:
            for rel in (ed_e, nodes, ed):
                rel.unpersist()  # empty result: the returned plan needs no cache
            if seeds is not None:
                raise ValueError(
                    "ppr_seeded: no seed node is present in the graph — "
                    "the teleport distribution would be undefined"
                )
            return nodes.select("node", F.lit(0.0).alias("rank"))
        start = F.lit(1.0 / n) if seeds is None else F.col("teleport")
        ranks = nodes.withColumn("rank", start)
        new_rank = update(n).alias("rank")
        cut_every = 1 if mass else _LINEAR_CUT_EVERY
        for i in range(n_iter):
            summed = (
                ed_e.join(ranks.withColumnRenamed("node", "u"), "u")
                .select(F.col("v").alias("node"), contribution.alias("c"))
                .groupBy("node")
                .agg(F.sum(F.col("c").cast(_DEC)).cast("double").alias("s"))
            )
            nxt = summed
            if not symmetric:
                nxt = nodes.join(summed, "node", "left").withColumn(
                    "s", F.coalesce("s", F.lit(0.0))
                )
            if mass == "dangling":
                agg = ranks.filter(F.col("is_dangling")).agg(
                    F.coalesce(
                        F.sum(F.col("rank").cast(_DEC)).cast("double"), F.lit(0.0)
                    ).alias("mass")
                )
            elif mass == "norm":
                agg = summed.agg(F.sum(F.col("s").cast(_DEC)).cast("double").alias("mass"))
            if mass:
                nxt = nxt.crossJoin(F.broadcast(agg))
            ranks = nxt.select(*nodes.columns, new_rank)
            last = i + 1 == n_iter
            if (i + 1) % cut_every == 0 or last:
                ranks = ranks.localCheckpoint(eager=last)
        ranks = ranks.select("node", "rank")
        ed_e.unpersist()
        nodes.unpersist()
    ed.unpersist()
    return ranks


def _out_degree() -> Column:
    return F.count(F.lit(1)).alias("deg")


def pagerank(
    edges: DataFrame,
    damping: float = PR_DAMPING,
    n_iter: int = PR_ITERS,
    symmetric: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list (u, v); returns
    (node, rank).  The node set is u ∪ v, so sink nodes (out-degree
    0) are counted in n and receive teleport + incoming mass; their
    own mass is NOT redistributed (the standard lossy simplification
    — total rank < 1 when sinks exist; ``pagerank_dangling`` is the
    full formulation).

    ``symmetric=True`` declares the graph symmetric (every node has
    both in- and out-degree ≥ 1): the node set collapses to the u
    side, and the per-round left-join against the node list — needed
    only to re-admit zero-in-degree nodes — is skipped, dropping a
    third of the per-round shuffles.
    """
    return _power_iteration(
        edges.select("u", "v").distinct(),
        n_iter,
        contribution=F.col("rank") / F.col("deg"),
        update=lambda n: F.lit((1.0 - damping) / n) + F.lit(damping) * F.col("s"),
        out_weight=_out_degree(),
        symmetric=symmetric,
    )


def x59_pagerank(spark: SparkSession, sf_dir: str, threshold: float = 0.8) -> DataFrame:
    """PageRank over the symmetric x6 near-dup pair graph, 10 fixed
    rounds — (doc_id, rank) for every doc in some near-dup pair."""
    from go_mapreduce_spark.operators.dedup import shared_pair_graph

    pairs = shared_pair_graph(spark, sf_dir, threshold)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).union(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    out = pagerank(edges, symmetric=True)
    return out.select(
        F.col("node").alias("doc_id"), F.round("rank", 6).alias("rank")
    ).orderBy("doc_id")


def x69_triangle_count(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Per-doc triangle participation count over the x6 near-dup
    graph — the clustering-coefficient numerator, a cluster-density
    signal (a doc in many triangles sits in a tight clique of
    mutual near-duplicates, a stronger dedup-keep candidate than one
    on a sparse path).

    Plan: DEGREE-ORDERED orientation (the at-scale refinement the
    round-3 docstring only promised): every undirected edge points
    from its lower-(degree, id) endpoint to the higher, wedges open
    only at a node's oriented OUT-neighbors, and the closing edge is
    an equi-join.  Each triangle has a unique lowest-key vertex, so
    it is counted exactly once — and per-node join fan-out is
    C(out_deg, 2) where max oriented out-degree is O(√m) for ANY
    graph (a hub with degree = 50% of edges has out-degree ~0: all
    its edges point INTO it; the id-ordered orientation this replaces
    exploded on exactly that shape).  See the skewed-hub cardinality
    test in tests/test_graph.py.
    """
    from go_mapreduce_spark.operators.dedup import shared_pair_graph

    pairs = shared_pair_graph(spark, sf_dir, threshold)
    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    return (
        triangle_counts(e)
        .select(F.col("node").alias("doc_id"), "n_triangles")
        .orderBy("doc_id")
    )


def oriented_edges(e: DataFrame) -> DataFrame:
    """Degree-ordered orientation of an undirected edge list ``(u, v)``
    (one row per edge, endpoints in either order, no duplicates):
    each edge becomes ``s → t`` with ``(deg(s), s) < (deg(t), t)``
    lexicographically — a total order (id tie-break), so exactly one
    direction survives.  Returns ``(s, t, tkey)`` where ``tkey`` is
    t's (degree, id) sort key, carried so wedge enumeration can order
    endpoints without another degree join."""
    und = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    keyed = (
        e.join(deg.select(F.col("u").alias("_a"), F.col("d").alias("da")), F.col("u") == F.col("_a"))
        .join(deg.select(F.col("u").alias("_b"), F.col("d").alias("db")), F.col("v") == F.col("_b"))
    )
    u_first = F.struct(F.col("da"), F.col("u")) < F.struct(F.col("db"), F.col("v"))
    return keyed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.struct(F.col("db").alias("d"), F.col("v").alias("n")))
        .otherwise(F.struct(F.col("da").alias("d"), F.col("u").alias("n")))
        .alias("tkey"),
    )


def triangle_counts(e: DataFrame) -> DataFrame:
    """Per-node triangle participation count of an undirected edge
    list via degree-ordered orientation: wedges (s→b, s→c with
    key(b) < key(c)) close against the oriented edge b→c.  All joins
    are equi-joins on node keys; fan-out per wedge node is
    C(out_deg, 2) with max out-degree O(√m) regardless of skew."""
    oe = oriented_edges(e)
    w1 = oe.select("s", F.col("t").alias("b"), F.col("tkey").alias("bkey"))
    w2 = oe.select("s", F.col("t").alias("c"), F.col("tkey").alias("ckey"))
    wedges = w1.join(w2, "s").where(F.col("bkey") < F.col("ckey"))
    closing = oe.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tris = wedges.join(closing, ["b", "c"])
    nodes = tris.select(F.explode(F.array("s", "b", "c")).alias("node"))
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank_dangling(
    edges: DataFrame,
    damping: float = PR_DAMPING,
    n_iter: int = PR_ITERS,
) -> DataFrame:
    """PageRank over a general directed edge list WITH dangling-mass
    redistribution — the full formulation: per round, the rank held by
    out-degree-0 nodes is collected and redistributed uniformly, so
    total rank mass stays exactly 1 (``pagerank`` documents the lossy
    simplification; this closes it).

    r'(x) = (1-d)/n + d·(Σ_{u→x} r(u)/deg(u) + D/n),  D = Σ_{dangling} r(u)

    Per round: the ``pagerank`` contribution join + decimal aggregate,
    plus a 1-row decimal aggregate for D cross-joined back in-plan;
    ``_power_iteration`` documents the round-overhead discipline.
    """
    return _power_iteration(
        edges.select("u", "v").distinct(),
        n_iter,
        contribution=F.col("rank") / F.col("deg"),
        update=lambda n: F.lit((1.0 - damping) / n)
        + F.lit(damping) * (F.col("s") + F.col("mass") / F.lit(float(n))),
        out_weight=_out_degree(),
        mass="dangling",
    )


SUPPLIER_NODE_OFFSET = 1_000_000


def x143_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full PageRank (dangling mass redistributed) over the directed
    customer→supplier purchase graph: edge (cust → supplier) iff some
    lineitem of the customer's order ships from that supplier.
    Suppliers have no out-edges — every supplier is a dangling node,
    the case the x59 near-dup graph (symmetric by construction)
    cannot exercise; total rank mass stays 1 by construction here.

    Supplier node ids are offset by ``SUPPLIER_NODE_OFFSET`` to keep
    the two key spaces disjoint.
    """
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
    out = pagerank_dangling(edges)
    return out.select("node", F.round("rank", 6).alias("rank")).orderBy("node")


KCORE_K = 2
KCORE_ROUNDS = 5


def kcore_edges(e: DataFrame, k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> DataFrame:
    """Iterative k-core peeling of an undirected edge list ``(u, v)``
    (one row per edge): ``rounds`` fixed rounds of "drop every node
    with degree < k and its incident edges".  Fixed rounds (not
    peel-to-fixpoint) keep the computation exactly replayable as
    chained SQL CTEs — the pagerank/CC discipline; on fixture graphs
    5 rounds reach the fixpoint (converged-ness is itself asserted in
    tests, not assumed).

    Per round: one metadata-bound degree aggregate + two semi-joins,
    all key-partitioned; the edge relation is localCheckpoint-ed per
    round so lineage stays flat across iterations (each round
    references it three times — unchecked that's 3^R subplans).
    """
    cur = e.select("u", "v")
    for r in range(rounds):
        und = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        keep = (
            und.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("u")
        )
        # lazy in-loop / eager final (see _power_iteration): lineage
        # is cut at call time, so the 3-refs-per-round blowup is
        # still bounded while per-round eager jobs collapse
        cur = (
            cur.join(keep, "u", "left_semi")
            .join(keep.withColumnRenamed("u", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=r + 1 == rounds)
        )
    return cur


def x146_kcore(spark: SparkSession, sf_dir: str, threshold: float = 0.8) -> DataFrame:
    """2-core of the x6 near-dup graph: docs surviving iterative
    removal of degree-<2 nodes, with their in-core degree — the
    "tight cluster membership" signal (a 2-core member sits on a
    cycle of mutual near-duplicates; tree-like appendages and
    isolated pairs peel away), sharper than raw degree for choosing
    canonical documents in dense dup families.
    """
    from go_mapreduce_spark.operators.dedup import shared_pair_graph

    pairs = shared_pair_graph(spark, sf_dir, threshold)
    e = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    core = kcore_edges(e)
    und = core.union(core.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        und.groupBy(F.col("u").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# wave 15: traversal primitives over the purchase graph
# ---------------------------------------------------------------------------

BFS_ROUNDS = 4


def purchase_edges_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected customer<->supplier purchase edges, supplier ids
    offset into a disjoint key space (one fact shuffle, distinct'd)."""
    from go_mapreduce_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    e = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("u"),
            (F.col("l_suppkey") + SUPPLIER_NODE_OFFSET).alias("v"),
        )
        .distinct()
    )
    return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _nation3_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from go_mapreduce_spark.sources.registry import load_table

    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        sup.join(
            F.broadcast(nat.filter(F.col("n_name") == "NATION_3")),
            sup.s_nationkey == nat.n_nationkey,
        )
        .select((F.col("s_suppkey") + SUPPLIER_NODE_OFFSET).alias("node"))
    )


def bfs_khop(edges_sym: DataFrame, seeds: DataFrame, rounds: int = BFS_ROUNDS) -> DataFrame:
    """Minimum hop distance from ``seeds`` within ``rounds`` hops.

    Frontier BFS: each round joins ONLY the previous frontier (not the
    full visited set) against the edge list, anti-joins out already-
    visited nodes, and appends the new frontier at distance r.  Fixed
    round count keeps the plan deterministic (no data-dependent
    convergence branch -> the oracle replays it as chained CTEs);
    ``localCheckpoint`` per round bounds lineage exactly like the CC /
    PageRank loops.  Per-round cost: one keyed join frontier x edges +
    one anti-join against visited -- both shuffles keyed, never global.
    The edge relation is persisted for the loop (and released after)
    so rounds never re-derive it from its fact-table lineage, and
    shuffle partitions are pinned to the graph's volume for the
    loop's lifetime (``iterative_shuffle_partitions`` -- the same
    sizing the PageRank/CC loops use: per-round relations are
    node-sized, and at fixture scale scheduling overhead, not data,
    dominates a 32-partition shuffle; measured ~2x on the loop).
    """
    edges_sym = edges_sym.persist()
    m = edges_sym.count()
    spark = edges_sym.sparkSession
    with iterative_plan_confs(spark, iterative_shuffle_partitions(m)):
        dist = (
            seeds.select("node", F.lit(0).alias("dist"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        frontier = dist.select("node")
        for r in range(1, rounds + 1):
            nbrs = (
                frontier.join(edges_sym, frontier.node == edges_sym.u)
                .select(F.col("v").alias("node"))
                .distinct()
            )
            # the frontier feeds TWO consumers (this round's dist union
            # and next round's expansion join) — without its own
            # lineage cut each round's plan re-embeds the whole prior
            # frontier join chain and the loop recomputes
            # O(rounds²) joins (round 13; the dist cut alone never
            # covered the frontier branch)
            new = (
                nbrs.join(dist, "node", "left_anti")
                .select("node", F.lit(r).alias("dist"))
                .localCheckpoint(eager=False)
            )
            # lazy in-loop / eager final checkpoint cadence: lineage
            # is cut at call time either way; the eager last round
            # materializes the whole chain inside the pinned confs,
            # before the edge cache is released (pagerank_dangling
            # documents the A/B)
            dist = dist.union(new).localCheckpoint(eager=r == rounds)
            frontier = new
    edges_sym.unpersist()
    return dist


def x164_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS reachability: minimum hop distance (<= 4) from NATION_3's
    suppliers over the undirected customer<->supplier purchase graph.

    The supply-chain blast-radius question ("which customers and
    co-suppliers are within k relations of this supplier set") as a
    fixed-round frontier BFS -- the traversal primitive the iterative
    family (CC x27, PageRank x59/x143, k-core x146) did not yet cover.
    Even hops land on suppliers, odd hops on customers (bipartite).
    """
    return (
        bfs_khop(purchase_edges_sym(spark, sf_dir), _nation3_seeds(spark, sf_dir))
        .orderBy("node")
    )


def cheapest_path(
    edges_w: DataFrame, seeds: DataFrame, rounds: int = BFS_ROUNDS
) -> DataFrame:
    """Bellman-Ford relaxation, ``rounds`` fixed rounds: minimum total
    edge weight from ``seeds`` using paths of <= rounds edges.

    Per round: one keyed join (settled distances x edges) producing
    candidates, then a min-aggregate over (old U candidates) -- the
    relational relaxation step.  Costs stay raw IEEE doubles and are
    still bit-deterministic at any partitioning: each candidate cost
    is evaluated along ONE specific path (fixed left-to-right ``dist
    + w``, no cross-partition accumulation), and ``min`` over a set
    of doubles is order-independent -- unlike a floating SUM
    aggregate, nothing here depends on reduction order.  (A decimal
    detour would actually HURT parity: the double->decimal cast
    rounds differently across engines -- exact-BigDecimal HALF_UP in
    Spark vs double-multiply rounding in DuckDB -- measured 1-ulp
    divergence on this data.)  Fixed rounds keep the plan
    oracle-replayable as chained CTEs.  The weighted edge relation is
    persisted for the loop (released after) and shuffle partitions
    are pinned to graph volume -- same rationale as :func:`bfs_khop`.
    """
    edges_w = edges_w.persist()
    m = edges_w.count()
    spark = edges_w.sparkSession
    with iterative_plan_confs(spark, iterative_shuffle_partitions(m)):
        dist = (
            seeds.select("node", F.lit(0.0).alias("cost"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        for r in range(rounds):
            cand = dist.join(edges_w, dist.node == edges_w.u).select(
                F.col("v").alias("node"),
                (F.col("cost") + F.col("w")).alias("cost"),
            )
            # lazy in-loop / eager final (see _power_iteration)
            dist = (
                dist.unionByName(cand)
                .groupBy("node")
                .agg(F.min("cost").alias("cost"))
                .localCheckpoint(eager=r + 1 == rounds)
            )
    edges_w.unpersist()
    return dist


def x165_cheapest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest procurement chain: minimum cumulative unit-cost path
    (<= 4 edges) from NATION_3's suppliers over the purchase graph,
    edge weight = cheapest observed unit price between the pair.

    Bellman-Ford as iterated relational relaxation: the weighted twin
    of x164's BFS.  Edge weights come from ONE fact aggregate
    (min extendedprice/quantity per customer-supplier pair, symmetric
    thereafter); the relaxation loop never touches lineitem again.
    """
    from go_mapreduce_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pair_w = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("cu"),
            (F.col("l_suppkey") + SUPPLIER_NODE_OFFSET).alias("su"),
        )
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("w"))
    )
    edges_w = pair_w.select(
        F.col("cu").alias("u"), F.col("su").alias("v"), "w"
    ).union(pair_w.select(F.col("su").alias("u"), F.col("cu").alias("v"), "w"))
    out = cheapest_path(edges_w, _nation3_seeds(spark, sf_dir))
    # cost is emitted RAW (no round): both engines hold the identical
    # IEEE double, and output rounding is itself an engine-divergence
    # source near decimal midpoints (the compare canonicalizes to 12
    # significant digits).
    return out.select("node", "cost").orderBy("node")


# ---------------------------------------------------------------------------
# x181: recursive CTE surface (Spark 4 WITH RECURSIVE)
# ---------------------------------------------------------------------------

CHAIN_MAX_STEPS = 5


def x181_recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-chain walk via ``WITH RECURSIVE`` — Spark 4's
    recursive-CTE surface, exercised on a fan-out-1 successor graph.

    Each user's events (ordered by ``ts, event_id``) form a linked
    list through ``lead()`` pointers; the recursion starts at the
    earliest event and follows ``next_id`` for at most
    ``CHAIN_MAX_STEPS`` hops, accumulating a decimal running value.
    Output: the deepest node reached per user with its step count and
    accumulated value — semantically a window cumsum (and that is the
    right 100 TB plan; see below), but executed through the iterative
    UnionLoop operator so the declared surface covers genuine
    linear-recursive SQL, the shape hierarchies/bill-of-materials
    queries take when levels are data-dependent.

    Spark restricts recursive CTEs to UNION ALL (no dedup between
    iterations), so termination must come from the data: the
    successor relation has fan-out exactly 1 per (user, event) and
    the explicit ``step`` guard bounds depth, keeping the iterated
    row count at |users| per round — never combinatorial.  Per round
    the loop joins the frontier against the lead-pointer relation on
    (user_id, event_id): a keyed shuffle join, node-sized state, the
    same posture as the bfs_khop loop.  The DuckDB oracle runs the
    IDENTICAL statement (both engines implement SQL:1999 linear
    recursion); the decimal accumulator keeps cross-engine addition
    exact.
    """
    from go_mapreduce_spark.sources.registry import load_table

    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(RECURSIVE_CHAIN_SQL)


RECURSIVE_CHAIN_SQL = f"""
    WITH RECURSIVE walk(user_id, event_id, step, cum_value) AS (
        SELECT user_id, event_id, 0 AS step,
               CAST(CAST(value AS DECIMAL(38,6)) AS DECIMAL(38,6)) AS cum_value
        FROM (
            SELECT user_id, event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
        UNION ALL
        SELECT w.user_id, n.next_id, w.step + 1,
               CAST(w.cum_value + CAST(n.next_value AS DECIMAL(38,6))
                    AS DECIMAL(38,6))
        FROM walk w
        JOIN (
            SELECT user_id, event_id,
                   lead(event_id) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS next_id,
                   lead(value) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS next_value
            FROM events
        ) n ON n.user_id = w.user_id AND n.event_id = w.event_id
        WHERE n.next_id IS NOT NULL AND w.step < {CHAIN_MAX_STEPS}
    )
    SELECT user_id, event_id AS final_event_id, step AS n_steps,
           CAST(cum_value AS DOUBLE) AS chain_value
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY step DESC) AS rk
        FROM walk
    ) WHERE rk = 1
    ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# x267 — label propagation communities (wave 44)
# ---------------------------------------------------------------------------

LPA_ROUNDS = 3


def x267_label_propagation(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    x6 near-dup pair graph: every node starts with its own id as
    label; each round adopts the MODE of its neighbors' labels
    (ties → smallest label), run for ``LPA_ROUNDS`` fixed rounds —
    the near-linear community detector (Raghavan et al. 2007) and
    the denser-cluster complement of x27's connected components.

    The deterministic update rule (mode with min-label tiebreak,
    synchronous rounds) makes the algorithm exactly replayable in
    SQL — the oracle unrolls the rounds as chained CTEs, making this
    an oracle-CHECKED iterative graph algorithm like x59/x143.  Per
    round: one keyed join (labels onto edges) + one two-level
    aggregate; shuffles stay edge-sized, argmax is a ``min(struct)``
    (never a per-node sort), lineage stays flat (fixed 3 rounds, no
    checkpoint needed).
    """
    from go_mapreduce_spark.operators.dedup import shared_pair_graph

    pairs = shared_pair_graph(spark, sf_dir, threshold)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).union(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    labels = edges.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ROUNDS):
        neigh = edges.join(labels, edges.u == labels.node).select(
            F.col("v").alias("node"), "label"
        )
        votes = neigh.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels = votes.groupBy("node").agg(
            F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("label").alias("l")))
            .getField("l")
            .alias("label")
        )
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("community_size"))
    return (
        labels.join(sizes, "label")
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("community"),
            F.col("community_size").cast("bigint").alias("community_size"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x292 — eigenvector centrality (wave 54)
# ---------------------------------------------------------------------------

EV_ITERS = 8


def eigenvector_centrality(edges: DataFrame, n_iter: int = EV_ITERS) -> DataFrame:
    """Eigenvector centrality of a SYMMETRIC edge list (u, v) by
    L1-normalized power iteration: score ← A·score / ‖A·score‖₁ for
    ``n_iter`` fixed rounds from the uniform vector — PageRank's
    damping-free sibling (a node is central when its neighbors are),
    the second classic spectral measure next to x59/x143.

    L1 normalization (not the textbook L2) keeps every round's
    arithmetic in exact-decimal sums + one double division, so the
    result is bit-stable at any partition count AND SQL-replayable —
    the same eigenvector up to scale, since power iteration is
    norm-choice-invariant for nonnegative symmetric A (Perron).
    """
    return _power_iteration(
        edges.select("u", "v").distinct(),
        n_iter,
        contribution=F.col("rank"),
        update=lambda n: F.col("s") / F.col("mass"),
        symmetric=True,
        mass="norm",
    ).withColumnRenamed("rank", "score")


def x292_eigenvector_centrality(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Eigenvector centrality over the symmetric x6 near-dup pair
    graph (the corpus's dedup-cluster backbone): the docs that are
    central to large tight clusters — the strongest "canonical copy"
    candidates a near-dup curation pass should keep."""
    from go_mapreduce_spark.operators.dedup import shared_pair_graph

    pairs = shared_pair_graph(spark, sf_dir, threshold)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    return (
        eigenvector_centrality(edges)
        .select(F.col("node").alias("doc_id"), F.round("score", 6).alias("score"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# weighted PageRank (wave 57: x298 TextRank)
# ---------------------------------------------------------------------------


def pagerank_weighted(
    edges: DataFrame,
    damping: float = PR_DAMPING,
    n_iter: int = PR_ITERS,
) -> DataFrame:
    """PageRank over a SYMMETRIC weighted edge list (u, v, w): each
    round a node passes ``rank · w_uv / strength(u)`` along every
    edge (strength = Σ_v w_uv), the weighted-graph formulation
    TextRank runs on.  Caller guarantees symmetry (every node has
    out-strength > 0), so no dangling handling and the node set is
    the u side — the ``pagerank(symmetric=True)`` contract.
    """
    return _power_iteration(
        edges.select("u", "v", "w"),
        n_iter,
        contribution=F.col("rank") * F.col("w") / F.col("wsum"),
        update=lambda n: F.lit((1.0 - damping) / n) + F.lit(damping) * F.col("s"),
        out_weight=F.sum("w").alias("wsum"),
        symmetric=True,
    )


# ---------------------------------------------------------------------------
# x318 — community modularity of the label-propagation partition (wave 62)
# ---------------------------------------------------------------------------


def x318_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the x267 label-propagation partition
    over the near-dup graph: Q = Σ_c (e_c/m − (d_c/2m)²) — the
    partition-quality score that says whether the detected
    communities are denser than chance, closing the loop on x267
    ("we found communities" → "and they are real").

    Reuses the memoized pair graph and the x267 labels; e_c (edges
    inside each community) is one labels⋈labels equi-join over the
    pair relation, d_c a degree aggregate joined by label — all
    community-count-sized after the first join.  Sums through decimal
    (exact-integer numerators; m enters once as a 1-row broadcast).
    """
    from go_mapreduce_spark.operators.dedup import shared_pair_graph

    pairs = shared_pair_graph(spark, sf_dir).select("doc_a", "doc_b")
    labels = x267_label_propagation(spark, sf_dir).select(
        F.col("doc_id"), F.col("community")
    )
    m_rel = pairs.agg(F.count(F.lit(1)).alias("m"))  # undirected edge count
    la = labels.select(F.col("doc_id").alias("doc_a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("doc_id").alias("doc_b"), F.col("community").alias("cb"))
    e_c = (
        pairs.join(la, "doc_a")
        .join(lb, "doc_b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d_c = (
        deg.join(labels, "doc_id")
        .groupBy("community")
        .agg(F.sum("d").alias("d_sum"))
    )
    per_c = (
        d_c.join(e_c, "community", "left")
        .crossJoin(F.broadcast(m_rel))
        .select(
            "community",
            (
                F.coalesce(F.col("e_in"), F.lit(0)) / F.col("m").cast("double")
                - (F.col("d_sum") / (2.0 * F.col("m")))
                * (F.col("d_sum") / (2.0 * F.col("m")))
            ).alias("q_term"),
            F.coalesce(F.col("e_in"), F.lit(0)).alias("e_in"),
            "m",
        )
    )
    return per_c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
        F.sum("e_in").cast("bigint").alias("edges_within"),
        F.max("m").cast("bigint").alias("edges_total"),
        F.round(
            F.sum(F.col("q_term").cast("decimal(38,18)")).cast("double"), 6
        ).alias("modularity"),
    )


# ---------------------------------------------------------------------------
# x319 — HITS hubs & authorities on the nation trade graph (wave 63)
# ---------------------------------------------------------------------------

HITS_ROUNDS = 6


def x319_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) hub/authority scores on the international
    trade graph: one directed edge per (supplier nation → customer
    nation) weighted by line-item count.  A high HUB score marks an
    exporter whose goods flow into important importers; a high
    AUTHORITY score marks an importer fed by important exporters —
    the directional complement PageRank (x59/x143) collapses.

    Scale shape: ONE corpus-sized pass (the 4-way lineitem⋈orders⋈
    customer⋈supplier⋈nation join, map-side-combinable count
    aggregate) reduces 100 TB of facts to a ≤25×25 edge matrix; all
    ``HITS_ROUNDS`` mutual-reinforcement rounds then iterate on that
    bounded relation in-plan (the x314 Markov discipline): each round
    is two ≤625-row keyed joins plus a 1-row L1 normalizer broadcast,
    decimal-summed so the fixpoint is bit-identical at any partition
    count.  No collect anywhere; the reference engine
    (``/root/reference/mapreduce/mapreduce.go:130-219``) would need
    one full map+reduce job per half-round.
    """
    from go_mapreduce_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
                          .select("s_suppkey", F.col("n_name").alias("a"))),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation.select(F.col("n_nationkey").alias("ck"),
                                        F.col("n_name").alias("b"))),
              cust.c_nationkey == F.col("ck"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
        # materialize the ≤625-row matrix once: all 2·HITS_ROUNDS
        # joins below reference it, and a checkpointed bounded
        # relation keeps Catalyst from re-optimizing (and the
        # scheduler from re-planning) the corpus-sized build per round
        .localCheckpoint()
    )

    def _l1_normalize(scores: DataFrame) -> DataFrame:
        # bounded ≤25-row relation: a global window is one tiny task,
        # and referencing the input ONCE keeps the 2·HITS_ROUNDS-deep
        # lineage linear (an agg+crossJoin normalizer references it
        # twice and doubles the logical plan every half-round)
        w_all = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        tot = (
            F.sum(F.col("score").cast("decimal(38,18)"))
            .over(w_all)
            .cast("double")
        )
        return scores.select("node", (F.col("score") / tot).alias("score"))

    hub = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "score", F.lit(1.0)
    )
    auth = None
    for _ in range(HITS_ROUNDS):
        auth = _l1_normalize(
            edges.join(hub.withColumnRenamed("node", "a"), "a")
            .groupBy(F.col("b").alias("node"))
            .agg(
                F.sum((F.col("w") * F.col("score")).cast("decimal(38,18)"))
                .cast("double")
                .alias("score")
            )
        )
        hub = _l1_normalize(
            edges.join(auth.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(
                F.sum((F.col("w") * F.col("score")).cast("decimal(38,18)"))
                .cast("double")
                .alias("score")
            )
        )
    h = hub.withColumnRenamed("score", "hub")
    a = auth.withColumnRenamed("score", "authority")
    return (
        h.join(a, "node", "full_outer")
        .select(
            F.col("node").alias("n_name"),
            F.round(F.coalesce("hub", F.lit(0.0)), 6).alias("hub"),
            F.round(F.coalesce("authority", F.lit(0.0)), 6).alias("authority"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# x324 — closeness centrality on the thresholded trade graph (wave 64)
# ---------------------------------------------------------------------------

CLOSENESS_HOPS = 4


def x324_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonically-normalized closeness centrality (Wasserman–Faust)
    of each nation in the MAJOR-trade-lane graph: a directed edge
    a→b exists when the (supplier nation → customer nation) line-item
    count exceeds the all-pairs average — the data-derived threshold
    keeps the graph's sparsity stable across scale factors (raw
    counts grow with SF; the mean grows with them).

    Scale shape: one corpus pass reduces the fact table to the ≤625-
    row pair-count matrix (the x319 build); the threshold enters as a
    1-row broadcast; ``CLOSENESS_HOPS`` rounds of min-distance BFS
    then iterate on the bounded ≤|V|² distance relation in-plan —
    exactly the x165 Bellman-Ford discipline, no collect, no driver
    loop over data.  C(s) = (r/(n−1))·(r/Σd): the reachable-count-
    squared normalization that ranks partially-reaching nodes fairly
    in a disconnected digraph.
    """
    from go_mapreduce_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(
                supp.join(
                    F.broadcast(nation),
                    supp.s_nationkey == nation.n_nationkey,
                ).select("s_suppkey", F.col("n_name").alias("a"))
            ),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(
                nation.select(
                    F.col("n_nationkey").alias("ck"), F.col("n_name").alias("b")
                )
            ),
            cust.c_nationkey == F.col("ck"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    thr = pairs.agg(F.avg("n").alias("avg_n"))
    # materialize the ≤625-row thresholded edge list once: the BFS
    # min-union below references both it and the running distance
    # relation twice per round, and checkpointed bounded relations
    # keep the unrolled plan linear instead of re-expanding the
    # corpus-sized pair build 2^hops times
    edges = (
        pairs.crossJoin(F.broadcast(thr))
        .filter(F.col("n") > F.col("avg_n"))
        .select("a", "b")
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    dist = nodes.select(
        F.col("node").alias("s"),
        F.col("node").alias("v"),
        F.lit(0).cast("bigint").alias("d"),
    )
    for _ in range(CLOSENESS_HOPS):
        stepped = (
            dist.join(edges, dist.v == edges.a)
            .select("s", F.col("b").alias("v"), (F.col("d") + 1).alias("d"))
        )
        dist = (
            dist.unionByName(stepped)
            .groupBy("s", "v")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()  # ≤|V|² rows; linear lineage per round
        )
    per_s = dist.filter(F.col("v") != F.col("s")).groupBy("s").agg(
        F.count(F.lit(1)).alias("r"), F.sum("d").alias("sum_d")
    )
    return (
        nodes.join(per_s, nodes.node == per_s.s, "left")
        .crossJoin(F.broadcast(n_nodes))
        .select(
            F.col("node").alias("n_name"),
            F.coalesce("r", F.lit(0)).cast("bigint").alias("n_reachable"),
            F.coalesce("sum_d", F.lit(0)).cast("bigint").alias("sum_dist"),
            F.round(
                F.when(
                    F.coalesce("sum_d", F.lit(0)) > 0,
                    (
                        F.col("r").cast("double")
                        / (F.col("n_nodes") - 1)
                    )
                    * (F.col("r").cast("double") / F.col("sum_d")),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("closeness"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# x378 — personalized PageRank from a seed set (wave 82)
# ---------------------------------------------------------------------------

PPR_SEED_NATION = 3


def ppr_seeded(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = PR_DAMPING,
    n_iter: int = PR_ITERS,
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling mass) return to a
    SEED distribution instead of uniform — the "importance relative to
    THESE nodes" ranking behind related-item and local-community
    queries.  ``seeds`` is a (node) relation; s is uniform on the
    seeds that exist in the graph, r0 = s, and per round

        r'(x) = (1-d)·s(x) + d·(Σ_{u→x} r(u)/deg(u) + D·s(x))

    so total mass stays exactly 1.  Same plan as ``pagerank_dangling``
    (cites mapreduce/mapreduce.go:178-219 for the reduce-side shape)
    with s carried as the loop-invariant ``teleport`` node column.
    Raises ``ValueError`` when no seed node is in the graph.
    """
    return _power_iteration(
        edges.select("u", "v").distinct(),
        n_iter,
        contribution=F.col("rank") / F.col("deg"),
        update=lambda n: F.lit(1.0 - damping) * F.col("teleport")
        + F.lit(damping) * (F.col("s") + F.col("mass") * F.col("teleport")),
        out_weight=_out_degree(),
        mass="dangling",
        seeds=seeds,
    )


def x378_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the customer→supplier purchase graph
    (x143's graph), teleporting to the customers of ONE nation: which
    suppliers matter most to that nation's buyers?  Non-seed customers
    rank only by flow-through, and all mass drains back to the seeds —
    the ranking x143's global variant cannot express.  Top-25 by rank
    (ties to node id) keeps the output contract bounded.
    """
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
    seeds = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == PPR_SEED_NATION)
        .select(F.col("c_custkey").alias("node"))
    )
    out = ppr_seeded(edges, seeds)
    return (
        out.orderBy(F.col("rank").desc(), F.col("node").asc())
        .limit(25)
        .select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.col("rank").desc(), F.col("node").asc())
    )
