"""Deduplication operator family for training-data pipelines.

The reference has no dedup (its Merge does last-write-wins on key
collisions across reducer files, which cannot occur —
mapreduce/mapreduce.go:240-247); these operators are the north-star
extension surface (BASELINE.json:6), designed for 100 TB corpora:

- x1  exact dedup        — sha256 groupBy (one shuffle on a 32-byte key)
- x4  MinHash + LSH      — shingle → 64-perm signature → 16×4 band
                           bucket join → exact-Jaccard verify
- x5  SimHash            — 64-bit signature → 4×16-bit chunk blocking
                           → Hamming verify
- x6  n-gram Jaccard     — exact pairwise via inverted shingle index
- x13 embedding near-dup — label-blocked cosine pairs

Scale design notes:
- All pair generation is *blocked* (LSH bucket / signature chunk /
  label): the engine never materializes the O(N²) cross join.  The
  only self-join keys are bucket ids, and AQE skew-join splitting
  handles hot buckets; degenerate buckets (empty docs) are filtered
  before the join.
- Signatures are computed with built-in expressions (xxhash64,
  higher-order array functions) — zero Python in the hot path.
- Exact-verify joins re-join on doc_id against the pre-computed
  shingle index rather than recomputing shingles per pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from go_mapreduce_spark.sources.registry import load_table

# ---------------------------------------------------------------------------
# shared shingling (word-level 3-grams over a lowercase [a-z]+ tokenizer)
# ---------------------------------------------------------------------------

MERSENNE_P = (1 << 31) - 1  # 2^31-1, prime; minhash universe
N_PERM = 64
N_BANDS = 16
ROWS_PER_BAND = 4  # N_PERM / N_BANDS

# Deterministic LCG-derived permutation coefficients (seed fixed forever:
# results must be reproducible across runs and cluster sizes).
_MINHASH_A = [((1103515245 * (i + 1) + 12345) % MERSENNE_P) or 1 for i in range(N_PERM)]
_MINHASH_B = [(2654435761 * (i + 1)) % MERSENNE_P for i in range(N_PERM)]


def lower_tokens(text: Column) -> Column:
    """Lowercase [a-z]+ tokens (dedup-family tokenizer)."""
    return F.filter(F.split(F.lower(text), "[^a-z]+"), lambda t: F.length(t) > 0)


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles of an ALREADY-MATERIALIZED token array
    column; empty array if < n tokens.

    ``toks`` must be a plain column reference, not a computed
    expression: it is read inside the transform lambda, and Spark
    re-evaluates lambda-captured expressions per element — passing
    the raw ``lower_tokens(text)`` expression here made shingling
    O(tokens²) per document (observed 3–4× slowdown at sf0.1).
    """
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def shingle_array(text: Column, n: int = 3) -> Column:
    """Shingles directly from text — convenience for single-use sites;
    prefer materializing tokens + :func:`shingles_from_tokens` in
    multi-stage pipelines (see its docstring for why)."""
    return shingles_from_tokens(lower_tokens(text), n)


def doc_shingles(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    spread: bool = True,
) -> DataFrame:
    """Exploded distinct (doc_id, shingle) inverted-index relation.

    The tokenize + shingle explode runs in the SCAN stage of its
    input: spread an under-split scan first so the per-char work
    parallelizes (guarded NO-OP at real scale / on already-spread
    inputs; the distinct inverted index is partition-invariant).

    ``spread=False`` for semi-join-only consumers (x52/x195) that
    shingle filtered branches of one scan: their heavy work all
    happens AFTER the distinct shuffle (which parallelizes
    regardless of scan splits), so per-branch spreads only add a
    full-text shuffle + an `.rdd` planning round-trip per branch
    (r9 driver: x195 1.44 -> 4.77 s; removing them restores 1.17 s
    steady at sf0.1, and a shared pre-filter spread was still 2×
    slower than none).  Keep the default for pair-generating
    consumers (x4/x6), where the explode fan-out runs map-side in
    the scan stage and single-task tokenize genuinely serializes.
    """
    from go_mapreduce_spark.operators.scale import spread_for_fanout

    src = spread_for_fanout(docs) if spread else docs
    toks = src.select(
        id_col, lower_tokens(F.col(text_col)).alias("toks")
    )
    return (
        toks.select(id_col, F.explode(shingles_from_tokens(F.col("toks"))).alias("sh"))
        .distinct()
    )


def _candidate_pairs(
    shingles: DataFrame, id_col: str = "doc_id", max_df: int | None = None
) -> DataFrame:
    """Distinct co-occurring (doc_a, doc_b) pairs from the inverted
    index — candidate generation only.

    ``max_df`` is the posting-list cap: shingles appearing in more
    than max_df docs are dropped BEFORE the self-join.  A shingle in
    d docs yields O(d²) join output, so one stop-shingle ("in the")
    across 1% of a 100 TB corpus is quadratic without the cap; with
    it, candidate count is bounded by Σ_{df≤max_df} df² ≤
    max_df · |postings|.  Recall contract: a true near-dup pair is
    missed only if EVERY shared shingle is a stop-shingle — near-dup
    docs share long runs of (rare) 3-gram shingles, so choose max_df
    well above the expected duplicate-cluster size and far below
    corpus size (e.g. 1e4 at web scale).  Jaccard itself is always
    verified on FULL shingle sets, so the cap affects recall only,
    never emits a wrong score.
    """
    posting = shingles
    if max_df is not None:
        hot = (
            shingles.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("sh")
        )
        # left-anti against the (tiny) hot-shingle list; Spark plans
        # this as a broadcast anti join
        posting = shingles.join(hot, "sh", "left_anti")
    a = posting.alias("a")
    b = posting.alias("b")
    return (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def _pairwise_jaccard(
    shingles: DataFrame, id_col: str = "doc_id", max_df: int | None = None
) -> DataFrame:
    """Exact Jaccard for every doc pair sharing ≥1 (non-capped)
    shingle.

    Inverted-index self-join: only pairs that actually co-occur in
    some posting list are generated — never the full cross join.
    Uncapped, the per-shingle join output doubles as the exact
    intersection count (one pass).  With ``max_df`` set (the 100 TB
    configuration — see :func:`_candidate_pairs`), candidates come
    from capped postings and the intersection is re-verified against
    full per-doc shingle sets, so scores are identical to the
    uncapped path for every surviving pair.

    The shingle relation is localCheckpointed on entry: every branch
    (both self-join sides, the per-doc sizes joined twice, the capped
    path's hot-list/sets) otherwise replays the tokenize + shingle
    explode + distinct shuffle — consumers whose extra aggregates
    defeat ReuseExchange (x316) ran FOUR full passes over documents.
    One inverted-index write (shuffle-class I/O) feeds them all.
    """
    shingles = shingles.localCheckpoint()
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if max_df is None:
        a = shingles.alias("a")
        b = shingles.alias("b")
        inter = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        sets_ = shingles.groupBy(id_col).agg(F.collect_set("sh").alias("shset"))
        inter = (
            _candidate_pairs(shingles, id_col, max_df)
            .join(sets_.select(F.col(id_col).alias("doc_a"), F.col("shset").alias("sa")), "doc_a")
            .join(sets_.select(F.col(id_col).alias("doc_b"), F.col("shset").alias("sb")), "doc_b")
            .select("doc_a", "doc_b", F.size(F.array_intersect("sa", "sb")).alias("inter"))
        )
    return (
        inter.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
    )


# ---------------------------------------------------------------------------
# x1 — exact dedup
# ---------------------------------------------------------------------------

def x1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep min(doc_id) per sha256(text); one shuffle on the digest.

    At 100 TB: the shuffle key is the 64-hex digest, uniformly
    distributed by construction — no skew possible, scales linearly.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2(F.col("text"), 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x6 — exact n-gram Jaccard near-dup (the oracle-checkable baseline)
# ---------------------------------------------------------------------------

def x6_dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8, max_df: int | None = None
) -> DataFrame:
    """All doc pairs with word-3-gram Jaccard ≥ threshold.

    ``max_df`` (posting-list cap, see :func:`_candidate_pairs`) is
    off by default at fixture scale — the oracle checks the exact
    uncapped answer; at 100 TB it is the required configuration.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _pairwise_jaccard(doc_shingles(docs), max_df=max_df)
    return (
        pairs.filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


_PAIR_GRAPH_CACHE: dict = {}  # (session, sf_dir, threshold) -> checkpointed pairs


def shared_pair_graph(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """The x6 near-dup pair graph, memoized per (session, fixture,
    threshold) and eagerly materialized via localCheckpoint.

    Six downstream graph/analytics queries (x27 clusters, x59
    PageRank, x69 k-core, x162 triangles, x267 label propagation,
    x292 eigenvector centrality) all start from this exact relation;
    without sharing, each rebuilds the candidate-pair join (~2.5 s at
    sf0.1 — the single biggest redundant cost in the bench).  Reuse
    is semantics-preserving because the fixture tables under a given
    sf_dir are immutable and x6 is deterministic.  On a multi-executor
    cluster swap localCheckpoint for reliable ``checkpoint()`` —
    localCheckpoint blocks die with an executor.
    """
    import os as _os

    key = (spark, _os.path.normpath(sf_dir), threshold)
    hit = _PAIR_GRAPH_CACHE.get(key)
    if hit is not None:
        return hit
    pairs = x6_dedup_ngram_jaccard(spark, sf_dir, threshold).localCheckpoint()
    _PAIR_GRAPH_CACHE[key] = pairs
    return pairs


# ---------------------------------------------------------------------------
# x4 — MinHash + LSH near-dup (the 100 TB-scale path)
# ---------------------------------------------------------------------------

def minhash_signatures(shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """64-permutation MinHash signature per doc, columnar form.

    Input: exploded (doc_id, sh) relation.  Universal hashing
    (a*h + b) mod p over xxhash64-reduced shingles; all arithmetic
    stays < 2^63 so it is safe under ANSI overflow checking.

    Shape matters for speed: one explode + a 64-column min aggregate
    (map-side partial min, so the shuffle carries one 64-int row per
    doc per partition) benches ~10× faster than per-row array
    transforms, which allocate 64 temporary arrays per document.
    """
    h = F.pmod(F.xxhash64(F.col("sh")), F.lit(MERSENNE_P))
    hashed = shingles.select(id_col, h.alias("h"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min(
                F.pmod(F.lit(_MINHASH_A[i]) * F.col("h") + F.lit(_MINHASH_B[i]), F.lit(MERSENNE_P))
            ).alias(f"s{i}")
            for i in range(N_PERM)
        ]
    )


def x4_dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, threshold: float = 0.7
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Banding 16 bands × 4 rows: a pair with true Jaccard j collides in
    ≥1 band with p = 1-(1-j^4)^16 (≈0.99 at j=0.7) — the classic
    S-curve.  Candidates are verified with exact Jaccard so the
    *output* is deterministic given the seeds; only recall of the
    candidate stage is probabilistic (tested by recall bounds vs x6,
    SURVEY.md §5.2.4).

    Scale: signature cost is O(shingles × 64) JVM ops with map-side
    partial min; the bucket join touches only colliding
    (band, bucket-hash) groups; exact-Jaccard verification runs ONLY
    on candidate pairs (joined against per-doc shingle-set arrays),
    never on all co-occurring pairs.  No O(N²) stage exists.
    """
    from go_mapreduce_spark.operators.scale import spread_for_fanout

    # per-doc shingle + 64-hash signature work runs in the scan stage:
    # spread the under-split fixture scan first (NO-OP at real scale)
    docs = spread_for_fanout(load_table(spark, sf_dir, "documents"))
    # NOT persisted: benched slower with caching here — the branches
    # (sig→bands, shingles→sets) each pipeline into narrow stages, and
    # persisting blocks that for a modest reuse.  (x5's signature
    # self-join is the opposite case — see simhash.)
    shingles = doc_shingles(docs)
    sig = minhash_signatures(shingles)

    # band id + hash of the band's signature slice → bucket key
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"s{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
                        ).alias("bucket"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")

    ba = bands.alias("a")
    bb = bands.alias("b")
    candidates = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    # exact verify on candidates only: join the (small) candidate set
    # against per-doc sorted shingle arrays, intersect JVM-side.
    sets_ = shingles.groupBy("doc_id").agg(F.collect_set("sh").alias("shset"))
    verified = (
        candidates.join(
            sets_.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("sa")), "doc_a"
        )
        .join(sets_.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("sb")), "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double") / (F.size("sa") + F.size("sb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return (
        verified.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# x5 — SimHash near-dup
# ---------------------------------------------------------------------------

def simhash_signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, bits[64]) — classic Charikar SimHash over unigram
    token hashes (with multiplicity).

    Explode + 64-column conditional-count aggregate: per bit, the
    vote is ``count(bit set) * 2 - count(*)``; map-side partial
    aggregation ships one 64-int row per doc per partition.  All
    expression-level, no UDF.
    """
    toks = docs.select(
        id_col, F.explode(lower_tokens(F.col(text_col))).alias("tok")
    ).select(id_col, F.xxhash64("tok").alias("h"))
    # Single-pass conditional aggregate: map-side partial aggregation
    # reduces each partition to one 65-int row per doc before the
    # shuffle (a pre-aggregation by (doc, hash) benched slower — it
    # adds a full extra shuffle of the exploded relation).
    votes = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tok"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"c{b}")
            for b in range(64)
        ],
    )
    bits = F.array(
        *[
            F.when(F.col(f"c{b}") * 2 > F.col("n_tok"), F.lit(1)).otherwise(F.lit(0))
            for b in range(64)
        ]
    )
    return votes.select(id_col, bits.alias("bits"))


def x5_dedup_simhash(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ max_hamming.

    Blocking: split the 64-bit signature into 4 chunks of 16 bits; by
    pigeonhole, any pair at Hamming ≤ 3 agrees exactly on ≥1 chunk,
    so chunk-equality candidate generation has *perfect recall* —
    unlike MinHash banding this stage loses nothing.  Verification
    computes the true Hamming distance on the full signature.
    """
    from functools import reduce

    from go_mapreduce_spark.operators.scale import spread_for_fanout

    # the 64-vote signature aggregate runs in the scan stage: spread
    # the under-split fixture scan first (NO-OP at real scale)
    docs = spread_for_fanout(load_table(spark, sf_dir, "documents"))
    # Pack the 64 vote bits into ONE bigint before anything shuffles
    # (round-12, guide §2.3 "narrower types"): the self-join used to
    # ship the 64-int ``bits`` array (~300 B/row) through both join
    # exchanges and again through the candidate distinct; the packed
    # signature is 8 bytes and carries identical information.  Both
    # sides of the chunk self-join read the signatures — persist so
    # the 64-vote aggregate runs once, not three times.
    bits = F.col("bits")
    packed = reduce(
        lambda acc, i: acc.bitwiseOR(F.shiftleft(bits[i].cast("bigint"), i)),
        range(1, 64),
        bits[0].cast("bigint"),
    )
    sigs = simhash_signatures(docs).select("doc_id", packed.alias("sig")).persist()

    # chunk key = 16-bit slice of the packed signature (identical to
    # the former sum(bit<<pos) ints — same collisions, same
    # candidates), an 8-byte shuffle key instead of a 16-char string.
    chunks = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("sig"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("key"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cb"),
    ).select("doc_id", "sig", "cb.chunk", "cb.key")

    a = chunks.alias("a")
    b = chunks.alias("b")
    # Verify BEFORE the dedup exchange: hamming = popcount(sig_a XOR
    # sig_b) (bit-identical to the former per-element |x−y| fold), so
    # non-near candidates are dropped map-side and the distinct
    # shuffles only (doc_a, doc_b, hamming) survivor triples instead
    # of candidate rows carrying two 64-int arrays.
    cand = a.join(
        b,
        (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
    )
    return (
        cand.filter(F.col("hamming") <= max_hamming)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# x57 — hot-shingle audit (the data the max_df posting cap acts on)
# ---------------------------------------------------------------------------

HOT_DF_MIN = 5


def x57_hot_shingles(spark: SparkSession, sf_dir: str, min_df: int = HOT_DF_MIN) -> DataFrame:
    """Shingles whose document frequency ≥ ``min_df`` — the
    stop-shingle audit that justifies a ``max_df`` choice for
    :func:`_candidate_pairs` before a production dedup run.

    A shingle in d docs contributes d·(d−1)/2 candidate pairs, so this
    relation ordered by df DESC is literally the pair-explosion
    ranking; its tail tells you what a given cap discards.  One
    groupBy on the shingle (uniform 3-gram key), map-side partial
    counts — the same single pass the cap itself performs.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        doc_shingles(docs)
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .withColumn(
            "n_cand_pairs", (F.col("df") * (F.col("df") - 1) / 2).cast("bigint")
        )
        .orderBy(F.col("df").desc(), "sh")
    )


# ---------------------------------------------------------------------------
# x27 — dedup clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------

# rounds between lineage cuts of the CC labels
CC_CHECKPOINT_EVERY = 3


def connected_components(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Min-label propagation to a fixpoint: every node gets the
    minimum doc_id reachable in its component → (doc_id, cluster_id).

    The iterative algorithm the SQL surface can't express in one
    query: a driver loop of join+min rounds (labels move one hop per
    round → converges in O(diameter) rounds; near-dup clusters are
    tiny-diameter, so 2-3 rounds in practice).

    Lineage discipline: persist alone does NOT stop the logical plan
    growing one join+aggregate layer per round — analysis/optimization
    cost compounds and a cache miss would recompute the whole chain.
    Every ``CC_CHECKPOINT_EVERY`` (k) rounds the labels are localCheckpoint-ed
    (materialized, lineage truncated), bounding plan depth at k rounds
    regardless of graph diameter.  On a multi-executor cluster swap
    localCheckpoint for reliable ``checkpoint()`` + checkpoint dir
    (localCheckpoint state dies with an executor).
    """
    edges = (
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .union(pairs.select(F.col(b).alias("u"), F.col(a).alias("v")))
        .distinct()
        .persist()
    )
    # shuffle partitioning sized to the graph (see operators/scale.py):
    # each round moves ≤ |E| label rows, and the per-round count()
    # action pays partition-count scheduling overhead at fixture scale
    from go_mapreduce_spark.operators.scale import (
        iterative_shuffle_partitions,
        pinned_shuffle_partitions,
    )

    m = edges.count()
    with pinned_shuffle_partitions(
        edges.sparkSession, iterative_shuffle_partitions(m)
    ):
        return _cc_rounds(edges)


def _cc_rounds(edges: DataFrame) -> DataFrame:
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    rounds = 0
    prev_cached = labels
    while True:
        # candidate: min over own label and neighbors' labels; the OLD
        # label rides along so convergence is read off THIS relation —
        # no extra labels⋈updated join (and its shuffle) per round
        neighbor_min = (
            edges.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
            .withColumnRenamed("u", "node")
        )
        cand = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("label").alias("_old"),
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
        )
        rounds += 1
        if rounds % CC_CHECKPOINT_EVERY == 0:
            # localCheckpoint is eager: materializes AND caches the
            # result while cutting lineage back to a leaf
            cand = cand.localCheckpoint()
        else:
            cand = cand.persist()
        changed = cand.filter(F.col("label") != F.col("_old")).count()
        # release the superseded round's cache — an iterative loop that
        # only persists leaks one cached relation per round
        prev_cached.unpersist()
        prev_cached = cand
        labels = cand.select("node", "label")
        if changed == 0:
            break
    result = labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))
    # materialization contract: caller may collect after we unpersist,
    # so leave the final labels cached; bench/driver clear caches
    # between queries
    edges.unpersist()
    return result


def x27_dedup_clusters(spark: SparkSession, sf_dir: str, threshold: float = 0.8) -> DataFrame:
    """Near-duplicate clusters: connected components over the x6
    Jaccard-pair graph; cluster_id = min doc_id in the component."""
    pairs = shared_pair_graph(spark, sf_dir, threshold)
    return connected_components(pairs).orderBy("doc_id")


# ---------------------------------------------------------------------------
# x13 — embedding near-dup (cosine, label-blocked)
# ---------------------------------------------------------------------------

def x13_dedup_embedding(
    spark: SparkSession, sf_dir: str, threshold: float = 0.3
) -> DataFrame:
    """Embedding pairs with cosine ≥ threshold, blocked by label.

    Blocking on a cluster id (here the fixture's ``label``; in a real
    pipeline a coarse quantizer / LSH bucket) keeps the pair space
    O(Σ block²) instead of O(N²).  The scalable unblocked variant is
    operators/similarity.py's sign-LSH.
    """
    from go_mapreduce_spark.functions.vectors import dot, l2_norm
    from go_mapreduce_spark.operators.scale import spread_for_fanout

    # the O(block²)·d dot-product work starts in the SCAN stage of an
    # under-split single-file fixture: spread first (NO-OP at real
    # scale; measured 2.6 → 0.7 s at sf0.1)
    emb = spread_for_fanout(load_table(spark, sf_dir, "embeddings"))
    # norms computed once per row, not once per pair: O(N·d) instead
    # of O(pairs·d) — the pair loop pays only the dot product.
    with_norm = emb.select(
        "label", "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    a = with_norm.select(
        "label",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = with_norm.select(
        "label",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, ["label"]).filter(F.col("vec_a") < F.col("vec_b"))
    sim = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("vec_a", "vec_b")
    )


SN_PREFIX_LEN = 64   # levenshtein operand cap — bounds the O(L^2) DP
SN_BLOCK_LEN = 8     # sort-key prefix that defines a neighborhood block
SN_WINDOW = 3        # neighbors compared per document within a block
SN_MAX_DIST = 20     # edit-distance threshold for a candidate pair


def x84_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup candidates: normalize, block on
    an 8-char sort-key prefix, compare each doc to its next 3
    neighbors in block order by capped Levenshtein distance.

    The classic record-linkage method (Hernandez-Stolfo merge/purge),
    re-expressed for a cluster: the textbook GLOBAL sort would funnel
    everything through one partition, so blocking on the sort-key
    prefix makes each neighborhood window an independent
    hash-partitioned unit — lead() windows distribute per-block and
    the comparison count is exactly SN_WINDOW per doc.  Both
    levenshtein operands are capped at 64 normalized chars, bounding
    the per-pair DP at 64^2 regardless of document length.  All
    integer arithmetic — no float parity risk.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]", ""), 1, SN_PREFIX_LEN
    )
    keyed = docs.select(
        "doc_id",
        norm.alias("norm"),
    ).withColumn("block", F.substring("norm", 1, SN_BLOCK_LEN))
    w = Window.partitionBy("block").orderBy("doc_id")
    with_leads = keyed.select(
        "doc_id",
        "norm",
        F.array(
            *[
                F.struct(
                    F.lead("doc_id", k).over(w).alias("doc_id_b"),
                    F.lead("norm", k).over(w).alias("norm_b"),
                )
                for k in range(1, SN_WINDOW + 1)
            ]
        ).alias("nbrs"),
    )
    pairs = with_leads.select(
        F.col("doc_id").alias("doc_id_a"),
        "norm",
        F.explode("nbrs").alias("nb"),
    ).filter(F.col("nb.doc_id_b").isNotNull())
    return (
        pairs.select(
            "doc_id_a",
            F.col("nb.doc_id_b").alias("doc_id_b"),
            F.levenshtein(F.col("norm"), F.col("nb.norm_b")).cast("bigint").alias("dist"),
        )
        .filter(F.col("dist") <= SN_MAX_DIST)
        .orderBy("doc_id_a", "doc_id_b")
    )


INCR_SPLIT_DOC_ID = 400  # docs >= this id form the "newly ingested" batch


def x96_incremental_dedup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Incremental ingestion dedup: check a NEW batch of documents
    (doc_id >= INCR_SPLIT_DOC_ID stands in for today's crawl) against
    the EXISTING corpus for word-3-gram Jaccard near-dups — the gate
    every continuously-ingesting pipeline runs, where re-pairing the
    whole corpus (x6) per batch would be quadratic in history.

    Shape: the batch's shingle postings join the corpus postings on
    the shingle key with the BATCH side broadcast — the corpus
    relation (the 100 TB side) never shuffles, and per-batch cost is
    O(corpus-scan + batch-size), independent of how many batches were
    ingested before.  Jaccard is exact on full shingle sets, same
    contract as x6.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs)
    corpus = sh.filter(F.col("doc_id") < INCR_SPLIT_DOC_ID)
    batch = sh.filter(F.col("doc_id") >= INCR_SPLIT_DOC_ID)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        corpus.alias("c")
        .join(F.broadcast(batch.alias("b")), F.col("c.sh") == F.col("b.sh"))
        .groupBy(
            F.col("b.doc_id").alias("new_doc"), F.col("c.doc_id").alias("dup_doc")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    scored = (
        inter.join(
            sizes.select(F.col("doc_id").alias("new_doc"), F.col("n_sh").alias("n_new")),
            "new_doc",
        )
        .join(
            sizes.select(F.col("doc_id").alias("dup_doc"), F.col("n_sh").alias("n_dup")),
            "dup_doc",
        )
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_new") + F.col("n_dup") - F.col("inter")),
        )
    )
    return (
        scored.filter(F.col("jaccard") >= threshold)
        .select("new_doc", "dup_doc", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("new_doc", "dup_doc")
    )


# ---------------------------------------------------------------------------
# x113: fuzzy record linkage via deletion-neighborhood blocking
# ---------------------------------------------------------------------------


def x113_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage over part names: all DISTINCT name pairs within
    Levenshtein distance 1, with how many parts carry each spelling.

    The near-miss spellings a catalog/entity-resolution pass must
    reconcile.  Blocking is a deletion-neighborhood key join (the
    FastSS / SymSpell scheme, public): each distinct name emits itself
    plus every single-character deletion (``len+1`` short keys).  Two
    strings at Levenshtein distance ≤ 1 always share a neighborhood
    element — s matches t's deletion (insertion), s's deletion matches
    t (deletion), and a substitution at position i makes both
    i-deletions equal — so the key-equality join is a SOUND blocking
    for distance ≤ 1: it over-generates (candidates up to distance 2),
    never under-generates, and the exact ``levenshtein`` verify runs
    only on candidates.  Linear key generation and a key-equality
    shuffle instead of the O(N²) cross join the oracle runs; key
    frequency is bounded by how many near-identical spellings exist
    (the matches themselves), so no hot-key blowup beyond genuinely
    linked groups.
    """
    parts = load_table(spark, sf_dir, "part")
    names = (
        parts.groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    s = F.col("name")
    dels = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            F.substring(s, F.lit(1), i - 1),
            s.substr(i + 1, F.length(s)),
        ),
    )
    keyed = names.select(
        "name", "n_parts", F.explode(F.array_union(F.array(s), dels)).alias("k")
    )
    a = keyed.select(
        F.col("name").alias("name_a"), F.col("n_parts").alias("n_a"), "k"
    )
    b = keyed.select(
        F.col("name").alias("name_b"), F.col("n_parts").alias("n_b"), "k"
    )
    cand = (
        a.join(b, "k")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", "n_a", "n_b")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 1)
        .select("name_a", "name_b", "n_a", "n_b", "dist")
        .orderBy("name_a", "name_b")
    )


# ---------------------------------------------------------------------------
# x116/x117: ORACLE-CHECKED MinHash — sha256-derived signatures + band pairs
# ---------------------------------------------------------------------------
# The xxhash64-permutation MinHash (x4) is seed-scheme-specific, so it
# carries recall-bound tests instead of an oracle.  This variant derives
# each "permutation" from sha256 (available identically in DuckDB), so
# the ENTIRE LSH pipeline — signatures and banded candidate pairs — is
# exactly reproducible in ANSI SQL and rides the driver's hash gate.
# Same plan shape as x4 at scale: one explode + one grouped min per
# signature row; band pairs via an equality join on band keys, never a
# corpus cross join.

SIG_K = 8        # signature length (hash functions)
SIG_BAND_ROWS = 2  # rows per band -> 4 bands


def x116_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature: ``SIG_K`` columns, each the min
    sha256 hex digest of ``"<k>:" || shingle`` over the doc's DISTINCT
    word-3-gram shingles.  Docs with < 3 tokens have no shingles and
    are absent (matches the SQL oracle).

    One distinct-explode then a single grouped aggregate computing all
    K mins — map-side partial min means shuffle volume is K hashes per
    (doc, partition), independent of document length.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", lower_tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(shingles_from_tokens(F.col("toks"))).alias("sh"))
        .distinct()
    )
    mins = [
        F.min(F.sha2(F.concat(F.lit(f"{k}:"), F.col("sh")), 256)).alias(f"sig_{k}")
        for k in range(SIG_K)
    ]
    return sh.groupBy("doc_id").agg(*mins).orderBy("doc_id")


def x117_minhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-duplicate pairs from the x116 signatures: docs
    agreeing on at least one band of ``SIG_BAND_ROWS`` consecutive
    signature values.  Deterministic (sha256 scheme), so unlike the
    seeded x4 this LSH candidate set has an EXACT SQL oracle.

    Explode each doc into (band_id, band_key) rows and equality-join
    band keys — the standard LSH bucket join: cost scales with bucket
    occupancy (actual near-duplicates), never pairwise in corpus size.
    """
    sigs = x116_minhash_signatures(spark, sf_dir)
    n_bands = SIG_K // SIG_BAND_ROWS
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col(f"sig_{b * SIG_BAND_ROWS + r}")
                                for r in range(SIG_BAND_ROWS)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band_id", "bk.band_key")
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "band_id", "band_key"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), "band_id", "band_key"
    )
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def x145_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality calibration report: for every x117 band-candidate
    pair, the MinHash-ESTIMATED Jaccard (fraction of the ``SIG_K``
    signature components that agree — the unbiased MinHash estimator)
    next to the EXACT shingle-set Jaccard and the absolute error.

    This is the audit a pipeline owner runs before trusting LSH
    thresholds on a new corpus: the estimator's error distribution
    decides band/row settings.  Because the x116 hash family is
    sha256-derived, the whole report — sketch AND truth — is exactly
    SQL-replayable (unlike the seeded x4 path).

    Cost shape: candidates come from the band join (bucket-occupancy
    bound, never all-pairs); exact Jaccard is computed only for those
    candidates via per-doc distinct-shingle sets — the x6 "verify only
    candidates" discipline, so the exact pass is candidate-sized.
    """
    from go_mapreduce_spark.sources.registry import load_table as _lt

    sigs = x116_minhash_signatures(spark, sf_dir)
    pairs = x117_minhash_band_pairs(spark, sf_dir)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{k}").alias(f"a_{k}") for k in range(SIG_K)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{k}").alias(f"b_{k}") for k in range(SIG_K)],
    )
    agree = sum(
        (F.col(f"a_{k}") == F.col(f"b_{k}")).cast("int") for k in range(SIG_K)
    )

    docs = _lt(spark, sf_dir, "documents")
    sh = doc_shingles(docs)
    sets_ = sh.groupBy("doc_id").agg(F.collect_set("sh").alias("shset"))
    est = F.col("n_agree") / F.lit(float(SIG_K))
    exact = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_agree", agree)
        .join(sets_.select(F.col("doc_id").alias("doc_a"), F.col("shset").alias("s_a")), "doc_a")
        .join(sets_.select(F.col("doc_id").alias("doc_b"), F.col("shset").alias("s_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_agree",
            F.size(F.array_intersect("s_a", "s_b")).alias("inter"),
            F.size("s_a").alias("n_a"),
            F.size("s_b").alias("n_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(exact, 6).alias("jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# wave 17: exact shared-substring spans (Lee et al. 2022 dedup mode)
# ---------------------------------------------------------------------------

SPAN_SHINGLE_N = 5
SPAN_MAX_DF = 50
SPAN_TOP_PAIRS = 20


def x178_longest_shared_span(
    spark: SparkSession, sf_dir: str, max_df: int = SPAN_MAX_DF
) -> DataFrame:
    """Longest exactly-shared token span per document pair: the
    "substring dedup" mode of Lee et al. (2022), *Deduplicating
    Training Data Makes Language Models Better* — near-dup scoring
    (x6 Jaccard) misses long verbatim quotes inside otherwise-
    different documents; this finds them exactly.

    Method: positional 5-gram shingles ``(doc, pos, sh)``; equal
    shingles across a doc pair are matches at offset
    ``diff = pos_a − pos_b``; a RUN of consecutive matching
    positions at constant offset is one shared span, recovered with
    the gaps-and-islands trick (``pos − row_number`` constant within
    a run) — so span length = run length + 4 tokens, no quadratic
    character alignment anywhere.

    Scale posture: identical to x6 — the self-join is bounded by the
    ``max_df`` posting cap (a shingle in d docs yields O(d²) pairs;
    capped shingles bound candidates by max_df·|postings|); windows
    partition by (doc_a, doc_b, diff), never globally.  Recall
    contract: a span is missed only if EVERY 5-gram in it is
    corpus-hot — verbatim duplicated passages are precisely the
    spans made of rare shingles.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", lower_tokens(F.col("text")).alias("toks")
    )
    pos_sh = toks.select(
        "doc_id",
        F.posexplode(shingles_from_tokens(F.col("toks"), SPAN_SHINGLE_N)).alias(
            "pos", "sh"
        ),
    )
    hot = (
        pos_sh.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > max_df)
        .select("sh")
    )
    posting = pos_sh.join(hot, "sh", "left_anti")
    a, b = posting.alias("a"), posting.alias("b")
    matches = a.join(
        b,
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
        (F.col("a.pos") - F.col("b.pos")).alias("diff"),
    )
    w = Window.partitionBy("doc_a", "doc_b", "diff").orderBy("pa")
    runs = (
        matches.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diff", "grp")
        .agg(
            (F.count(F.lit(1)) + SPAN_SHINGLE_N - 1).alias("span_tokens"),
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
        )
    )
    best = Window.partitionBy("doc_a", "doc_b").orderBy(
        F.col("span_tokens").desc(), F.col("start_a").asc(), F.col("start_b").asc()
    )
    return (
        runs.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select(
            "doc_a",
            "doc_b",
            F.col("span_tokens").cast("bigint").alias("span_tokens"),
            F.col("start_a").cast("bigint").alias("start_a"),
            F.col("start_b").cast("bigint").alias("start_b"),
        )
        .orderBy(F.col("span_tokens").desc(), "doc_a", "doc_b")
        .limit(SPAN_TOP_PAIRS)
    )


# ---------------------------------------------------------------------------
# x192: content-defined chunking (rolling-hash boundaries)
# ---------------------------------------------------------------------------

CDC_B = 31            # polynomial base
CDC_WINDOW = 8        # rolling window (chars)
CDC_MOD = 1 << 20     # hash modulus
CDC_MASK = 64         # boundary when h % CDC_MASK == 0 -> ~64-char chunks


def x192_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: split each document at positions
    where the 8-char polynomial rolling hash lands in the boundary
    class (h % 64 == 0), then count how many of each doc's chunks are
    shared with ANY other document — the rsync/LBFS storage-dedup
    primitive whose whole point is robustness to shifted content:
    inserting a prefix re-chunks only the first boundary's
    neighborhood, so shared-suffix documents keep identical chunk
    hashes where fixed-width blocks would all shift (pinned by a
    prefix-insertion pytest).

    All integer arithmetic: char codes x B^k stay < 2^53, so both
    engines compute identical BIGINT hashes — the chunk report is
    exactly SQL-replayable.  The boundary scan is per-row expression
    work (8 multiply-adds per char, in-codegen, zero Python); the
    cross-doc sharing count is the standard inverted-index shape —
    explode chunk hashes, one grouped distinct-doc count, join back
    — never pairwise.
    """
    from go_mapreduce_spark.operators.scale import spread_for_fanout

    # 8 multiply-adds PER CHARACTER run in the scan stage: spread the
    # under-split fixture scan first (NO-OP at real scale; measured
    # 3.8 → 1.4 s at sf0.1)
    docs = spread_for_fanout(load_table(spark, sf_dir, "documents"))
    n = F.length("text")
    codes = F.transform(F.split(F.col("text"), ""), lambda c: F.ascii(c))
    d = docs.select("doc_id", "text", n.alias("n"), codes.alias("codes"))

    pw = [CDC_B**k for k in range(CDC_WINDOW)]  # pw[k] = B^k

    def roll(i):  # 1-based char position i >= CDC_WINDOW
        h = F.lit(0).cast("long")
        for k in range(CDC_WINDOW):
            # oldest char gets the highest power; the code must widen
            # to long BEFORE the multiply (B^6 fits int32, so its
            # literal is IntegerType and int*int overflows under ANSI)
            h = h + F.element_at(F.col("codes"), i - (CDC_WINDOW - 1) + k).cast(
                "long"
            ) * F.lit(pw[CDC_WINDOW - 1 - k])
        return F.pmod(h, F.lit(CDC_MOD))

    bpos = F.filter(
        F.sequence(F.lit(CDC_WINDOW), F.col("n")),
        lambda i: F.pmod(roll(i), F.lit(CDC_MASK)) == 0,
    )
    d = d.select(
        "doc_id",
        "text",
        "n",
        F.when(F.col("n") >= CDC_WINDOW, bpos)
        .otherwise(F.array().cast("array<int>"))
        .alias("bpos"),
    )
    starts = F.concat(F.array(F.lit(0)), F.col("bpos"))
    ends = F.concat(F.col("bpos"), F.array(F.col("n")))
    chunks = F.zip_with(
        starts,
        ends,
        lambda s, e: F.substr(F.col("text"), s + 1, e - s),
    )
    ch = (
        d.select(
            "doc_id",
            F.explode(F.filter(chunks, lambda c: F.length(c) > 0)).alias(
                "chunk"
            ),
        )
        .select("doc_id", F.sha2(F.col("chunk"), 256).alias("h"))
    )
    sharing = ch.groupBy("h").agg(
        F.count_distinct("doc_id").alias("n_docs_with")
    )
    return (
        ch.join(sharing, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("n_docs_with") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared_chunks"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x227 — PassJoin edit-distance similarity join (wave 34)
# ---------------------------------------------------------------------------

# edit-distance threshold and prefix geometry: 15-char prefixes split
# into D+1 = 3 segments of 5 — pigeonhole guarantees completeness
PASSJOIN_D = 2
PASSJOIN_L = 15
_PJ_SEG = PASSJOIN_L // (PASSJOIN_D + 1)


def x227_passjoin_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All same-language doc pairs whose 15-char lowercase text
    prefixes are within edit distance 2 — the PassJoin string
    similarity join (Li/Deng/Feng, ICDE'11 family), the exact
    complement to the token-level families (x6 Jaccard, x4 MinHash):
    it catches char-level mutations (typos, OCR noise) tokens miss.

    Scale shape — never the O(N²) verify a naive engine runs:

    1. each doc's prefix is partitioned into D+1 = 3 fixed segments
       (pigeonhole: ed ≤ D ⟹ the other string contains ≥ 1 segment
       EXACTLY, shifted by at most D positions);
    2. the probe side enumerates, per segment slot, the substrings at
       the ±D shifted positions — a constant 3·(2D+1) rows per doc,
       columnar codegen only;
    3. candidates come from an equi-join on (slot, gram) + language —
       an inverted-index join exactly like x6's, with the same skew
       calculus (a hot segment is a capped posting at 100 TB);
    4. only candidates pay the levenshtein verify (JVM built-in).

    Oracle: the definitional all-pairs levenshtein filter — any lost
    candidate (a shift-window or segmentation bug) hash-mismatches.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring(F.lower("text"), 1, PASSJOIN_L).alias("pfx")
    )
    segs = docs.select(
        "doc_id",
        "lang",
        "pfx",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("slot"),
                        F.substring("pfx", 1 + j * _PJ_SEG, _PJ_SEG).alias("gram"),
                    )
                    for j in range(PASSJOIN_D + 1)
                ]
            )
        ).alias("s"),
    ).select("doc_id", "lang", "pfx", "s.slot", "s.gram")
    probes = docs.select(
        "doc_id",
        "lang",
        "pfx",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("slot"),
                        F.substring(
                            "pfx", 1 + j * _PJ_SEG + d, _PJ_SEG
                        ).alias("gram"),
                    )
                    for j in range(PASSJOIN_D + 1)
                    for d in range(-PASSJOIN_D, PASSJOIN_D + 1)
                    if 1 + j * _PJ_SEG + d >= 1
                ]
            )
        ).alias("p"),
    ).select("doc_id", "lang", "pfx", "p.slot", "p.gram")
    a, b = segs.alias("a"), probes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.slot") == F.col("b.slot"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pfx").alias("pa"),
            F.col("b.pfx").alias("pb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("ed", F.levenshtein("pa", "pb"))
        .filter(F.col("ed") <= PASSJOIN_D)
        .select("doc_a", "doc_b", F.col("ed").cast("int").alias("edit_dist"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# x228 — shingle containment (sub-document / quote detection, wave 34)
# ---------------------------------------------------------------------------

CONTAIN_THRESHOLD = 0.5


def x228_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered doc pairs where containment C(A→B) = |sh(A) ∩ sh(B)|
    / |sh(A)| ≥ 0.5: "at least half of A's 3-gram shingles appear in
    B" — the ASYMMETRIC near-dup measure that catches quotes and
    sub-documents Jaccard dilutes (a paragraph quoted inside a long
    doc has high containment but tiny Jaccard).

    Same inverted-index shape as x6 — intersections come from one
    posting self-join grouped by pair (only co-occurring pairs exist,
    never a cross join; at 100 TB the x6 ``max_df`` posting-cap
    calculus applies verbatim), and the ordered pair is emitted in
    BOTH directions from one undirected join output (A⊂B and B⊂A are
    different questions with the same intersection).
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("lo"), F.col("b.doc_id").alias("hi")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    directed = inter.selectExpr("lo AS doc_a", "hi AS doc_b", "inter").unionAll(
        inter.selectExpr("hi AS doc_a", "lo AS doc_b", "inter")
    )
    return (
        directed.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .withColumn(
            "containment", F.col("inter").cast("double") / F.col("n_a")
        )
        .filter(F.col("containment") >= CONTAIN_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("bigint").alias("shared_shingles"),
            F.round("containment", 6).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# x304 — TF-weighted Jaccard over the near-dup pair graph (wave 59)
# ---------------------------------------------------------------------------


def x304_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-weighted Jaccard Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b)
    for every x6 near-dup pair — the multiset refinement that
    separates "same vocabulary" from "same text" (set Jaccard saturates
    at 1.0 for docs that repeat shared tokens very differently).

    Identity that keeps it one equi-join: Σ max = S_a + S_b − Σ min,
    so only the SHARED-token min-sum is joined (pair ⋈ tf_a ⋈ tf_b on
    token) and per-doc token totals enter by key.  Pairs come from the
    memoized :func:`shared_pair_graph` (candidate-bounded, never
    pairwise); token frequencies are one grouped count.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(lower_tokens(F.col("text"))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    totals = tf.groupBy("doc_id").agg(F.sum("tf").alias("s"))
    pairs = shared_pair_graph(spark, sf_dir).select("doc_a", "doc_b")
    ta = tf.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("tf").alias("tf_a")
    )
    tb = tf.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("tf").alias("tf_b")
    )
    smin = (
        pairs.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("tf_a", "tf_b")).alias("smin"))
    )
    return (
        smin.join(totals.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("s", "s_a"), "doc_a")
        .join(totals.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("s", "s_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("smin")
                / (F.col("s_a") + F.col("s_b") - F.col("smin")).cast("double"),
                6,
            ).alias("weighted_jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# x316 — LSH band-configuration advisor (wave 62)
# ---------------------------------------------------------------------------

LSH_ADVISOR_BIN = 0.05  # Jaccard histogram bin width


def x316_lsh_band_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-tuning advisor for the MinHash LSH configuration: the
    observed pairwise-Jaccard histogram with, per bin, the analytic
    probability the CURRENT banding (b=16 bands × r=4 rows) catches a
    pair at that similarity — 1 − (1 − j^r)^b, the S-curve every LSH
    deployment is tuned by.  Answers "what recall does my band config
    buy on MY data?" before anyone re-indexes 100 TB.

    The catch probability uses only integer exponents, expanded as
    explicit squarings (j⁴ by two squarings; (·)¹⁶ by four) — pure
    IEEE multiplication, bit-identical across engines, unlike pow()
    whose libm rounding is not pinned.  Expected-catch sums go
    through decimal; the histogram itself is the x6 pair relation
    (inverted-index-bounded) binned at 0.05.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _pairwise_jaccard(doc_shingles(docs))
    j = F.col("jaccard")
    j2 = j * j
    j4 = j2 * j2
    miss1 = 1.0 - j4  # per-band miss
    m2 = miss1 * miss1
    m4 = m2 * m2
    m8 = m4 * m4
    m16 = m8 * m8  # all-16-bands miss
    catch = 1.0 - m16
    binned = pairs.select(
        F.floor(j / F.lit(LSH_ADVISOR_BIN)).cast("int").alias("bin"),
        j.alias("jaccard"),
        catch.alias("catch"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(
                F.sum(F.col("jaccard").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_jaccard"),
            F.round(
                F.sum(F.col("catch").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("expected_recall"),
        )
        .select(
            F.round(F.col("bin") * LSH_ADVISOR_BIN, 2).alias("jaccard_bin"),
            "n_pairs",
            "avg_jaccard",
            "expected_recall",
        )
        .orderBy("jaccard_bin")
    )


# ---------------------------------------------------------------------------
# x330 — canonical survivor per near-dup cluster (wave 65)
# ---------------------------------------------------------------------------


def x330_cluster_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship policy for near-duplicate clusters: in each x27
    connected component keep the HIGHEST-QUALITY member (x9 composite
    score, doc_id as the deterministic tiebreak) — the principled
    replacement for x27's min-id keep, and the last step of every
    dedup pipeline: clusters are only half the answer, someone must
    pick the copy that survives.

    Plan shape: the cluster relation (near-dup docs only, a small
    fraction of the corpus) joins the per-doc quality relation on
    doc_id; the pick is a per-cluster row_number window partitioned
    by cluster_id — group-local sorts over cluster-sized groups, no
    global sort.  Quality enters at its released 6-decimal rounding,
    so the argmax is engine-exact by construction.
    """
    from pyspark.sql.window import Window

    from go_mapreduce_spark.operators.text import x9_quality_score

    clusters = x27_dedup_clusters(spark, sf_dir)
    quality = x9_quality_score(spark, sf_dir).select("doc_id", "quality")
    member = clusters.join(quality, "doc_id")
    wc = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), "doc_id"
    )
    stats = member.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("quality").alias("worst_quality"),
    )
    return (
        member.withColumn("rk", F.row_number().over(wc))
        .filter(F.col("rk") == 1)
        .join(stats, "cluster_id")
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("quality").alias("survivor_quality"),
            F.col("n_members").cast("bigint").alias("n_members"),
            (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
            "worst_quality",
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# x382 — SemDeDup: semantic dedup inside coarse clusters (wave 84)
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.3

# Worst-case guard for the within-cluster pair join: a coarse cluster
# larger than this is deterministically sub-split (contiguous vec_id
# runs), so even a fully-skewed assignment (every vector in one
# cluster) pays at most N·CAP/2 pairs — linear in the corpus.  The
# sub-split is a finer quantizer, admissible under SemDeDup's own
# approximation (cross-cluster pairs are already unseen by design);
# set at 2× the TARGET_CLUSTER_ROWS mean so it binds only under skew,
# and above the oracle fixtures' largest possible cluster (≤~80 rows
# at sf0.01/k=8), so the DuckDB oracle replays it exactly.
SEMDEDUP_CLUSTER_CAP = 256


def x382_semdedup(spark: SparkSession, sf_dir: str, k: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al.) over the embedding corpus: coarse
    k-means-style clustering bounds the pair space, then inside each
    cluster any vector with a cosine-``SEMDEDUP_TAU``-similar neighbor
    of SMALLER vec_id is dropped (the standard one-pass greedy rule —
    the keep decision depends only on id order, not on whether the
    smaller id itself survives, so it is embarrassingly parallel).
    x13 finds near-dup PAIRS blocked by the fixture label; this is the
    curation OPERATOR: a per-cluster keep/drop census under a real
    coarse quantizer.

    Scale shape (round-8 fixed the pair stage, round-9 the
    assignment stage): the cluster count is DATA-PROPORTIONAL —
    ``k = max(8, ceil(n / TARGET_CLUSTER_ROWS))``
    (clustering.semdedup_k), so the O(Σ cluster²) pair stage is
    ≈ N·TARGET_CLUSTER_ROWS, linear in the corpus, not O(N²/8).
    n comes from one count(*) action — parquet count-star is
    metadata-only, no corpus scan.  Because k ∝ N, FLAT nearest-
    centroid assignment would itself be N·k = N²/128 (the round-8
    verdict's last quadratic term), so assignment is the TWO-LEVEL
    quantizer (clustering.assign_nearest_two_level): vectors route
    through m = ceil(√k) super-centroids, N·2√k total distance
    evals.  Against adversarial skew (all mass in one cluster) an
    additional deterministic sub-split caps any cluster at
    ``SEMDEDUP_CLUSTER_CAP`` rows, bounding the worst case at
    N·CAP/2 pairs.  All three rules replay exactly in the DuckDB
    oracle.
    """
    from go_mapreduce_spark.operators.clustering import (
        assign_nearest_two_level,
        semdedup_k,
        semdedup_supers,
    )
    from go_mapreduce_spark.functions.vectors import cosine_similarity
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    if k is None:
        k = semdedup_k(emb.count())
    centroids = emb.filter(F.col("vec_id").between(1, k)).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    assign = assign_nearest_two_level(
        emb, centroids, semdedup_supers(k)
    ).select("vec_id", "centroid_id")
    w_sub = Window.partitionBy("centroid_id").orderBy("vec_id")
    assign = assign.withColumn(
        "sub",
        ((F.row_number().over(w_sub) - F.lit(1)) / F.lit(SEMDEDUP_CLUSTER_CAP))
        .cast("int"),
    )
    # the (vec_id, centroid_id, sub) relation feeds BOTH self-join
    # sides and the final census — three replays of the two-level
    # assignment (2 corpus-wide distance group-bys + the cap window)
    # unless it is materialized once.  3 ints per row, the same
    # bounded-relation localCheckpoint discipline as the x316 shingle
    # index and the x319/x324 loop matrices (guide §2/§5).
    assign = assign.localCheckpoint()
    vecs = assign.join(emb.select("vec_id", "embedding"), "vec_id")
    a = vecs.select(
        F.col("centroid_id").alias("c"),
        F.col("sub").alias("s"),
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("va"),
    )
    b = vecs.select(
        F.col("centroid_id").alias("c"),
        F.col("sub").alias("s"),
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("vb"),
    )
    dropped = (
        a.join(b, ["c", "s"])
        .filter(F.col("ia") < F.col("ib"))
        .filter(
            cosine_similarity(F.col("va"), F.col("vb"))
            >= F.lit(SEMDEDUP_TAU)
        )
        .select("c", F.col("ib").alias("vec_id"))
        .distinct()
    )
    return (
        assign.join(
            dropped.select("vec_id").withColumn("_drop", F.lit(1)),
            "vec_id",
            "left",
        )
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum(F.coalesce(F.col("_drop"), F.lit(0)))
            .cast("bigint")
            .alias("n_dropped"),
        )
        .select(
            "centroid_id",
            "n_vectors",
            "n_dropped",
            (F.col("n_vectors") - F.col("n_dropped")).alias("n_kept"),
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# x389 — capture-recapture estimate of the near-dup population (wave 86)
# ---------------------------------------------------------------------------


def x389_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many near-duplicate pairs does the LSH MISS?  Split the
    x116 MinHash bands into two independent detectors (bands 0-1 vs
    bands 2-3): each catches a pair with probability ~J^rows_per_band
    per band, independently across bands — exactly the
    capture-recapture setting.  Chapman's estimator
    N̂ = (n_A+1)(n_B+1)/(m+1) − 1 on the two catch sets then estimates
    the TOTAL candidate population, caught or not; N̂ − |A∪B| is the
    expected residual the banding leaves behind.  This turns x316's
    analytic S-curve into a measured completeness number — the audit a
    dedup pipeline reports next to its recall target.

    Same scale shape as x117: band bucket joins only, never pairwise
    in the corpus; the two catch relations meet in one full-outer join
    on the pair key.
    """
    sigs = x116_minhash_signatures(spark, sf_dir)
    half = (SIG_K // SIG_BAND_ROWS) // 2

    def catch(band_ids):
        bands = sigs.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"sig_{b * SIG_BAND_ROWS + r}")
                                    for r in range(SIG_BAND_ROWS)
                                ],
                            ).alias("band_key"),
                        )
                        for b in band_ids
                    ]
                )
            ).alias("bk"),
        ).select("doc_id", "bk.band_id", "bk.band_key")
        a = bands.select(F.col("doc_id").alias("da"), "band_id", "band_key")
        b = bands.select(F.col("doc_id").alias("db"), "band_id", "band_key")
        return (
            a.join(b, ["band_id", "band_key"])
            .filter(F.col("da") < F.col("db"))
            .select("da", "db")
            .distinct()
        )

    ca = catch(list(range(half))).withColumn("in_a", F.lit(1))
    cb = catch(list(range(half, 2 * half))).withColumn("in_b", F.lit(1))
    both = ca.join(cb, ["da", "db"], "full_outer")
    agg = both.agg(
        F.sum(F.coalesce("in_a", F.lit(0))).cast("bigint").alias("n_a"),
        F.sum(F.coalesce("in_b", F.lit(0))).cast("bigint").alias("n_b"),
        F.sum(
            F.when(
                F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("m_both"),
        F.count(F.lit(1)).cast("bigint").alias("n_union"),
    )
    n_hat = (
        (F.col("n_a") + 1).cast("double")
        * (F.col("n_b") + 1).cast("double")
        / (F.col("m_both") + 1).cast("double")
        - 1.0
    )
    return agg.select(
        "n_a",
        "n_b",
        "m_both",
        "n_union",
        F.round(n_hat, 6).alias("n_est"),
        F.round(n_hat - F.col("n_union").cast("double"), 6).alias(
            "est_missed"
        ),
    )


# ---------------------------------------------------------------------------
# x400 — exact-dedup storage dividend (wave 90)
# ---------------------------------------------------------------------------


def x400_dedup_dividend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The storage/compute dividend of exact dedup, as the one-row
    report a pipeline owner reads: duplicate groups, redundant copies,
    characters that vanish when each group keeps one representative,
    and the corpus-level savings fraction.  x1 lists the survivors;
    this prices the operation — the number that justifies running it
    at 100 TB.

    One sha256 group pass (identical text ⇒ identical length, so the
    per-group savings is (count−1)·n_chars exactly), then a 1-row
    rollup joined to the corpus total.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        F.sha2(F.col("text"), 256).alias("h"),
        F.col("n_chars").cast("bigint").alias("nc"),
    )
    groups = docs.groupBy("h").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("nc").alias("nc")
    )
    agg = groups.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unique_texts"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_groups"),
        F.sum(F.col("cnt") - 1).cast("bigint").alias("n_redundant_docs"),
        F.sum((F.col("cnt") - 1) * F.col("nc"))
        .cast("bigint")
        .alias("chars_saved"),
        F.sum(F.col("cnt") * F.col("nc")).cast("bigint").alias("chars_total"),
    )
    return agg.select(
        "n_unique_texts",
        "n_dup_groups",
        "n_redundant_docs",
        "chars_saved",
        "chars_total",
        F.round(
            F.col("chars_saved") / F.col("chars_total").cast("double"), 6
        ).alias("savings_frac"),
    )


# ---------------------------------------------------------------------------
# x406 — duplicate-cluster size spectrum + power-law slope (wave 93)
# ---------------------------------------------------------------------------


def x406_cluster_size_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The size distribution of near-dup clusters (x27's components)
    with a log-log OLS slope — duplication in web-scale corpora is
    famously heavy-tailed, and the spectrum's slope is the one-number
    summary that says whether dedup savings come from a few giant
    boilerplate clusters or a long tail of pairs.  Singletons
    (documents in no pair) enter as size-1 mass so the spectrum
    covers the whole corpus.

    The components are the shared memoized x27 machinery; everything
    after is a ≤|distinct sizes|-row relation, and the slope comes
    from decimal sufficient statistics over ln(size), ln(count).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cl = connected_components(shared_pair_graph(spark, sf_dir, 0.8))
    sizes = (
        docs.join(cl, "doc_id", "left")
        .select(F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("rep"))
        .groupBy("rep")
        .agg(F.count(F.lit(1)).alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
    )
    from go_mapreduce_spark.functions.numeric import DECIMAL_T

    lx = F.log(F.col("size").cast("double"))
    ly = F.log(F.col("n_clusters").cast("double"))
    fit = sizes.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(lx.cast(DECIMAL_T)).cast("double").alias("sx"),
        F.sum(ly.cast(DECIMAL_T)).cast("double").alias("sy"),
        F.sum((lx * ly).cast(DECIMAL_T)).cast("double").alias("sxy"),
        F.sum((lx * lx).cast(DECIMAL_T)).cast("double").alias("sxx"),
    ).select(
        F.when(
            F.col("k") > 1.0,
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")),
        )
        .otherwise(F.lit(0.0))
        .alias("slope")
    )
    return (
        sizes.crossJoin(F.broadcast(fit))
        .select(
            F.col("size").cast("bigint").alias("cluster_size"),
            "n_clusters",
            F.round("slope", 6).alias("loglog_slope"),
        )
        .orderBy("cluster_size")
    )
