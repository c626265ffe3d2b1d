"""Declared query registry — the oracle-checked contract (SURVEY.md §2.C).

Each entry pairs a PySpark implementation (``QUERIES``) with an
ANSI-SQL oracle DuckDB can run on the same parquet fixtures
(``ORACLE_SQL``).  Column names and aggregate aliases match exactly
between the two — the driver's compare hashes values after sorting
columns by name.

``QUERIES`` is derived by one rule: a query is a module-level function
named ``q<N>_…`` or ``x<N>[a-z]_…`` (``x41b_ivf_clustered``) defined in
one of the engine modules imported below, keyed by its own name and
ordered by (prefix, number, suffix) — so q1–q10 and x1–x3 come first.
A name defined in two modules fails the import.  Adding a query is
writing the function (and importing its module here if it is a new
one), plus an ``ORACLE_SQL`` entry where SQL can express it.

Queries whose semantics are not exactly SQL-expressible (seeded LSH,
streaming state) appear in ``QUERIES`` without an oracle entry; the
driver records a rows-only check and pytest covers them with
recall-bound / batch-equivalence tests instead (SURVEY.md §5.2).
"""

from __future__ import annotations

import math as _math
import re
from collections.abc import Callable, Iterable
from types import FunctionType, ModuleType

from pyspark.sql import DataFrame, SparkSession

from go_mapreduce_spark import lakehouse as LH
from go_mapreduce_spark.operators import analytics as AN
from go_mapreduce_spark.operators import cdc as CD
from go_mapreduce_spark.operators import graph as G
from go_mapreduce_spark.operators import layout as L
from go_mapreduce_spark.operators import clustering as CL
from go_mapreduce_spark.operators import curation as C
from go_mapreduce_spark.operators import multimodal as MM
from go_mapreduce_spark.operators import relational as R
from go_mapreduce_spark.operators import relational_ext as RX
from go_mapreduce_spark.operators import scale as SC
from go_mapreduce_spark.operators import sketches as SK
from go_mapreduce_spark.operators import stats as ST
from go_mapreduce_spark.operators import tpch as TP
from go_mapreduce_spark.operators import udfs as U
from go_mapreduce_spark.operators import wordcount as W
from go_mapreduce_spark.operators import dedup as D
from go_mapreduce_spark.operators import similarity as S
from go_mapreduce_spark.operators import text as T
from go_mapreduce_spark.operators import windows as WIN
from go_mapreduce_spark.operators.stats import (
    PSI_BINS_PER_DECADE as _PSI_B,
    PSI_EPS as _PSI_E,
)
from go_mapreduce_spark.sources import pydatasource as PDS
from go_mapreduce_spark.sources import sinks as SNK
from go_mapreduce_spark.sources import sqlite_source as SQ
from go_mapreduce_spark.streaming import events as SE

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERY_NAME = re.compile(r"([qx])(\d+)([a-z]?)_")


def _query_order(name: str) -> tuple[str, int, str]:
    prefix, number, suffix = _QUERY_NAME.match(name).groups()
    return prefix, int(number), suffix


def collect_queries(modules: Iterable[ModuleType]) -> dict[str, QueryFn]:
    """The query functions defined in ``modules`` (names they import do
    not count), in registry order; raises on a name defined twice."""
    found: dict[str, QueryFn] = {}
    for mod in modules:
        for name, fn in vars(mod).items():
            if (
                isinstance(fn, FunctionType)
                and fn.__module__ == mod.__name__
                and _QUERY_NAME.match(name)
            ):
                if name in found:
                    raise ValueError(
                        f"query {name} is defined in both "
                        f"{found[name].__module__} and {mod.__name__}"
                    )
                found[name] = fn
    return {name: found[name] for name in sorted(found, key=_query_order)}


QUERIES: dict[str, QueryFn] = collect_queries(
    {
        m.__name__: m
        for m in list(globals().values())
        if isinstance(m, ModuleType) and m.__name__.startswith("go_mapreduce_spark.")
    }.values()
)


# ---------------------------------------------------------------------------
# I/O-class tags (round-10 verdict ask #3): queries whose execution
# MATERIALIZES /tmp state — stream checkpoints + replay sinks,
# lakehouse table churn, staged sqlite dbs, or iterative
# localCheckpoint chains (block-manager disk spill).  The one user is
# tests/test_window_lint.py::_lint_sweep_names, which leaves this set
# out of the default plan-lint sample: these builders fire actions, so
# building one just to lint its plan costs seconds.
# ---------------------------------------------------------------------------

_IO_MODULE_HINTS = ("streaming", "lakehouse", "sqlite_source")
# iterative / checkpoint-materializing queries living in otherwise
# compute-classed modules
_IO_EXPLICIT = frozenset({
    "x27_dedup_clusters",
    "x59_pagerank",
    "x143_pagerank_dangling",
    "x146_kcore",
    "x164_khop_reachability",
    "x165_cheapest_path",
    "x179_pca_power_iteration",
    "x185_logreg_train",
    "x292_eigenvector_centrality",
    "x314_markov_stationary",
    "x318_modularity",
    "x319_hits_scores",
    "x324_closeness_centrality",
    "x377_kcenter_coreset",
    "x378_personalized_pagerank",
    "x382_semdedup",
    "x385_recursive_cte",
    "x388_gdpr_cascade",
    "x416_stream_media_decode",
})
IO_TMP_STATE_QUERIES = frozenset(
    name
    for name, fn in QUERIES.items()
    if any(h in fn.__module__ for h in _IO_MODULE_HINTS)
) | (_IO_EXPLICIT & frozenset(QUERIES))



# DuckDB-runnable ANSI SQL over views: region nation customer supplier
# part orders lineitem events documents embeddings.
#
# Float discipline: every double aggregate goes through
# CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) — exact, associative,
# order-independent — mirroring functions/numeric.py on the Spark side.
ORACLE_SQL: dict[str, str] = {
    "q1_word_count": """
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
              FROM documents)
        WHERE word <> ''
        GROUP BY word
        ORDER BY word
    """,
    "q2_grouped_agg": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q3_filter_agg": """
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """,
    "q4_broadcast_join": """
        SELECT c_mktsegment,
               COUNT(*) AS num_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "q5_multiway_join": """
        SELECT r_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name
        ORDER BY r_name
    """,
    "q6_count_distinct": """
        SELECT event_type, COUNT(DISTINCT user_id) AS uniq_users
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q7_topk": """
        SELECT o_orderkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 10
    """,
    "q8_window": """
        SELECT user_id, event_id, rn, running_value
        FROM (
            SELECT user_id, event_id,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                   SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_value
            FROM events
        ) t
        WHERE rn <= 3
        ORDER BY user_id, rn
    """,
    "q9_intersect": """
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase'
        ORDER BY user_id
    """,
    "q10_anti_join": """
        SELECT c_custkey
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
    """,
    "x1_dedup_exact": """
        SELECT MIN(doc_id) AS doc_id
        FROM documents
        GROUP BY sha256(text)
        ORDER BY doc_id
    """,
    "x2_top_tokens": """
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
              FROM documents)
        WHERE word <> ''
        GROUP BY word
        ORDER BY cnt DESC, word ASC
        LIMIT 20
    """,
    "x3_knn_cosine": """
        SELECT query_id, neighbor_id, ROUND(similarity, 6) AS similarity
        FROM (
            SELECT q.vec_id AS query_id,
                   n.vec_id AS neighbor_id,
                   list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(n.embedding AS DOUBLE[])) AS similarity,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                       CAST(n.embedding AS DOUBLE[])) DESC,
                                n.vec_id ASC) AS rnk
            FROM embeddings q
            JOIN embeddings n ON n.vec_id <> q.vec_id
            WHERE q.vec_id BETWEEN 1 AND 5
        ) t
        WHERE rnk <= 5
        ORDER BY query_id, similarity DESC, neighbor_id
    """,
    "x6_dedup_ngram_jaccard": """
        WITH shingles AS (
            SELECT DISTINCT doc_id, sh FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(toks) - 1),
                           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                       )) AS sh
                FROM (SELECT doc_id,
                             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                         t -> len(t) > 0) AS toks
                      FROM documents)
            )
        ),
        pair_inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id)
        SELECT doc_a, doc_b,
               ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
        FROM pair_inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.8
        ORDER BY doc_a, doc_b
    """,
    "x7_token_stats": """
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct_tokens,
               CASE WHEN len(toks) > 0
                    THEN CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) / len(toks)
                    ELSE 0.0 END AS avg_token_len
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(text, '[^A-Za-z]+'), t -> len(t) > 0) AS toks
              FROM documents)
        ORDER BY doc_id
    """,
    "x11_tumbling_window": """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "x12_session_window": """
        WITH o AS (
            SELECT user_id, event_id, ts, value,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events
        ), flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts >= INTERVAL '10 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM o
        ), sess AS (
            SELECT user_id, ts, value,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM flagged
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '10 minutes' AS session_end,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM sess
        GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
    "x13_dedup_embedding": """
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.3
        ORDER BY vec_a, vec_b
    """,
    "x14_rollup": """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_items,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    "x15_json_extract": """
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
    "x16_asof_join": """
        WITH purchases AS (
            SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
            FROM events WHERE event_type = 'purchase'
        ), clicks AS (
            SELECT user_id, event_id AS click_id, ts AS click_ts
            FROM events WHERE event_type = 'click'
        ), joined AS (
            SELECT p.user_id, p.purchase_id, c.click_id, c.click_ts,
                   row_number() OVER (
                       PARTITION BY p.purchase_id
                       ORDER BY c.click_ts DESC NULLS LAST,
                                c.click_id DESC NULLS LAST) AS rn
            FROM purchases p
            LEFT JOIN clicks c
              ON c.user_id = p.user_id AND c.click_ts <= p.purchase_ts
        )
        SELECT user_id, purchase_id, click_id
        FROM joined WHERE rn = 1
        ORDER BY purchase_id
    """,
    "x17_range_join": """
        SELECT band, COUNT(*) AS n_items,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price
        FROM lineitem
        JOIN (VALUES (0, 10, 'low'), (10, 25, 'mid'),
                     (25, 40, 'high'), (40, 60, 'xl')) AS bands(lo, hi, band)
          ON l_quantity >= lo AND l_quantity < hi
        GROUP BY band
        ORDER BY band
    """,
    "x18_except": """
        SELECT user_id FROM events WHERE event_type = 'view'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'purchase'
        ORDER BY user_id
    """,
    "x19_scalar_funcs": """
        SELECT o_orderkey,
               upper(substring(o_orderpriority, 1, 8)) AS prio_prefix,
               concat_ws('#', o_orderstatus, o_orderpriority) AS status_tag,
               CAST(year(o_orderdate) AS BIGINT) AS order_year,
               CAST(month(o_orderdate) AS BIGINT) AS order_month,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month_start,
               CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k,
               round(sqrt(abs(o_totalprice)), 6) AS price_sqrt
        FROM orders
        WHERE o_orderkey <= 2000
        ORDER BY o_orderkey
    """,
    "x21_tfidf": """
        WITH terms AS (
            SELECT doc_id, unnest(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       t -> len(t) > 0)) AS tok
            FROM documents
        ), tf AS (
            SELECT doc_id, tok, COUNT(*) AS tf
            FROM terms GROUP BY doc_id, tok
        ), df AS (
            SELECT tok, COUNT(*) AS df
            FROM (SELECT DISTINCT doc_id, tok FROM terms) GROUP BY tok
        ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.tok,
                   CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY CAST(tf.tf AS DOUBLE) * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) DESC,
                                tf.tok ASC) AS rn
            FROM tf JOIN df USING (tok) CROSS JOIN n
        )
        SELECT doc_id, tok, rn, ROUND(tfidf, 6) AS tfidf
        FROM scored WHERE rn <= 3
        ORDER BY doc_id, rn
    """,
    "x22_pandas_udf_tokens": """
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                               t -> len(t) > 0)) AS n_tokens
        FROM documents
        ORDER BY doc_id
    """,
    "x36_stream_tumbling": """
        -- append-mode replay emits the watermark-finalized windows:
        -- window_end <= max(ts) - 2h (Spark truncates the watermark
        -- to milliseconds; replicate exactly)
        WITH wm AS (
            SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS w
            FROM events
        ), agg AS (
            SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                   event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
            FROM events
            GROUP BY 1, 2
        )
        SELECT agg.* FROM agg, wm
        WHERE agg.window_start + INTERVAL 1 HOUR <= wm.w
        ORDER BY window_start, event_type
    """,
    "x24_sliding_window": """
        WITH expanded AS (
            SELECT unnest([time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
                           time_bucket(INTERVAL '30 minutes', ts)]) AS window_start,
                   event_type, value, ts
            FROM events
        )
        SELECT window_start, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM expanded
        WHERE ts >= window_start AND ts < window_start + INTERVAL '1 hour'
        GROUP BY window_start, event_type
        ORDER BY window_start, event_type
    """,
}


def _lang_id_oracle() -> str:
    """Build the x8 oracle from the same constants the Spark op uses."""
    from go_mapreduce_spark.operators.text import LANG_ORDER, STOPWORDS

    def lst(lang: str) -> str:
        return "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"

    score_cols = ",\n                   ".join(
        f"len(list_filter(toks, x -> list_contains({lst(lang)}, x))) AS s_{lang}"
        for lang in LANG_ORDER
    )
    greatest = "greatest(" + ", ".join(f"s_{lang}" for lang in LANG_ORDER) + ")"
    whens = "\n                    ".join(
        f"WHEN s_{lang} = {greatest} THEN '{lang}'" for lang in LANG_ORDER
    )
    return f"""
        WITH t AS (
            SELECT doc_id, lang,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                               x -> len(x) > 0) AS toks
            FROM documents
        ), s AS (
            SELECT doc_id, lang,
                   {score_cols}
            FROM t
        )
        SELECT doc_id, lang,
               CASE WHEN {greatest} <= 0 THEN 'und'
                    {whens}
               END AS pred_lang
        FROM s
        ORDER BY doc_id
    """


def _quality_oracle() -> str:
    from go_mapreduce_spark.operators.text import EN_STOPWORDS

    sw = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
    return f"""
        WITH t AS (
            SELECT doc_id, text,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                               x -> len(x) > 0) AS toks
            FROM documents
        ), m AS (
            SELECT doc_id,
                   len(text) AS tl,
                   len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS al,
                   len(regexp_replace(text, '[^0-9]', '', 'g')) AS dl,
                   len(toks) AS nt,
                   len(list_filter(toks, x -> list_contains({sw}, x))) AS sw
            FROM t
        )
        SELECT doc_id,
               ROUND(CASE WHEN tl > 0 THEN CAST(al AS DOUBLE)/tl ELSE 0.0 END, 6) AS alpha_ratio,
               ROUND(CASE WHEN tl > 0 THEN CAST(dl AS DOUBLE)/tl ELSE 0.0 END, 6) AS digit_ratio,
               ROUND(CASE WHEN nt > 0 THEN CAST(sw AS DOUBLE)/nt ELSE 0.0 END, 6) AS stopword_ratio,
               nt AS n_tokens,
               ROUND(0.4*(CASE WHEN tl > 0 THEN CAST(al AS DOUBLE)/tl ELSE 0.0 END)
                   + 0.3*(CASE WHEN nt > 0 THEN CAST(sw AS DOUBLE)/nt ELSE 0.0 END)
                   + 0.3*least(1.0, CAST(nt AS DOUBLE)/50), 6) AS quality
        FROM m
        ORDER BY doc_id
    """


ORACLE_SQL["x32_union_all"] = """
    SELECT user_id, COUNT(*) AS n_interactions
    FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        UNION ALL
        SELECT user_id FROM events WHERE event_type = 'view'
    )
    GROUP BY user_id
    ORDER BY user_id
"""

ORACLE_SQL["x33_array_agg"] = """
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv,
           CAST(len(list(DISTINCT event_type)) AS BIGINT) AS n_types,
           list_contains(list(DISTINCT event_type), 'purchase') AS is_buyer
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""

ORACLE_SQL["x31_correlated_subquery"] = """
    SELECT c_custkey, c_nationkey, ROUND(c_acctbal, 6) AS acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c2.c_acctbal)
                       FROM customer c2
                       WHERE c2.c_nationkey = c.c_nationkey)
    ORDER BY c_custkey
"""

ORACLE_SQL["x29_cube"] = """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""

ORACLE_SQL["x30_pivot"] = """
    SELECT user_id,
           COUNT(*) FILTER (event_type = 'click')    AS n_click,
           COUNT(*) FILTER (event_type = 'error')    AS n_error,
           COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
           COUNT(*) FILTER (event_type = 'view')     AS n_view
    FROM events
    GROUP BY user_id
    ORDER BY user_id
"""

# Shared CTE chain: x6's Jaccard pair graph → transitive closure
# (recursive CTE) — reused by x27 (clusters) and x64 (keep-set).
_NEARDUP_CC_CTES = """toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks)
    ), pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    pairs AS (
        SELECT doc_a, doc_b
        FROM pair_inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.8
    ), edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    )"""

ORACLE_SQL["x27_dedup_clusters"] = f"""
    WITH RECURSIVE {_NEARDUP_CC_CTES}
    SELECT node AS doc_id, MIN(r) AS cluster_id
    FROM reach GROUP BY node ORDER BY doc_id
"""

# Payload bytes in the committed fixture are printable ASCII by
# construction (tools/make_media_fixture.py), so CAST(payload AS
# VARCHAR) is byte-identical to the raw BLOB and DuckDB's
# VARCHAR-only sha256 hashes the same bytes hashlib sees.
ORACLE_SQL["x35_multimodal_decode"] = f"""
    SELECT media_id, kind, format,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           sha256(CAST(payload AS VARCHAR)) AS payload_sha
    FROM read_parquet('{MM.FIXTURE_PATH}/*.parquet')
    ORDER BY media_id
"""

ORACLE_SQL["x34_grouping_sets"] = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""

ORACLE_SQL["x28_grouped_zscore"] = """
    SELECT o_orderkey, o_orderstatus,
           ROUND((o_totalprice - AVG(o_totalprice) OVER (PARTITION BY o_orderstatus))
                 / STDDEV_SAMP(o_totalprice) OVER (PARTITION BY o_orderstatus), 6) AS z
    FROM orders
    ORDER BY o_orderkey
"""

ORACLE_SQL["x51_gapfill_ffill"] = """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    ), spine AS (
        SELECT event_type,
               unnest(generate_series(CAST(min(h) AS TIMESTAMP),
                                      CAST(max(h) AS TIMESTAMP),
                                      INTERVAL 1 HOUR)) AS h
        FROM hourly GROUP BY event_type
    )
    SELECT s.event_type,
           s.h AS hour,
           CAST(COALESCE(hy.n_events, 0) AS BIGINT) AS n_events,
           last_value(hy.total_value IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM spine s LEFT JOIN hourly hy ON hy.event_type = s.event_type AND hy.h = s.h
    ORDER BY s.event_type, hour
"""

ORACLE_SQL["x48_pack_sequences"] = f"""
    WITH s AS (
        SELECT doc_id,
               doc_id % {C.PACK_SHARDS} AS shard_id,
               CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                    t -> len(t) > 0)) AS BIGINT) AS n_tokens
        FROM documents
    ), o AS (
        SELECT doc_id, shard_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS start_offset
        FROM s
    )
    SELECT doc_id, CAST(shard_id AS BIGINT) AS shard_id, n_tokens, start_offset,
           CAST(FLOOR(start_offset / {C.PACK_BUDGET}) AS BIGINT) AS bin_id
    FROM o
    ORDER BY doc_id
"""

ORACLE_SQL["x49_repetition_score"] = """
    WITH t AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   x -> len(x) > 0) AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shs
        FROM t
    )
    SELECT doc_id,
           CAST(len(shs) AS BIGINT) AS n_shingles,
           CAST(len(list_distinct(shs)) AS BIGINT) AS n_distinct_shingles,
           ROUND(CASE WHEN len(shs) > 0
                      THEN 1.0 - CAST(len(list_distinct(shs)) AS DOUBLE) / len(shs)
                      ELSE 0.0 END, 6) AS dup_frac
    FROM s
    ORDER BY doc_id
"""

ORACLE_SQL["x50_redact_pii"] = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{C.EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(
                regexp_replace(text, '{C.EMAIL_RE}', '<EMAIL>', 'g'),
                '{C.LONGNUM_RE}')) AS BIGINT) AS n_longnums,
           CAST(len(text) - len(
                regexp_replace(
                    regexp_replace(text, '{C.EMAIL_RE}', '<EMAIL>', 'g'),
                    '{C.LONGNUM_RE}', '<NUM>', 'g')) AS BIGINT) AS chars_removed
    FROM documents
    ORDER BY doc_id
"""

ORACLE_SQL["x47_salted_join"] = """
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""

ORACLE_SQL["x46_array_math"] = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT vec_id,
           CAST(len(e) AS BIGINT) AS dim,
           ROUND(sqrt(list_sum(list_transform(e, x -> x * x))), 6) AS l2_norm,
           ROUND(list_sum(e) / len(e), 6) AS mean_elem,
           ROUND(list_max(list_transform(e, x -> abs(x))), 6) AS max_abs
    FROM v
    ORDER BY vec_id
"""

ORACLE_SQL["x45_udtf_bigrams"] = """
    WITH t AS (
        SELECT doc_id, regexp_extract_all(text, '[A-Za-z]+') AS toks
        FROM documents
    )
    SELECT doc_id, CAST(pb.pos AS BIGINT) AS pos, pb.bigram AS bigram
    FROM (SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                        i -> {'pos': i - 1, 'bigram': toks[i] || ' ' || toks[i+1]})) AS pb
          FROM t)
    ORDER BY doc_id, pos
"""

# Winnowing (W=4): full windows start at 1-based i ∈ [1, n-W+1] →
# range(1, n-2); slice hs[i:i+3] is the 4-element window (DuckDB
# slices are 1-based inclusive).
ORACLE_SQL["x44_winnow_fingerprint"] = """
    WITH t AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   x -> len(x) > 0) AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, list_transform(range(1, len(toks) - 1),
                   i -> sha256(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS hs
        FROM t
    ), w AS (
        SELECT doc_id, list_transform(range(1, len(hs) - 2),
                   i -> list_min(hs[i:i+3])) AS mins
        FROM s WHERE len(hs) >= 4
    )
    SELECT doc_id,
           CAST(len(list_distinct(mins)) AS BIGINT) AS n_fp,
           list_min(mins) AS fp_min
    FROM w
    ORDER BY doc_id
"""

ORACLE_SQL["x42_pandas_udaf_geomean"] = """
    SELECT o_orderstatus,
           ROUND(exp(avg(ln(o_totalprice))), 6) AS geomean_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""

# x12's gaps-and-islands sessionization, restricted to the
# watermark-finalized sessions the append-mode replay emits:
# session_end <= ms-truncated max(ts) - 2h
ORACLE_SQL["x43_stream_sessions"] = """
    WITH wm AS (
        SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS w
        FROM events
    ), o AS (
        SELECT user_id, event_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts >= INTERVAL '10 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM o
    ), sess AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '10 minutes' AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM sess
    GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL '10 minutes' <= (SELECT w FROM wm)
    ORDER BY user_id, session_start
"""

ORACLE_SQL["x37_hash_sample"] = f"""
    SELECT doc_id, lang
    FROM documents
    WHERE sha256(CAST(doc_id AS VARCHAR))[:2] < '{C.SAMPLE_PREFIX_LT}'
    ORDER BY doc_id
"""

ORACLE_SQL["x38_per_group_cap"] = """
    SELECT doc_id, lang, rn
    FROM (SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
          FROM documents)
    WHERE rn <= 50
    ORDER BY doc_id
"""

ORACLE_SQL["x39_bpe_token_count"] = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{C.BPE_REGEX.replace("'", "''")}')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_filter(regexp_split_to_array(text, ' +'), t -> len(t) > 0)) AS BIGINT) AS n_ws_tokens
    FROM documents
    ORDER BY doc_id
"""

ORACLE_SQL["x40_grouped_median"] = """
    SELECT l_returnflag,
           CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS median_qty,
           CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE) AS p90_qty,
           COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""

ORACLE_SQL["x52_decontaminate"] = f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks)
    ), bench AS (
        SELECT DISTINCT sh FROM shingles WHERE doc_id % {C.DECON_HOLDOUT_MOD} = 0
    ), train_sh AS (
        SELECT * FROM shingles WHERE doc_id % {C.DECON_HOLDOUT_MOD} <> 0
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM train_sh GROUP BY doc_id
    ), hits AS (
        SELECT doc_id, COUNT(*) AS n_hit
        FROM train_sh JOIN bench USING (sh) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_sh, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_contaminated,
           ROUND(CASE WHEN COALESCE(s.n_sh, 0) > 0
                      THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / s.n_sh
                      ELSE 0.0 END, 6) AS contamination,
           (CASE WHEN COALESCE(s.n_sh, 0) > 0
                 THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / s.n_sh
                 ELSE 0.0 END) >= {C.DECON_FLAG_FRAC} AS flagged
    FROM documents d
    LEFT JOIN sizes s ON s.doc_id = d.doc_id
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.doc_id % {C.DECON_HOLDOUT_MOD} <> 0
    ORDER BY d.doc_id
"""

ORACLE_SQL["x53_token_budget_mix"] = f"""
    WITH s AS (
        SELECT doc_id, lang,
               CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                    t -> len(t) > 0)) AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_before
    FROM s
    QUALIFY cum_before < {C.MIX_TOKEN_BUDGET}
    ORDER BY doc_id
"""

ORACLE_SQL["x54_merge_upsert"] = """
    WITH target AS (
        SELECT c_custkey AS cust_key, c_acctbal, 1 AS in_t
        FROM customer WHERE c_custkey % 2 = 0
    ), source AS (
        SELECT o_custkey AS cust_key,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS delta,
               1 AS in_s
        FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(t.cust_key, s.cust_key) AS cust_key,
           CASE WHEN t.in_t IS NULL THEN 'insert'
                WHEN s.in_s IS NULL THEN 'keep'
                ELSE 'update' END AS action,
           ROUND(CASE WHEN t.in_t IS NULL THEN s.delta
                      WHEN s.in_s IS NULL THEN t.c_acctbal
                      ELSE t.c_acctbal + s.delta END, 6) AS balance,
           CAST(COALESCE(s.n_orders, 0) AS BIGINT) AS n_orders
    FROM target t FULL OUTER JOIN source s ON t.cust_key = s.cust_key
    ORDER BY cust_key
"""

ORACLE_SQL["x55_scd2_intervals"] = """
    SELECT user_id, event_id, value,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               AS is_current
    FROM events
    ORDER BY user_id, valid_from, event_id
"""

ORACLE_SQL["x56_kmeans_assign"] = f"""
    WITH c AS (
        SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings WHERE vec_id BETWEEN 1 AND {CL.KMEANS_K}
    ), v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
    ), d AS (
        SELECT v.vec_id, c.centroid_id,
               list_sum(list_transform(ve, (x, i) -> (x - ce[i]) * (x - ce[i]))) AS d2
        FROM v CROSS JOIN c
    ), r AS (
        SELECT vec_id, centroid_id, d2,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rn
        FROM d
    )
    SELECT vec_id, centroid_id, ROUND(sqrt(d2), 6) AS dist
    FROM r WHERE rn = 1
    ORDER BY vec_id
"""

ORACLE_SQL["x57_hot_shingles"] = f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks)
    )
    SELECT sh, COUNT(*) AS df,
           CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS n_cand_pairs
    FROM shingles
    GROUP BY sh
    HAVING COUNT(*) >= {D.HOT_DF_MIN}
    ORDER BY df DESC, sh
"""

ORACLE_SQL["x58_window_zoo"] = """
    SELECT o_orderkey, o_orderstatus,
           lag(o_totalprice) OVER w AS prev_price,
           CAST(dense_rank() OVER w AS BIGINT) AS drank,
           ROUND(percent_rank() OVER w, 6) AS prank,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey
"""

def _pagerank_oracle(damping: float = G.PR_DAMPING, n_iter: int = G.PR_ITERS) -> str:
    """Fixed-iteration PageRank as chained CTEs (recursive CTEs can't
    aggregate over the recursive term, so each round is its own CTE).
    Float parity: teleport/damping literals are injected via ``repr``
    (bit-identical doubles both sides) and contribution sums go
    through DECIMAL(38,18) in both engines — the identical expression
    shape graph.pagerank evaluates, so values agree exactly."""
    t = repr(1.0 - damping)
    rounds = []
    for i in range(1, n_iter + 1):
        rounds.append(f"""pr{i} AS (
        SELECT n.node,
               CAST({t} AS DOUBLE) / nn.n
               + CAST({damping!r} AS DOUBLE)
                 * COALESCE(CAST(SUM(CAST(p.rank / od.deg AS DECIMAL(38,18)))
                                 AS DOUBLE), CAST(0 AS DOUBLE)) AS rank
        FROM nodes n
        CROSS JOIN nn
        LEFT JOIN edges e ON e.v = n.node
        LEFT JOIN pr{i - 1} p ON p.node = e.u
        LEFT JOIN outd od ON od.u = e.u
        GROUP BY n.node, nn.n
    )""")
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks)
    ), pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    pairs AS (
        SELECT doc_a, doc_b
        FROM pair_inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.8
    ), edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ), nodes AS (SELECT DISTINCT u AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outd AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
            FROM nodes CROSS JOIN nn),
    {rounds_sql}
    SELECT node AS doc_id, ROUND(rank, 6) AS rank
    FROM pr{n_iter}
    ORDER BY doc_id
"""


ORACLE_SQL["x59_pagerank"] = _pagerank_oracle()

ORACLE_SQL["x60_chunk_documents"] = f"""
    WITH s AS (
        SELECT doc_id,
               len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                               t -> len(t) > 0)) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * {C.CHUNK_STRIDE} AS BIGINT) AS start_tok,
           CAST(least({C.CHUNK_TOKENS}, n - i * {C.CHUNK_STRIDE}) AS BIGINT)
               AS chunk_len
    FROM (SELECT doc_id, n, unnest(range(0, (n - 1) // {C.CHUNK_STRIDE} + 1)) AS i
          FROM s WHERE n > 0)
    ORDER BY doc_id, chunk_idx
"""


def _curation_pipeline_oracle() -> str:
    return f"""
    WITH q AS ({_quality_oracle()}),
    l AS ({_lang_id_oracle()}),
    keep AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
    )
    SELECT q.doc_id, l.lang, q.quality, q.n_tokens
    FROM q
    JOIN l ON l.doc_id = q.doc_id
    JOIN keep ON keep.doc_id = q.doc_id
    WHERE q.quality >= {C.QUALITY_KEEP_MIN} AND l.pred_lang = l.lang
    ORDER BY q.doc_id
"""


ORACLE_SQL["x61_curation_pipeline"] = _curation_pipeline_oracle()


def _neardup_curation_oracle() -> str:
    return f"""
    WITH RECURSIVE {_NEARDUP_CC_CTES},
    clusters AS (
        SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
    ),
    q AS ({_quality_oracle()}),
    l AS ({_lang_id_oracle()})
    SELECT q.doc_id, l.lang, q.quality, q.n_tokens
    FROM q
    JOIN l ON l.doc_id = q.doc_id
    LEFT JOIN clusters c ON c.doc_id = q.doc_id
    WHERE (c.doc_id IS NULL OR c.cluster_id = q.doc_id)
      AND q.quality >= {C.QUALITY_KEEP_MIN} AND l.pred_lang = l.lang
    ORDER BY q.doc_id
"""


ORACLE_SQL["x64_neardup_curation"] = _neardup_curation_oracle()

ORACLE_SQL["x65_stream_join"] = """
    SELECT p.user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.ts AS purchase_ts,
           c.ts AS click_ts
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase'
     AND c.event_type = 'click'
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    ORDER BY p.user_id, purchase_id, click_id
"""

# Same vector-space contract as the Spark side: df-capped tokens,
# weights rounded to 6 decimals then held as DECIMAL(18,6) so dot
# products and norms are exact decimal sums; only sqrt/divide in
# double (IEEE correctly-rounded → engine-identical).
ORACLE_SQL["x66_tfidf_cosine"] = f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                          t -> len(t) > 0)) AS tok
        FROM documents
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
    ), dfr AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    ), n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    w AS (
        SELECT doc_id, tok,
               CAST(ROUND(CAST(tf AS DOUBLE) * ln(n_docs / df), 6)
                    AS DECIMAL(18,6)) AS w
        FROM tf JOIN dfr USING (tok) CROSS JOIN n
        WHERE df <= {T.TFIDF_MAX_DF_FRAC} * n_docs
    ), norms AS (
        SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm
        FROM w GROUP BY doc_id
    ), dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.w * b.w) AS DOUBLE) AS dot
        FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE dot / (na.nrm * nb.nrm) >= {T.TFIDF_SIM_THRESHOLD}
    ORDER BY doc_a, doc_b
"""

ORACLE_SQL["x67_grouped_mode"] = """
    SELECT user_id, modal_type, n_events FROM (
        SELECT user_id, event_type AS modal_type, COUNT(*) AS n_events,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY COUNT(*) DESC, event_type ASC) AS rn
        FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    ORDER BY user_id
"""

ORACLE_SQL["x68_unpivot"] = """
    SELECT l_returnflag, measure,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM (
        SELECT l_returnflag, measure, val
        FROM lineitem
        UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
    )
    GROUP BY l_returnflag, measure
    ORDER BY l_returnflag, measure
"""

ORACLE_SQL["x69_triangle_count"] = f"""
    WITH RECURSIVE {_NEARDUP_CC_CTES},
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM pairs e1
        JOIN pairs e2 ON e2.doc_a = e1.doc_b
        JOIN pairs e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    )
    SELECT doc_id, COUNT(*) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
    GROUP BY doc_id
    ORDER BY doc_id
"""

ORACLE_SQL["x70_trigram_lm"] = f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), tris AS (
        SELECT unnest(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM toks
    ), c3 AS (SELECT sh, COUNT(*) AS c3 FROM tris GROUP BY sh),
    parts AS (
        SELECT regexp_replace(sh, ' [a-z]+$', '') AS ctx,
               regexp_extract(sh, '([a-z]+)$', 1) AS w3,
               c3
        FROM c3
    )
    SELECT ctx, w3, c3,
           SUM(c3) OVER (PARTITION BY ctx) AS c2,
           ROUND(CAST(c3 AS DOUBLE) / SUM(c3) OVER (PARTITION BY ctx), 6) AS p
    FROM parts
    QUALIFY c3 >= {T.TRIGRAM_MIN_COUNT}
    ORDER BY ctx, w3
"""

ORACLE_SQL["x71_frame_grid"] = f"""
    SELECT media_id,
           CAST(CASE WHEN duration_ms - 1 > 0 THEN duration_ms - 1 ELSE 0 END
                // 1000 + 1 AS BIGINT) AS n_frames
    FROM read_parquet('{MM.FIXTURE_PATH}/*.parquet')
    WHERE kind = 'video'
    ORDER BY media_id
"""

# per-element cast float→double is exact; decimal(38,12) keeps 1e-12
# absolute precision on |x|≲1 embedding elements (38,6 would round
# away the signal); mean = exact sum / count in one double division
ORACLE_SQL["x72_label_centroids"] = """
    SELECT label,
           CAST(dim - 1 AS BIGINT) AS dim,
           ROUND(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_val,
           COUNT(*) AS n_vecs
    FROM (
        SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS dim
        FROM embeddings
    )
    GROUP BY label, dim
    ORDER BY label, dim
"""

ORACLE_SQL["x73_bm25"] = f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), dl AS (SELECT doc_id, len(toks) AS dl FROM toks),
    consts AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ), terms AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM terms GROUP BY doc_id, tok),
    dfr AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY tok),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                 * CAST(tf AS DOUBLE) * {T.BM25_K1 + 1.0}
                 / (CAST(tf AS DOUBLE)
                    + {T.BM25_K1} * ({1.0 - T.BM25_B} + {T.BM25_B} * dl / avgdl))
               AS bm25
        FROM tf
        JOIN dfr USING (tok)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN consts
    )
    SELECT doc_id, tok,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY bm25 DESC, tok ASC) AS BIGINT) AS rn,
           ROUND(bm25, 6) AS bm25
    FROM scored
    QUALIFY rn <= {T.BM25_TOP_N}
    ORDER BY doc_id, rn
"""

ORACLE_SQL["x74_skipgram_cooc"] = f"""
    WITH pos AS (
        SELECT doc_id, unnest(toks) AS w,
               generate_subscripts(toks, 1) AS p
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                 t -> len(t) > 0) AS toks
              FROM documents)
    )
    SELECT a.w AS w_left, b.w AS w_right, COUNT(*) AS n
    FROM pos a
    JOIN pos b ON b.doc_id = a.doc_id
              AND b.p BETWEEN a.p + 1 AND a.p + {T.SKIPGRAM_WINDOW}
    GROUP BY a.w, b.w
    HAVING COUNT(*) >= {T.SKIPGRAM_MIN_COUNT}
    ORDER BY w_left, w_right
"""

ORACLE_SQL["x75_event_transitions"] = """
    WITH steps AS (
        SELECT user_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS from_type,
               event_type AS to_type
        FROM events
    )
    SELECT from_type, to_type, COUNT(*) AS n
    FROM steps
    WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
    ORDER BY from_type, to_type
"""

ORACLE_SQL["x76_lang_confusion"] = f"""
    WITH l AS ({_lang_id_oracle()})
    SELECT lang, pred_lang, COUNT(*) AS n_docs
    FROM l
    GROUP BY lang, pred_lang
    ORDER BY lang, pred_lang
"""

# DuckDB date_trunc returns DATE for day/week — cast to TIMESTAMP to
# match Spark's timestamp buckets (see parity rules)
ORACLE_SQL["x77_multi_rollup"] = """
    WITH buckets AS (
        SELECT event_type, value, g.gran AS gran, g.bucket AS bucket
        FROM events, unnest([
            {'gran': 'hour', 'bucket': CAST(date_trunc('hour', ts) AS TIMESTAMP)},
            {'gran': 'day',  'bucket': CAST(date_trunc('day',  ts) AS TIMESTAMP)},
            {'gran': 'week', 'bucket': CAST(date_trunc('week', ts) AS TIMESTAMP)}
        ]) AS t(g)
    )
    SELECT gran, bucket, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM buckets
    GROUP BY gran, bucket, event_type
    ORDER BY gran, bucket, event_type
"""

ORACLE_SQL["x78_quantize_audit"] = """
    WITH e AS (
        SELECT vec_id, CAST(x AS DOUBLE) AS x
        FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
    ), mx AS (
        SELECT vec_id,
               CASE WHEN MAX(ABS(x)) > 1e-12 THEN MAX(ABS(x)) ELSE 1e-12 END AS maxabs
        FROM e GROUP BY vec_id
    ), q AS (
        SELECT e.vec_id, x, 127.0 / maxabs AS scale
        FROM e JOIN mx ON mx.vec_id = e.vec_id
    )
    SELECT vec_id,
           COUNT(*) AS dim,
           ROUND(CAST(SUM(CAST(ABS(x - floor(x * scale + 0.5) / scale)
                              AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*) * 1e4, 6) AS mae_x1e4
    FROM q
    GROUP BY vec_id
    ORDER BY vec_id
"""

ORACLE_SQL["x62_funnel"] = """
    WITH v AS (
        SELECT user_id, MIN(ts) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(e.ts) AS first_click
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts >= v.first_view
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(e.ts) AS first_purchase
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.first_click
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.first_view, c.first_click, p.first_purchase,
           CAST(1 + (c.user_id IS NOT NULL)::INT + (p.user_id IS NOT NULL)::INT
                AS BIGINT) AS funnel_stage
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    ORDER BY v.user_id
"""

ORACLE_SQL["x63_retention_cohorts"] = """
    WITH user_days AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ), cohort AS (
        SELECT user_id, MIN(d) AS cohort_day FROM user_days GROUP BY user_id
    )
    SELECT CAST(c.cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(date_diff('day', c.cohort_day, u.d) AS BIGINT) AS day_offset,
           COUNT(*) AS n_users
    FROM user_days u JOIN cohort c ON c.user_id = u.user_id
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

ORACLE_SQL["x8_lang_id"] = _lang_id_oracle()
ORACLE_SQL["x9_quality_score"] = _quality_oracle()
ORACLE_SQL["x10_fingerprint"] = """
    WITH t AS (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> len(x) > 0) AS toks
        FROM documents
    ), s AS (
        SELECT doc_id, text,
               list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS shs
        FROM t
    )
    SELECT doc_id,
           CASE WHEN len(shs) > 0 THEN list_min(list_transform(shs, x -> sha256(x)))
                ELSE sha256(lower(text)) END AS fingerprint
    FROM s
    ORDER BY doc_id
"""


ORACLE_SQL["x79_pricing_summary"] = f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                         AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{RX.PRICING_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""

ORACLE_SQL["x80_sessionize"] = f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > {WIN.SESSION_GAP_SECONDS * 1_000_000}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS session_idx
        FROM flagged
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
    FROM sess
    GROUP BY user_id, session_idx
    ORDER BY user_id, session_idx
"""

ORACLE_SQL["x81_token_entropy"] = """
    WITH counts AS (
        SELECT doc_id, tok, COUNT(*) AS n
        FROM (SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                        t -> len(t) > 0)) AS tok
              FROM documents)
        GROUP BY doc_id, tok
    ), terms AS (
        SELECT doc_id,
               SUM(n) OVER (PARTITION BY doc_id) AS n_tokens,
               CAST(-((CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY doc_id))
                      * ln(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY doc_id)))
                    AS DECIMAL(38,12)) AS term
        FROM counts
    )
    SELECT doc_id,
           CAST(MIN(n_tokens) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           ROUND(CAST(SUM(term) AS DOUBLE), 6) AS entropy
    FROM terms
    GROUP BY doc_id
    ORDER BY doc_id
"""

ORACLE_SQL["x82_chi2_independence"] = """
    WITH cells AS (
        SELECT lang, source, COUNT(*) AS n
        FROM documents GROUP BY lang, source
    ), scored AS (
        SELECT lang, source, n,
               CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE)
               * CAST(SUM(n) OVER (PARTITION BY source) AS DOUBLE)
               / CAST(SUM(n) OVER () AS DOUBLE) AS expected
        FROM cells
    )
    SELECT lang, source, n,
           ROUND(expected, 6) AS expected,
           ROUND((n - expected) * (n - expected) / expected, 6) AS chi2_contrib
    FROM scored
    ORDER BY lang, source
"""

ORACLE_SQL["x83_iqr_outliers"] = f"""
    WITH fences AS (
        SELECT event_type,
               CAST(quantile_cont(value, 0.25) AS DOUBLE) AS q1,
               CAST(quantile_cont(value, 0.75) AS DOUBLE) AS q3
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(f.q1, 6) AS q1, ROUND(f.q3, 6) AS q3,
           CAST(SUM(CASE WHEN e.value < f.q1 - {AN.IQR_FENCE} * (f.q3 - f.q1)
                              OR e.value > f.q3 + {AN.IQR_FENCE} * (f.q3 - f.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           COUNT(*) AS n_total
    FROM events e JOIN fences f ON f.event_type = e.event_type
    GROUP BY e.event_type, f.q1, f.q3
    ORDER BY e.event_type
"""

ORACLE_SQL["x84_sorted_neighborhood"] = f"""
    WITH keyed AS (
        SELECT doc_id,
               substring(regexp_replace(lower(text), '[^a-z]', '', 'g'),
                         1, {D.SN_PREFIX_LEN}) AS norm
        FROM documents
    ), leads AS (
        SELECT doc_id AS doc_id_a, norm,
               lead(doc_id, 1) OVER w AS b1, lead(norm, 1) OVER w AS n1,
               lead(doc_id, 2) OVER w AS b2, lead(norm, 2) OVER w AS n2,
               lead(doc_id, 3) OVER w AS b3, lead(norm, 3) OVER w AS n3
        FROM keyed
        WINDOW w AS (PARTITION BY substring(norm, 1, {D.SN_BLOCK_LEN})
                     ORDER BY doc_id)
    ), pairs AS (
        SELECT doc_id_a, b1 AS doc_id_b,
               CAST(levenshtein(norm, n1) AS BIGINT) AS dist
        FROM leads WHERE b1 IS NOT NULL
        UNION ALL
        SELECT doc_id_a, b2, CAST(levenshtein(norm, n2) AS BIGINT)
        FROM leads WHERE b2 IS NOT NULL
        UNION ALL
        SELECT doc_id_a, b3, CAST(levenshtein(norm, n3) AS BIGINT)
        FROM leads WHERE b3 IS NOT NULL
    )
    SELECT doc_id_a, doc_id_b, dist
    FROM pairs
    WHERE dist <= {D.SN_MAX_DIST}
    ORDER BY doc_id_a, doc_id_b
"""


def _strata_case() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN '{lt}'" for lang, lt in C.STRATA_PREFIX_LT.items()
    )
    return f"CASE lang {whens} ELSE '{C.STRATA_DEFAULT_LT}' END"


ORACLE_SQL["x85_stratified_sample"] = f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substring(sha256(CAST(doc_id AS VARCHAR)), 1, 2) < {_strata_case()}
    ORDER BY doc_id
"""

ORACLE_SQL["x86_price_histogram"] = f"""
    SELECT CAST(floor(o_totalprice / {AN.HIST_BIN_WIDTH}) AS BIGINT) AS bin_id,
           COUNT(*) AS n_orders,
           ROUND(MIN(o_totalprice), 6) AS min_price,
           ROUND(MAX(o_totalprice), 6) AS max_price
    FROM orders
    GROUP BY 1
    ORDER BY 1
"""

ORACLE_SQL["x87_basket_pairs"] = f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS support
    FROM basket a
    JOIN basket b ON b.l_orderkey = a.l_orderkey
                 AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {AN.BASKET_MIN_SUPPORT}
    ORDER BY part_a, part_b
"""

ORACLE_SQL["x88_key_skew_spectrum"] = """
    WITH per_key AS (
        SELECT o_custkey, COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey
    )
    SELECT n_orders, COUNT(*) AS n_customers
    FROM per_key
    GROUP BY n_orders
    ORDER BY n_orders
"""


ORACLE_SQL["x89_stream_sliding"] = """
    -- append-mode sliding replay emits watermark-finalized windows:
    -- window_end <= ms-truncated max(ts) - 2h (same rule as x36)
    WITH wm AS (
        SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS w
        FROM events
    ), expanded AS (
        SELECT unnest([time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
                       time_bucket(INTERVAL '30 minutes', ts)]) AS window_start,
               event_type, value, ts
        FROM events
    ), agg AS (
        SELECT window_start, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM expanded
        WHERE ts >= window_start AND ts < window_start + INTERVAL '1 hour'
        GROUP BY window_start, event_type
    )
    SELECT agg.* FROM agg, wm
    WHERE agg.window_start + INTERVAL 1 HOUR <= wm.w
    ORDER BY window_start, event_type
"""

ORACLE_SQL["x90_stream_dedup"] = """
    -- the stream input is events DUPLICATED; exact dedup on event_id
    -- must reproduce the plain batch aggregate
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


ORACLE_SQL["x91_doc_perplexity"] = """
    WITH tris AS (
        SELECT doc_id,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                 t -> len(t) > 0) AS toks
              FROM documents),
             unnest(range(1, len(toks) - 1)) AS r(i)
    ), c3 AS (
        SELECT sh, COUNT(*) AS c3 FROM tris GROUP BY sh
    ), probs AS (
        SELECT sh,
               CAST(c3 AS DOUBLE)
               / SUM(c3) OVER (PARTITION BY regexp_replace(sh, ' [a-z]+$', '')) AS p
        FROM c3
    )
    SELECT t.doc_id,
           COUNT(*) AS n_trigrams,
           ROUND(CAST(SUM(CAST(-ln(p.p) AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS cross_entropy
    FROM tris t JOIN probs p USING (sh)
    GROUP BY t.doc_id
    ORDER BY t.doc_id
"""

ORACLE_SQL["x92_share_of_total"] = """
    WITH rev AS (
        SELECT r_name, n_name,
               SUM(CAST(l_extendedprice * (1.0 - l_discount)
                        AS DECIMAL(38,6))) AS rev_dec
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation   ON n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = n_regionkey
        GROUP BY r_name, n_name
    )
    SELECT r_name, n_name,
           CAST(rev_dec AS DOUBLE) AS revenue,
           ROUND(CAST(rev_dec AS DOUBLE)
                 / CAST(SUM(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE),
                 6) AS share,
           CAST(rank() OVER (PARTITION BY r_name
                             ORDER BY rev_dec DESC, n_name) AS BIGINT) AS rnk
    FROM rev
    ORDER BY r_name, n_name
"""

ORACLE_SQL["x93_string_agg"] = """
    SELECT l_orderkey,
           COUNT(*) AS n_parts,
           string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_partkey) AS parts
    FROM lineitem
    GROUP BY l_orderkey
    ORDER BY l_orderkey
"""


ORACLE_SQL["x94_measure_corr"] = """
    WITH s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sq,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sp,
               CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sd,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sqq,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS spp,
               CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sdd,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sqp,
               CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sqd,
               CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS spd
        FROM lineitem
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           ROUND((n * sqp - sq * sp)
                 / (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)), 6)
               AS corr_qty_price,
           ROUND((n * sqd - sq * sd)
                 / (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd)), 6)
               AS corr_qty_disc,
           ROUND((n * spd - sp * sd)
                 / (sqrt(n * spp - sp * sp) * sqrt(n * sdd - sd * sd)), 6)
               AS corr_price_disc
    FROM s
"""

ORACLE_SQL["x95_dim_stats"] = """
    WITH vals AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    )
    SELECT pos,
           COUNT(*) AS n_vectors,
           ROUND(MIN(v), 6) AS min_v,
           ROUND(MAX(v), 6) AS max_v,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6) AS mean_v
    FROM vals
    GROUP BY pos
    ORDER BY pos
"""


ORACLE_SQL["x96_incremental_dedup"] = f"""
    WITH shingles AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   )) AS sh
            FROM (SELECT doc_id,
                         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                     t -> len(t) > 0) AS toks
                  FROM documents)
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT b.doc_id AS new_doc, c.doc_id AS dup_doc, COUNT(*) AS inter
        FROM shingles c
        JOIN shingles b ON b.sh = c.sh
        WHERE c.doc_id < {D.INCR_SPLIT_DOC_ID}
          AND b.doc_id >= {D.INCR_SPLIT_DOC_ID}
        GROUP BY b.doc_id, c.doc_id
    )
    SELECT new_doc, dup_doc,
           ROUND(CAST(inter AS DOUBLE) / (sn.n_sh + sd.n_sh - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sn ON sn.doc_id = new_doc
    JOIN sizes sd ON sd.doc_id = dup_doc
    WHERE CAST(inter AS DOUBLE) / (sn.n_sh + sd.n_sh - inter) >= 0.8
    ORDER BY new_doc, dup_doc
"""


ORACLE_SQL["x97_shipping_priority"] = f"""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
           CAST(rev_dec AS DOUBLE) AS revenue
    FROM (
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               SUM(CAST(l_extendedprice * (1.0 - l_discount)
                        AS DECIMAL(38,6))) AS rev_dec
        FROM lineitem
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        WHERE c_mktsegment = '{RX.Q3_SEGMENT}'
          AND o_orderdate < TIMESTAMP '{RX.Q3_CUTOFF}'
          AND l_shipdate  > TIMESTAMP '{RX.Q3_CUTOFF}'
        GROUP BY 1, 2, 3
    )
    ORDER BY rev_dec DESC, l_orderkey
    LIMIT {RX.Q3_TOP_N}
"""

ORACLE_SQL["x98_returned_items"] = f"""
    WITH per_cust AS (
        SELECT o_custkey,
               SUM(CAST(l_extendedprice * (1.0 - l_discount)
                        AS DECIMAL(38,6))) AS rev_dec
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '{RX.Q10_CUTOFF}'
        GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, n_name,
           CAST(rev_dec AS DOUBLE) AS revenue
    FROM per_cust
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    ORDER BY rev_dec DESC, c_custkey
    LIMIT {RX.Q10_TOP_N}
"""

ORACLE_SQL["x99_cumulative_users"] = """
    WITH fd AS (
        SELECT user_id, date_trunc('day', MIN(ts)) AS day
        FROM events GROUP BY user_id
    ), daily AS (
        SELECT day, COUNT(*) AS n_new FROM fd GROUP BY day
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           n_new,
           CAST(SUM(n_new) OVER (ORDER BY day
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_users
    FROM daily
    ORDER BY day
"""


ORACLE_SQL["x100_feature_matrix"] = f"""
    WITH q AS ({_quality_oracle()}),
    l AS ({_lang_id_oracle()}),
    e AS ({ORACLE_SQL["x81_token_entropy"]})
    SELECT q.doc_id,
           q.alpha_ratio, q.digit_ratio, q.stopword_ratio,
           q.n_tokens, q.quality,
           l.lang, l.pred_lang,
           CAST(l.lang = l.pred_lang AS BIGINT) AS lang_match,
           e.n_distinct, e.entropy
    FROM q
    JOIN l ON l.doc_id = q.doc_id
    LEFT JOIN e ON e.doc_id = q.doc_id
    ORDER BY q.doc_id
"""

ORACLE_SQL["x101_corpus_shuffle"] = """
    WITH k AS (
        SELECT doc_id, sha256(CAST(doc_id AS VARCHAR) || ':shuffle') AS key
        FROM documents
    )
    SELECT doc_id,
           CAST(strpos('0123456789abcdef', substr(key, 1, 1)) - 1 AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY strpos('0123456789abcdef', substr(key, 1, 1))
               ORDER BY key) AS BIGINT) AS pos
    FROM k
    ORDER BY shard, pos
"""

ORACLE_SQL["x102_weighted_sample"] = f"""
    WITH t AS (
        SELECT doc_id, lang, n_chars,
               substr(sha256(CAST(doc_id AS VARCHAR) || ':w'), 1, 4) AS u,
               CAST(floor(least(n_chars, {C.WEIGHTED_SAMPLE_FULL_CHARS}) * 65536.0
                          / {C.WEIGHTED_SAMPLE_FULL_CHARS}) AS INTEGER) - 1 AS ti
        FROM documents
    )
    SELECT doc_id, lang, n_chars
    FROM t
    WHERE ti >= 0 AND u <= printf('%04x', ti)
    ORDER BY doc_id
"""

ORACLE_SQL["x103_rolling_revenue"] = """
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev_dec
        FROM orders
        GROUP BY 1
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(rev_dec AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(rev_dec) OVER w7 AS DOUBLE)
                 / COUNT(*) OVER w7, 6) AS ma7,
           CAST(MAX(rev_dec) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS cum_max
    FROM daily
    WINDOW w7 AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day
"""

ORACLE_SQL["x104_regr_by_group"] = """
    WITH m AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    ORDER BY l_returnflag
"""

ORACLE_SQL["x105_bloom_join"] = f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                    AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderpriority = '{SC.BLOOM_PRIORITY}'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""

ORACLE_SQL["x106_column_profile"] = """
    SELECT * FROM (
        SELECT 'o_orderkey' AS column_name,
               SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
               COUNT(DISTINCT o_orderkey) AS n_distinct,
               CAST(MIN(o_orderkey) AS VARCHAR) AS min_str,
               CAST(MAX(o_orderkey) AS VARCHAR) AS max_str
        FROM orders
        UNION ALL
        SELECT 'o_custkey',
               SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT o_custkey),
               CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus',
               SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT o_orderstatus),
               MIN(o_orderstatus), MAX(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice',
               SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT o_totalprice),
               CAST(MIN(o_totalprice) AS VARCHAR), CAST(MAX(o_totalprice) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority',
               SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
               COUNT(DISTINCT o_orderpriority),
               MIN(o_orderpriority), MAX(o_orderpriority)
        FROM orders
    )
    ORDER BY column_name
"""

ORACLE_SQL["x107_keyword_search"] = f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), dl AS (SELECT doc_id, len(toks) AS dl FROM toks),
    consts AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    matched AS (
        SELECT doc_id, tok FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
        WHERE tok IN ({", ".join(f"'{t}'" for t in T.SEARCH_QUERY)})
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM matched GROUP BY doc_id, tok),
    dfr AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM matched GROUP BY tok),
    per_term AS (
        SELECT tf.doc_id,
               ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                     * CAST(tf AS DOUBLE) * {T.BM25_K1 + 1.0}
                     / (CAST(tf AS DOUBLE)
                        + {T.BM25_K1} * ({1.0 - T.BM25_B} + {T.BM25_B} * dl / avgdl)), 6)
                   AS term_score
        FROM tf
        JOIN dfr USING (tok)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN consts
    )
    SELECT doc_id,
           COUNT(*) AS n_terms_hit,
           CAST(SUM(CAST(term_score AS DECIMAL(38,6))) AS DOUBLE) AS score
    FROM per_term
    GROUP BY doc_id
    ORDER BY score DESC, doc_id ASC
    LIMIT {T.SEARCH_TOP_N}
"""

ORACLE_SQL["x108_rolling_anomaly"] = f"""
    WITH w AS (
        SELECT event_id, user_id, value,
               COUNT(*) OVER f AS n_hist,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER f AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(38,6))) OVER f AS DOUBLE) AS sxx
        FROM events
        WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {AN.ANOMALY_WINDOW} PRECEDING AND 1 PRECEDING)
    ), m AS (
        SELECT event_id, user_id, value,
               CAST(n_hist AS BIGINT) AS n_hist,
               ROUND(sx / n_hist, 6) AS mean_prev,
               ROUND(sqrt(greatest((sxx - sx * sx / n_hist) / (n_hist - 1), 0.0)), 6)
                   AS std_prev
        FROM w
    )
    SELECT event_id, user_id, value, n_hist, mean_prev, std_prev
    FROM m
    WHERE n_hist >= {AN.ANOMALY_MIN_N}
      AND value > mean_prev + {AN.ANOMALY_Z} * std_prev
    ORDER BY event_id
"""

ORACLE_SQL["x109_shard_manifest"] = f"""
    WITH k AS (
        SELECT n_chars,
               sha256(CAST(doc_id AS VARCHAR) || ':shuffle') AS key,
               CAST(len(regexp_extract_all(text, '{C.BPE_REGEX.replace("'", "''")}'))
                    AS BIGINT) AS n_bpe
        FROM documents
    )
    SELECT CAST(strpos('0123456789abcdef', substr(key, 1, 1)) - 1 AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           SUM(n_chars) AS total_chars,
           SUM(n_bpe) AS total_bpe_tokens,
           CAST(SUM(CAST(CAST('0x' || substr(key, 1, 8) AS BIGINT)
                    AS DECIMAL(38,0))) AS BIGINT) AS fingerprint
    FROM k
    GROUP BY 1
    ORDER BY shard
"""

ORACLE_SQL["x110_time_range_rolling"] = f"""
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER f AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER f AS DOUBLE) AS sum_1h
    FROM events
    WINDOW f AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                 RANGE BETWEEN {WIN.RANGE_WINDOW_MS} PRECEDING AND CURRENT ROW)
    ORDER BY event_id
"""

ORACLE_SQL["x111_corpus_drift"] = f"""
    WITH terms AS (
        SELECT lang, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                        t -> len(t) > 0)) AS tok
        FROM documents
        WHERE lang IN ('{T.DRIFT_LANG_A}', '{T.DRIFT_LANG_B}')
    ),
    counts AS (
        SELECT tok,
               SUM(CASE WHEN lang = '{T.DRIFT_LANG_A}' THEN 1 ELSE 0 END) AS cnt_a,
               SUM(CASE WHEN lang = '{T.DRIFT_LANG_B}' THEN 1 ELSE 0 END) AS cnt_b
        FROM terms GROUP BY tok
    ),
    consts AS (
        SELECT CAST(SUM(cnt_a) AS DOUBLE) AS tot_a,
               CAST(SUM(cnt_b) AS DOUBLE) AS tot_b,
               CAST(COUNT(*) AS DOUBLE) AS vocab
        FROM counts
    ),
    scored AS (
        SELECT tok,
               CAST(cnt_a AS BIGINT) AS cnt_a,
               CAST(cnt_b AS BIGINT) AS cnt_b,
               ROUND((cnt_a + 1.0) / (tot_a + vocab), 6) AS p_a,
               ROUND((cnt_b + 1.0) / (tot_b + vocab), 6) AS p_b,
               ROUND((cnt_a + 1.0) / (tot_a + vocab)
                     * ln(((cnt_a + 1.0) / (tot_a + vocab))
                          / ((cnt_b + 1.0) / (tot_b + vocab))), 6) AS kl_contrib
        FROM counts CROSS JOIN consts
    )
    SELECT * FROM scored
    ORDER BY abs(kl_contrib) DESC, tok ASC
    LIMIT {T.DRIFT_TOP_N}
"""

ORACLE_SQL["x112_heavy_hitters"] = f"""
    WITH terms AS (
        SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM terms)
    SELECT tok,
           COUNT(*) AS cnt,
           CAST((SELECT n FROM tot) AS BIGINT) AS n_total
    FROM terms
    GROUP BY tok
    HAVING COUNT(*) > (SELECT n FROM tot) / {SK.HH_CAPACITY}
    ORDER BY cnt DESC, tok ASC
"""

ORACLE_SQL["x113_fuzzy_match"] = """
    WITH names AS (
        SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_parts
        FROM part GROUP BY p_name
    )
    SELECT a.name AS name_a, b.name AS name_b,
           a.n_parts AS n_a, b.n_parts AS n_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
    FROM names a JOIN names b ON a.name < b.name
    WHERE levenshtein(a.name, b.name) <= 1
    ORDER BY name_a, name_b
"""

ORACLE_SQL["x114_oov_rate"] = f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
            ORDER BY c DESC, tok ASC LIMIT {T.OOV_VOCAB_SIZE})
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           ROUND(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id ORDER BY doc_id
"""

ORACLE_SQL["x115_ngram_novelty"] = """
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ),
    shingles AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks)
    ),
    firsts AS (SELECT sh, MIN(doc_id) AS first_doc FROM shingles GROUP BY sh)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM shingles s JOIN firsts f USING (sh)
    GROUP BY s.doc_id ORDER BY doc_id
"""

ORACLE_SQL["x119_compaction_plan"] = f"""
    WITH files AS (
        SELECT CAST(floor(o_orderkey / {L.COMPACT_FILE_GROUP}) AS BIGINT) AS file_id,
               CAST(SUM(length(o_orderpriority) + length(o_orderstatus) + 48)
                    AS BIGINT) AS size_bytes
        FROM orders GROUP BY 1
    )
    SELECT file_id, size_bytes,
           CAST(floor((SUM(size_bytes) OVER (ORDER BY file_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - size_bytes) / {L.COMPACT_TARGET_BYTES}) AS BIGINT) AS bin_id
    FROM files ORDER BY file_id
"""

_RANGE_FRACS = ", ".join(
    str(i / L.RANGE_N_BUCKETS) for i in range(1, L.RANGE_N_BUCKETS)
)
ORACLE_SQL["x120_range_boundaries"] = f"""
    WITH q AS (SELECT quantile_cont(o_totalprice, [{_RANGE_FRACS}]) AS bs FROM orders),
         idx AS (SELECT unnest(range(0, {L.RANGE_N_BUCKETS - 1})) AS boundary_id)
    SELECT CAST(boundary_id AS INT) AS boundary_id,
           ROUND(bs[CAST(boundary_id AS INT) + 1], 6) AS split_value
    FROM q, idx ORDER BY boundary_id
"""

_Z_TERMS = " + ".join(
    f"((((l_partkey & 255) >> {i}) & 1) << {2 * i})"
    f" + ((((l_suppkey & 255) >> {i}) & 1) << {2 * i + 1})"
    for i in range(L.Z_BITS)
)
ORACLE_SQL["x124_zorder_audit"] = f"""
    SELECT ({_Z_TERMS}) >> {L.Z_BLOCK_SHIFT} AS block_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
    FROM lineitem GROUP BY 1 ORDER BY block_id
"""

ORACLE_SQL["x127_equidepth_hist"] = f"""
    WITH t AS (
        SELECT l_extendedprice,
               ntile({L.HIST_N_BUCKETS}) OVER (
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bucket
        FROM lineitem
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(MIN(l_extendedprice), 6) AS lo,
           ROUND(MAX(l_extendedprice), 6) AS hi
    FROM t GROUP BY bucket ORDER BY bucket
"""

_SIG_MINS = ",\n           ".join(
    f"MIN(sha256('{k}:' || sh)) AS sig_{k}" for k in range(D.SIG_K)
)
_SIG_CTES = """toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks)
    )"""
ORACLE_SQL["x116_minhash_signatures"] = f"""
    WITH {_SIG_CTES}
    SELECT doc_id,
           {_SIG_MINS}
    FROM shingles GROUP BY doc_id ORDER BY doc_id
"""

_BAND_SELECTS = "\n        UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, "
    + " || '|' || ".join(
        f"sig_{b * D.SIG_BAND_ROWS + r}" for r in range(D.SIG_BAND_ROWS)
    )
    + " AS band_key FROM sigs"
    for b in range(D.SIG_K // D.SIG_BAND_ROWS)
)
ORACLE_SQL["x117_minhash_band_pairs"] = f"""
    WITH {_SIG_CTES},
    sigs AS (
        SELECT doc_id,
               {_SIG_MINS}
        FROM shingles GROUP BY doc_id
    ),
    bands AS (
        {_BAND_SELECTS}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
"""

ORACLE_SQL["x121_pmi_bigrams"] = f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ),
    uni AS (
        SELECT unnest(toks) AS tok FROM toks
    ),
    ucnt AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
    bi AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM toks
    ),
    bcnt AS (
        SELECT string_split(bg, ' ')[1] AS tok_a,
               string_split(bg, ' ')[2] AS tok_b,
               COUNT(*) AS c_ab
        FROM bi GROUP BY bg
        HAVING COUNT(*) >= {T.PMI_MIN_COUNT}
    ),
    totals AS (
        SELECT CAST(SUM(len(toks)) AS DOUBLE) AS n_uni,
               CAST(SUM(greatest(len(toks) - 1, 0)) AS DOUBLE) AS n_bi
        FROM toks
    )
    SELECT tok_a, tok_b, CAST(c_ab AS BIGINT) AS c_ab,
           ROUND(ln((c_ab / n_bi) / ((ua.c / n_uni) * (ub.c / n_uni))), 6) AS pmi
    FROM bcnt
    JOIN ucnt ua ON ua.tok = tok_a
    JOIN ucnt ub ON ub.tok = tok_b
    CROSS JOIN totals
    ORDER BY pmi DESC, tok_a ASC, tok_b ASC
    LIMIT {T.PMI_TOP_N}
"""

ORACLE_SQL["x123_first_touch"] = """
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN rn = 1 THEN event_type END) AS channel,
               SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END) AS revenue
        FROM (
            SELECT user_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events)
        GROUP BY user_id
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(SUM(revenue), 4) AS revenue,
           ROUND(ROUND(SUM(revenue), 4) / COUNT(*), 6) AS revenue_per_user
    FROM per_user GROUP BY channel ORDER BY channel
"""

ORACLE_SQL["x125_sole_return_supplier"] = """
    WITH per_os AS (
        SELECT l_orderkey, l_suppkey,
               MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
        FROM lineitem GROUP BY l_orderkey, l_suppkey
    ),
    per_order AS (
        SELECT *,
               COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
               SUM(has_r) OVER (PARTITION BY l_orderkey) AS n_r_supp
        FROM per_os
    )
    SELECT s_name AS supplier, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM per_order JOIN supplier ON l_suppkey = s_suppkey
    WHERE n_supp >= 2 AND n_r_supp = 1 AND has_r = 1
    GROUP BY s_name
    ORDER BY n_orders DESC, supplier ASC
    LIMIT 20
"""

ORACLE_SQL["x126_idle_rich_customers"] = """
    WITH oc AS (
        SELECT o_custkey AS c_custkey, COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(c_acctbal), 4) AS total_balance
    FROM customer
    JOIN oc USING (c_custkey)
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
      AND n_orders < (SELECT AVG(n_orders) FROM oc) * 0.5
    GROUP BY n_name ORDER BY nation
"""

ORACLE_SQL["x122_media_dedup"] = f"""
    SELECT sha256(CAST(payload AS VARCHAR)) AS payload_sha, kind,
           CAST(MIN(media_id) AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST((COUNT(*) - 1) * MIN(octet_length(payload)) AS BIGINT)
               AS reclaim_bytes
    FROM read_parquet('{MM.DUP_FIXTURE_PATH}/*.parquet')
    GROUP BY 1, 2 HAVING COUNT(*) > 1
    ORDER BY canonical_id
"""

ORACLE_SQL["x118_stream_enrich"] = """
    WITH profile AS (
        SELECT user_id, CAST(floor(COUNT(*) / 10) AS BIGINT) AS activity_tier
        FROM events GROUP BY user_id
    )
    SELECT activity_tier,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           ROUND(SUM(value), 4) AS total_value
    FROM events e JOIN profile USING (user_id)
    WHERE event_type = 'purchase'
    GROUP BY activity_tier ORDER BY activity_tier
"""

ORACLE_SQL["x128_centroid_similarity"] = """
    WITH cent AS (
        SELECT label, dim,
               CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*) AS m
        FROM (
            SELECT label, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS dim
            FROM embeddings)
        GROUP BY label, dim
    )
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(SUM(a.m * b.m) / (sqrt(SUM(a.m * a.m)) * sqrt(SUM(b.m * b.m))), 6)
               AS cosine
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    GROUP BY a.label, b.label
    ORDER BY label_a, label_b
"""

ORACLE_SQL["x129_pit_join"] = """
    WITH hist AS (
        SELECT user_id AS h_user, value AS prior_value,
               ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
        FROM events
    )
    SELECT e.user_id, e.event_id,
           e.value AS purchase_value,
           ROUND(h.prior_value, 6) AS prior_value
    FROM events e
    LEFT JOIN hist h ON h.h_user = e.user_id AND h.valid_from < e.ts
                    AND (h.valid_to IS NULL OR e.ts <= h.valid_to)
    WHERE e.event_type = 'purchase'
    ORDER BY e.user_id, e.event_id
"""

ORACLE_SQL["x130_covariance_matrix"] = """
    WITH ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    )
    SELECT a.dim AS dim_i, b.dim AS dim_j,
           ROUND((CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,12))) AS DOUBLE)
                  - CAST(SUM(CAST(a.x AS DECIMAL(38,12))) AS DOUBLE)
                    * CAST(SUM(CAST(b.x AS DECIMAL(38,12))) AS DOUBLE)
                    / COUNT(*))
                 / COUNT(*), 8) AS cov
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.dim <= b.dim
    GROUP BY 1, 2 ORDER BY dim_i, dim_j
"""

ORACLE_SQL["x131_pareto_frontier"] = """
    SELECT p_partkey, p_name, ROUND(p_retailprice, 2) AS price, p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
    ORDER BY price, p_partkey
"""

ORACLE_SQL["x132_conversion_window"] = f"""
    WITH s AS (
        SELECT user_id, event_id AS signup_id, ts AS s_ts
        FROM events WHERE event_type = 'signup'
    ),
    p AS (SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
    probed AS (
        SELECT s.signup_id, s.s_ts,
               MAX(CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END) AS converted
        FROM s LEFT JOIN p ON p.user_id = s.user_id AND p.p_ts > s.s_ts
                          AND p.p_ts <= s.s_ts
                                + INTERVAL {AN.CONVERSION_WINDOW_HOURS} HOURS
        GROUP BY 1, 2
    )
    SELECT CAST(hour(s_ts) AS INT) AS signup_hour,
           CAST(COUNT(*) AS BIGINT) AS n_signups,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           ROUND(SUM(converted) / CAST(COUNT(*) AS DOUBLE), 6) AS rate
    FROM probed GROUP BY 1 ORDER BY signup_hour
"""

ORACLE_SQL["x133_bpe_merge_step"] = f"""
    WITH toks AS (
        SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(tok)),
                   i -> substr(tok, CAST(i AS INT), 2))) AS pair
        FROM toks
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair ASC LIMIT {T.BPE_TOP_PAIRS}
"""

ORACLE_SQL["x134_stateful_totals"] = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
"""

ORACLE_SQL["x135_stream_left_join"] = """
    WITH mx AS (
        SELECT least(
            (SELECT date_trunc('milliseconds', MAX(ts)) FROM events
              WHERE event_type = 'purchase'),
            (SELECT date_trunc('milliseconds', MAX(ts)) FROM events
              WHERE event_type = 'click')
        ) - INTERVAL 1 HOUR AS cut
    ),
    p AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id AS c_user, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    )
    SELECT p.user_id, p.purchase_id, c.click_id
    FROM p CROSS JOIN mx
    LEFT JOIN c ON c.c_user = p.user_id AND c.click_ts <= p.purchase_ts
               AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE
    WHERE c.click_id IS NOT NULL OR p.purchase_ts < mx.cut
    ORDER BY purchase_id, click_id
"""

ORACLE_SQL["x136_event_paths"] = f"""
    WITH seq AS (
        SELECT event_type,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || e2 || '>' || e3 AS path,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1 ORDER BY cnt DESC, path ASC LIMIT {AN.PATH_TOP_N}
"""

ORACLE_SQL["x137_json_struct_stats"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN json_valid(props) AND json_type(props) = 'OBJECT'
                         THEN 0 ELSE 1 END) AS BIGINT)
               AS n_unparsed,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS BIGINT)), 6) AS k_avg
    FROM events GROUP BY event_type ORDER BY event_type
"""

ORACLE_SQL["x138_fk_audit"] = """
    SELECT 'customer.nationkey' AS fk,
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_child,
           CAST((SELECT COUNT(*) FROM customer c
                  WHERE NOT EXISTS (SELECT 1 FROM nation
                                     WHERE n_nationkey = c.c_nationkey)) AS BIGINT)
               AS n_orphans
    UNION ALL
    SELECT 'lineitem.orderkey',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem.partkey',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.suppkey',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.custkey',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'supplier.nationkey',
           (SELECT COUNT(*) FROM supplier),
           (SELECT COUNT(*) FROM supplier s
             WHERE NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = s.s_nationkey))
    ORDER BY fk
"""

ORACLE_SQL["x139_winsorize"] = f"""
    WITH bounds AS (
        SELECT event_type,
               quantile_cont(value, {AN.WINSOR_LO}) AS lo,
               quantile_cont(value, {AN.WINSOR_HI}) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(AVG(value), 6) AS mean_raw,
           ROUND(AVG(least(greatest(value, lo), hi)), 6) AS mean_winsorized,
           CAST(SUM(CASE WHEN value < lo OR value > hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped
    FROM events e JOIN bounds USING (event_type)
    GROUP BY e.event_type ORDER BY event_type
"""

ORACLE_SQL["x140_robust_outliers"] = f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, quantile_cont(ad, 0.5) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           ROUND(MIN(d.med), 6) AS median,
           ROUND(MIN(mm.mad), 6) AS mad,
           CAST(SUM(CASE WHEN abs(d.value - d.med)
                              > {AN.ROBUST_Z_CUT} * {AN.MAD_SCALE} * mm.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM dev d JOIN mad mm USING (event_type)
    GROUP BY d.event_type ORDER BY event_type
"""

ORACLE_SQL["x141_split_manifest"] = f"""
    SELECT CASE WHEN substring(sha256(CAST(doc_id AS VARCHAR)), 1, 2)
                     < '{C.SPLIT_TRAIN_LT}' THEN 'train'
                WHEN substring(sha256(CAST(doc_id AS VARCHAR)), 1, 2)
                     < '{C.SPLIT_VAL_LT}' THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1, 2 ORDER BY split, lang
"""

ORACLE_SQL["x142_skipping_estimate"] = f"""
    WITH nat AS (
        SELECT CAST(floor(l_orderkey / {L.COMPACT_FILE_GROUP}) AS BIGINT) AS file_id,
               COUNT(*) AS n_rows, MAX(l_shipdate) AS max_ship
        FROM lineitem GROUP BY 1
    ),
    ranked AS (
        SELECT l_shipdate,
               row_number() OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber)
                   AS rn
        FROM lineitem
    ),
    sorted_ AS (
        SELECT CAST(floor((rn - 1) / {L.SKIP_ROWS_PER_FILE}) AS BIGINT) AS file_id,
               COUNT(*) AS n_rows, MAX(l_shipdate) AS max_ship
        FROM ranked GROUP BY 1
    ),
    verdicts AS (
        SELECT 'natural' AS layout,
               max_ship < TIMESTAMP '{L.SKIP_PRED_DATE} 00:00:00' AS skippable,
               n_rows
        FROM nat
        UNION ALL
        SELECT 'shipdate_sorted',
               max_ship < TIMESTAMP '{L.SKIP_PRED_DATE} 00:00:00', n_rows
        FROM sorted_
    )
    SELECT layout, skippable,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows
    FROM verdicts GROUP BY 1, 2 ORDER BY layout, skippable
"""

def _pagerank_dangling_oracle(
    damping: float = G.PR_DAMPING, n_iter: int = G.PR_ITERS
) -> str:
    """x143's chained-CTE replay: same decimal/double expression shape
    as _pagerank_oracle plus a per-round dangling-mass CTE (rank sum
    over nodes with no out-edges, redistributed uniformly)."""
    t = repr(1.0 - damping)
    rounds = []
    for i in range(1, n_iter + 1):
        rounds.append(f"""dg{i} AS MATERIALIZED (
        SELECT CAST(COALESCE(SUM(CAST(p.rank AS DECIMAL(38,18))),
                             CAST(0 AS DECIMAL(38,18))) AS DOUBLE) AS dm
        FROM pr{i - 1} p LEFT JOIN outd od ON od.u = p.node
        WHERE od.u IS NULL
    ), pr{i} AS MATERIALIZED (
        SELECT n.node,
               CAST({t} AS DOUBLE) / nn.n
               + CAST({damping!r} AS DOUBLE)
                 * (COALESCE(CAST(SUM(CAST(p.rank / od.deg AS DECIMAL(38,18)))
                                  AS DOUBLE), CAST(0 AS DOUBLE))
                    + dg{i}.dm / nn.n) AS rank
        FROM nodes n
        CROSS JOIN nn
        CROSS JOIN dg{i}
        LEFT JOIN edges e ON e.v = n.node
        LEFT JOIN pr{i - 1} p ON p.node = e.u
        LEFT JOIN outd od ON od.u = e.u
        GROUP BY n.node, nn.n, dg{i}.dm
    )""")
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey AS u,
               l_suppkey + {G.SUPPLIER_NODE_OFFSET} AS v
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    nodes AS (SELECT u AS node FROM edges UNION SELECT v FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outd AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
            FROM nodes CROSS JOIN nn),
    {rounds_sql}
    SELECT node, ROUND(rank, 6) AS rank
    FROM pr{n_iter}
    ORDER BY node
"""


ORACLE_SQL["x143_pagerank_dangling"] = _pagerank_dangling_oracle()


# ---------------------------------------------------------------------------
# round-4 wave: calendar growth, sketch calibration, k-core, JSONL
# roundtrip, multi-touch attribution
# ---------------------------------------------------------------------------

ORACLE_SQL["x144_monthly_growth"] = """
    WITH m AS (
        SELECT date_trunc('month', l_shipdate) AS month,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,6))) AS DOUBLE) AS rev
        FROM lineitem GROUP BY 1
    )
    SELECT CAST(a.month AS DATE) AS month,
           ROUND(a.rev, 4) AS revenue,
           ROUND((a.rev - b.rev) / b.rev, 6) AS mom_growth
    FROM m a LEFT JOIN m b ON a.month = b.month + INTERVAL 1 MONTH
    ORDER BY month
"""

_EST_TERMS = " + ".join(
    f"(CASE WHEN sa.sig_{k} = sb.sig_{k} THEN 1 ELSE 0 END)"
    for k in range(D.SIG_K)
)
ORACLE_SQL["x145_minhash_calibration"] = f"""
    WITH {_SIG_CTES},
    sigs AS (
        SELECT doc_id,
               {_SIG_MINS}
        FROM shingles GROUP BY doc_id
    ),
    bands AS (
        {_BAND_SELECTS}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    est_t AS (
        SELECT p.doc_a, p.doc_b,
               ({_EST_TERMS}) / CAST({D.SIG_K} AS DOUBLE) AS est
        FROM pairs p
        JOIN sigs sa ON sa.doc_id = p.doc_a
        JOIN sigs sb ON sb.doc_id = p.doc_b
    ),
    inter_t AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS i
        FROM pairs p
        JOIN shingles x ON x.doc_id = p.doc_a
        JOIN shingles y ON y.doc_id = p.doc_b AND y.sh = x.sh
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id)
    SELECT e.doc_a, e.doc_b,
           ROUND(e.est, 6) AS est_jaccard,
           ROUND(CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i), 6) AS jaccard,
           ROUND(ABS(e.est - CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i)), 6)
               AS abs_err
    FROM est_t e
    JOIN inter_t i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sizes na ON na.doc_id = e.doc_a
    JOIN sizes nb ON nb.doc_id = e.doc_b
    ORDER BY e.doc_a, e.doc_b
"""


def _kcore_oracle(k: int = G.KCORE_K, rounds: int = G.KCORE_ROUNDS) -> str:
    """x146's chained-CTE replay: fixed peeling rounds (MATERIALIZED —
    each e_i is referenced three times; inlining would compound)."""
    cte = []
    for i in range(1, rounds + 1):
        cte.append(f"""d{i} AS (
        SELECT node, COUNT(*) AS deg
        FROM (SELECT u AS node FROM e{i - 1}
              UNION ALL SELECT v FROM e{i - 1}) t
        GROUP BY node
    ), k{i} AS (SELECT node FROM d{i} WHERE deg >= {k}),
    e{i} AS MATERIALIZED (
        SELECT u, v FROM e{i - 1}
        WHERE u IN (SELECT node FROM k{i}) AND v IN (SELECT node FROM k{i})
    )""")
    rounds_sql = ",\n    ".join(cte)
    return f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks)
    ), pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    pairs AS (
        SELECT doc_a, doc_b
        FROM pair_inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.8
    ),
    e0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs),
    {rounds_sql}
    SELECT node AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
    FROM (SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds}) t
    GROUP BY node ORDER BY doc_id
"""


ORACLE_SQL["x146_kcore"] = _kcore_oracle()

ORACLE_SQL["x147_jsonl_roundtrip"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_value,
           MIN(event_id) AS min_event_id,
           MAX(event_id) AS max_event_id
    FROM events GROUP BY event_type ORDER BY event_type
"""

ORACLE_SQL["x148_multitouch_attribution"] = """
    WITH fp AS (
        SELECT user_id, ts AS p_ts, value AS p_value
        FROM (
            SELECT user_id, ts, event_id, value,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id, value) AS rn
            FROM events WHERE event_type = 'purchase') t
        WHERE rn = 1
    ),
    touches AS (
        SELECT e.user_id, e.event_type, e.ts, e.event_id, f.p_value
        FROM events e JOIN fp f ON f.user_id = e.user_id
        WHERE e.event_type IN ('view', 'click') AND e.ts < f.p_ts
    ),
    ranked AS (
        SELECT user_id, event_type, p_value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM touches
    ),
    weighted AS (
        SELECT event_type,
               CASE WHEN rn = 1 THEN 'first'
                    WHEN rn = n THEN 'last'
                    ELSE 'middle' END AS position,
               CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
                    WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
                    WHEN rn = 1 THEN CAST(0.4 AS DOUBLE)
                    WHEN rn = n THEN CAST(0.4 AS DOUBLE)
                    ELSE CAST(0.2 AS DOUBLE) / (n - 2) END * p_value AS attr
        FROM ranked
    )
    SELECT event_type, position,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(CAST(SUM(CAST(attr AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS attributed_value
    FROM weighted GROUP BY 1, 2 ORDER BY event_type, position
"""


# ---------------------------------------------------------------------------
# lakehouse (transactional MERGE target): x149/x150
# ---------------------------------------------------------------------------

# Demo CDC history is closed-form in o_orderkey arithmetic:
#   v1: keys %4==0 at raw price
#   v2: v1 with %8==0 at +1000, plus %4==1 inserted at raw price
#   v3: v2 minus %16==0, with %4==1 moved to +500
ORACLE_SQL["x149_lakehouse_merge"] = """
    WITH final AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 8 = 0
                        THEN o_totalprice + CAST(1000.0 AS DOUBLE)
                    WHEN o_orderkey % 4 = 1
                        THEN o_totalprice + CAST(500.0 AS DOUBLE)
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE (o_orderkey % 4 = 0 AND o_orderkey % 16 <> 0)
           OR o_orderkey % 4 = 1
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_price
    FROM final GROUP BY 1 ORDER BY o_orderstatus
"""

ORACLE_SQL["x150_lakehouse_time_travel"] = """
    WITH v1 AS (
        SELECT o_totalprice AS price FROM orders WHERE o_orderkey % 4 = 0
    ),
    v2 AS (
        SELECT CASE WHEN o_orderkey % 8 = 0
                        THEN o_totalprice + CAST(1000.0 AS DOUBLE)
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 4 IN (0, 1)
    ),
    v3 AS (
        SELECT CASE WHEN o_orderkey % 8 = 0
                        THEN o_totalprice + CAST(1000.0 AS DOUBLE)
                    WHEN o_orderkey % 4 = 1
                        THEN o_totalprice + CAST(500.0 AS DOUBLE)
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE (o_orderkey % 4 = 0 AND o_orderkey % 16 <> 0)
           OR o_orderkey % 4 = 1
    )
    SELECT 1 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_price FROM v1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT),
           ROUND(CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE), 4) FROM v2
    UNION ALL
    SELECT 3, CAST(COUNT(*) AS BIGINT),
           ROUND(CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE), 4) FROM v3
    ORDER BY version
"""


# ---------------------------------------------------------------------------
# wave 14: TPC-H decorrelation suite (x152–x163) — correlated scalar
# subqueries, HAVING-vs-global-total, disjunctive pushdown, nested
# semi-join chains, left-join count distributions, star rollups
# ---------------------------------------------------------------------------

_REV_DEC = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))"

ORACLE_SQL["x152_min_cost_supplier"] = """
    WITH eur AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    ), ps AS (
        SELECT l_partkey, l_suppkey,
               MIN(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY 1, 2
    ), offers AS (
        SELECT p.p_partkey, p.p_name, e.s_name, e.n_name, e.s_acctbal,
               ps.unit_cost
        FROM ps
        JOIN eur e ON ps.l_suppkey = e.s_suppkey
        JOIN part p ON ps.l_partkey = p.p_partkey
        WHERE p.p_size <= 10 AND p.p_type = 'STANDARD'
    ), best AS (
        SELECT p_partkey AS bk, MIN(unit_cost) AS min_cost
        FROM offers GROUP BY 1
    )
    SELECT o.p_partkey, o.p_name, o.s_name, o.n_name, o.s_acctbal,
           ROUND(o.unit_cost, 6) AS unit_cost
    FROM offers o
    JOIN best b ON o.p_partkey = b.bk AND o.unit_cost = b.min_cost
    ORDER BY o.p_partkey, o.s_name
"""

ORACLE_SQL["x153_important_part_value"] = f"""
    WITH v AS (
        SELECT l_partkey, SUM({_REV_DEC}) AS value_dec
        FROM lineitem
        WHERE l_suppkey IN (
            SELECT s_suppkey FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3')
        GROUP BY 1
    ), t AS (SELECT SUM(value_dec) AS total_dec, COUNT(*) AS n_parts FROM v)
    SELECT l_partkey AS partkey,
           ROUND(CAST(value_dec AS DOUBLE), 4) AS value
    FROM v CROSS JOIN t
    WHERE value_dec * n_parts > total_dec * 2
    ORDER BY value DESC, partkey
"""

ORACLE_SQL["x154_promo_revenue"] = f"""
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
           ROUND(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_DEC}
                               ELSE CAST(0 AS DECIMAL(38,6)) END)
                      AS DOUBLE), 4) AS promo_revenue,
           ROUND(CAST(SUM({_REV_DEC}) AS DOUBLE), 4) AS total_revenue,
           ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_DEC}
                                       ELSE CAST(0 AS DECIMAL(38,6)) END)
                              AS DOUBLE)
                 / CAST(SUM({_REV_DEC}) AS DOUBLE), 6) AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1 ORDER BY 1
"""

ORACLE_SQL["x155_small_qty_revenue"] = """
    WITH lib AS (
        SELECT l_partkey, l_quantity, l_extendedprice
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#1'
    ), a AS (
        SELECT l_partkey AS ak,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*) AS avg_qty
        FROM lib GROUP BY 1
    )
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
                      AS DOUBLE) / 7.0, 4) AS avg_yearly
    FROM lib JOIN a ON lib.l_partkey = a.ak
    WHERE l_quantity < 0.5 * avg_qty
"""

ORACLE_SQL["x156_large_orders"] = """
    WITH big AS (
        SELECT l_orderkey,
               SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty_dec
        FROM lineitem GROUP BY 1
        HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 180
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(qty_dec AS DOUBLE) AS sum_qty
    FROM big
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
"""

ORACLE_SQL["x157_disjunctive_revenue"] = f"""
    SELECT ROUND(CAST(SUM({_REV_DEC}) AS DOUBLE), 4) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#9' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 40)
"""

ORACLE_SQL["x158_excess_shippers"] = """
    WITH ex AS (
        SELECT DISTINCT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'small%' AND year(l_shipdate) = 1997
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 30
    )
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND s_suppkey IN (SELECT l_suppkey FROM ex)
    ORDER BY s_suppkey
"""

ORACLE_SQL["x159_top_supplier"] = f"""
    WITH r AS (
        SELECT l_suppkey, SUM({_REV_DEC}) AS rev_dec
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1
    ), m AS (SELECT MAX(rev_dec) AS max_dec FROM r)
    SELECT s_suppkey, s_name,
           ROUND(CAST(rev_dec AS DOUBLE), 4) AS total_revenue
    FROM r CROSS JOIN m
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev_dec = max_dec
    ORDER BY s_suppkey
"""

ORACLE_SQL["x160_order_count_distribution"] = """
    WITH pc AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
             AND o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY 1
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM pc GROUP BY 1
    ORDER BY custdist DESC, c_count DESC
"""

ORACLE_SQL["x161_nation_volume"] = f"""
    SELECT supp_nation, cust_nation, l_year,
           ROUND(revenue, 4) AS revenue
    FROM (
        SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               CAST(SUM({_REV_DEC}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND ((ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_8')
            OR (ns.n_name = 'NATION_8' AND nc.n_name = 'NATION_3'))
        GROUP BY 1, 2, 3)
    ORDER BY supp_nation, cust_nation, l_year
"""

ORACLE_SQL["x162_market_share"] = f"""
    SELECT o_year,
           ROUND(CAST(nat_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE), 6)
               AS mkt_share
    FROM (
        SELECT year(o_orderdate) AS o_year,
               SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {_REV_DEC}
                        ELSE CAST(0 AS DECIMAL(38,6)) END) AS nat_dec,
               SUM({_REV_DEC}) AS tot_dec
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND o_custkey IN (
              SELECT c_custkey FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'AMERICA')
        GROUP BY 1)
    ORDER BY o_year
"""

ORACLE_SQL["x163_product_profit"] = """
    SELECT nation, o_year,
           ROUND(CAST(SUM(profit_dec) AS DOUBLE), 4) AS sum_profit
    FROM (
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
               CAST(l_extendedprice * (1 - l_discount)
                    - 0.1 * p_retailprice * l_quantity
                    AS DECIMAL(38,6)) AS profit_dec
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%gear%')
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# wave 15: traversal primitives + the full-outer streaming regime
# ---------------------------------------------------------------------------


def _bfs_oracle(rounds: int = G.BFS_ROUNDS) -> str:
    """x164's chained-CTE replay: fixed frontier-expansion rounds
    (d_r = d_{r-1} + newly reached at hop r), exactly the driver
    loop's relational algebra."""
    ctes = [
        """e AS (
        SELECT o_custkey AS u, l_suppkey + 1000000 AS v
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    )""",
        "es AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)",
        """d0 AS (
        SELECT DISTINCT s_suppkey + 1000000 AS node, 0 AS dist
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
    )""",
        "f0 AS (SELECT node FROM d0)",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""f{r} AS (
        SELECT DISTINCT es.v AS node
        FROM f{r-1} JOIN es ON es.u = f{r-1}.node
        WHERE es.v NOT IN (SELECT node FROM d{r-1})
    )"""
        )
        ctes.append(
            f"d{r} AS (SELECT node, dist FROM d{r-1} "
            f"UNION ALL SELECT node, {r} AS dist FROM f{r})"
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT node, dist FROM d{rounds} ORDER BY node"
    )


ORACLE_SQL["x164_khop_reachability"] = _bfs_oracle()


def _cheapest_path_oracle(rounds: int = G.BFS_ROUNDS) -> str:
    """x165's chained-CTE replay: Bellman-Ford relaxation rounds as
    min-aggregates over (settled UNION candidates); raw IEEE doubles
    — per-path evaluation order is fixed and min is order-independent,
    so no decimal detour is needed (or safe: the double→decimal cast
    rounds differently across engines)."""
    ctes = [
        """pw AS (
        SELECT o_custkey AS cu, l_suppkey + 1000000 AS su,
               MIN(l_extendedprice / l_quantity) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    )""",
        "ew AS (SELECT cu AS u, su AS v, w FROM pw "
        "UNION ALL SELECT su AS u, cu AS v, w FROM pw)",
        """d0 AS (
        SELECT DISTINCT s_suppkey + 1000000 AS node,
               CAST(0 AS DOUBLE) AS cost
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
    )""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""d{r} AS (
        SELECT node, MIN(cost) AS cost FROM (
            SELECT node, cost FROM d{r-1}
            UNION ALL
            SELECT ew.v AS node, d{r-1}.cost + ew.w AS cost
            FROM d{r-1} JOIN ew ON ew.u = d{r-1}.node
        ) GROUP BY node
    )"""
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT node, cost FROM d{rounds} ORDER BY node"
    )


ORACLE_SQL["x165_cheapest_path"] = _cheapest_path_oracle()


ORACLE_SQL["x166_stream_full_join"] = """
    WITH mx AS (
        SELECT least(
            (SELECT date_trunc('milliseconds', MAX(ts)) FROM events
              WHERE event_type = 'purchase'),
            (SELECT date_trunc('milliseconds', MAX(ts)) FROM events
              WHERE event_type = 'click')
        ) - INTERVAL 1 HOUR AS cut
    ),
    p AS (
        SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id AS c_user, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    m AS (
        SELECT coalesce(p.user_id, c.c_user) AS user_id,
               p.purchase_id, c.click_id, p.purchase_ts, c.click_ts
        FROM p FULL OUTER JOIN c
          ON c.c_user = p.user_id AND c.click_ts <= p.purchase_ts
         AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE
    )
    SELECT user_id, purchase_id, click_id
    FROM m CROSS JOIN mx
    WHERE (purchase_id IS NOT NULL AND click_id IS NOT NULL)
       OR (click_id IS NULL AND purchase_ts < mx.cut)
       OR (purchase_id IS NULL AND click_ts < mx.cut - INTERVAL 30 MINUTE)
    ORDER BY purchase_id, click_id
"""


ORACLE_SQL["x167_table_changes"] = """
    WITH ch AS (
        SELECT 'delete' AS change,
               o_totalprice + 1000.0 AS old_price,
               CAST(NULL AS DOUBLE) AS new_price
        FROM orders WHERE o_orderkey % 16 = 0
        UNION ALL
        SELECT 'update', o_totalprice, o_totalprice + 500.0
        FROM orders WHERE o_orderkey % 4 = 1
    )
    SELECT change,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(old_price AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_old,
           ROUND(CAST(SUM(CAST(new_price AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_new
    FROM ch GROUP BY change ORDER BY change
"""


ORACLE_SQL["x168_stream_attributed_windows"] = """
    WITH mx AS (
        SELECT least(
            (SELECT date_trunc('milliseconds', MAX(ts)) FROM events
              WHERE event_type = 'purchase'),
            (SELECT date_trunc('milliseconds', MAX(ts)) FROM events
              WHERE event_type = 'click')
        ) - INTERVAL 1 HOUR AS cut
    ),
    p AS (
        SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT user_id AS cu, ts AS cts FROM events WHERE event_type = 'click'
    ),
    j AS (
        SELECT pts FROM p JOIN c ON cu = user_id AND cts <= pts
                       AND cts >= pts - INTERVAL 30 MINUTE
    )
    SELECT date_trunc('hour', pts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_attributed
    FROM j CROSS JOIN mx
    WHERE date_trunc('hour', pts) + INTERVAL 1 HOUR
          <= mx.cut - INTERVAL 30 MINUTE
    GROUP BY 1 ORDER BY 1
"""


# v3's closed-form state (demo history key arithmetic): keys %4==0
# minus %16==0, priced +1000 where %8==0; plus %4==1 priced +500.
ORACLE_SQL["x169_incremental_mv"] = """
    WITH v3 AS (
        SELECT o_orderstatus,
               o_totalprice
               + CASE WHEN o_orderkey % 8 = 0 THEN 1000.0 ELSE 0.0 END
                   AS price
        FROM orders
        WHERE o_orderkey % 4 = 0 AND o_orderkey % 16 <> 0
        UNION ALL
        SELECT o_orderstatus, o_totalprice + 500.0
        FROM orders WHERE o_orderkey % 4 = 1
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_price
    FROM v3 GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


ORACLE_SQL["x170_incremental_append_read"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_value
    FROM events
    WHERE dayofmonth(ts) % 3 IN (1, 2)
    GROUP BY event_type ORDER BY event_type
"""


# same contract as x2: the connector cycle must be lossless
ORACLE_SQL["x171_custom_source_roundtrip"] = """
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word ASC
    LIMIT 20
"""


ORACLE_SQL["x172_late_order_priority"] = """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

ORACLE_SQL["x173_priority_shipping"] = """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus ORDER BY l_linestatus
"""

ORACLE_SQL["x174_parts_supplier_census"] = """
    WITH ps AS (
        SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#9'
          AND p_size IN (5, 10, 15, 20, 25, 30, 35, 40)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    )
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(*) AS BIGINT) AS supplier_cnt
    FROM ps GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""



# ---------------------------------------------------------------------------
# wave 17: tokenizer/embedding training prep — full BPE trainer loop,
# temperature-resampled mixture, vocab coverage curve, exact shared-
# substring spans, dominant-PC power iteration
# ---------------------------------------------------------------------------


def _bpe_train_oracle(n_merges: int = T.BPE_TRAIN_MERGES) -> str:
    """The x175 training loop as chained CTEs: per round, a pair-count
    aggregate over the spaced-symbol vocabulary, a LIMIT-1 winner, and
    a boundary-guarded ``replace`` merge — replace() is left-to-right
    non-overlapping in both engines, so the greedy merge semantics
    agree exactly."""
    parts = [
        """toks AS (
        SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                  t -> len(t) > 0)) AS w
        FROM documents
    ), vocab0 AS (
        SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s,
               CAST(COUNT(*) AS BIGINT) AS f
        FROM toks GROUP BY 1
    )"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(f"""pc{r} AS (
        SELECT l[i] || ' ' || l[i+1] AS pair, SUM(f) AS cnt
        FROM (SELECT string_split(trim(s), ' ') AS l, f,
                     unnest(generate_series(
                         1, len(string_split(trim(s), ' ')) - 1)) AS i
              FROM vocab{r - 1})
        GROUP BY 1
    ), m{r} AS (
        SELECT CAST({r} AS INTEGER) AS round, pair, CAST(cnt AS BIGINT) AS cnt
        FROM pc{r} ORDER BY cnt DESC, pair ASC LIMIT 1
    ), vocab{r} AS (
        SELECT replace(s, ' ' || (SELECT pair FROM m{r}) || ' ',
                       ' ' || (SELECT replace(pair, ' ', '') FROM m{r}) || ' ')
                   AS s, f
        FROM vocab{r - 1}
    )""")
    unions = " UNION ALL ".join(
        f"SELECT * FROM m{r}" for r in range(1, n_merges + 1)
    )
    return "WITH " + ",\n    ".join(parts) + f" {unions} ORDER BY round"


ORACLE_SQL["x175_bpe_train"] = _bpe_train_oracle()

ORACLE_SQL["x176_temperature_mix"] = f"""
    WITH streams AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(list_filter(
                   regexp_split_to_array(text, '[^A-Za-z]+'),
                   t -> len(t) > 0))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1, 2
    ), weighted AS (
        SELECT *, CAST(ROUND(SQRT(CAST(n_tokens AS DOUBLE)), 9)
                       AS DECIMAL(38,9)) AS w
        FROM streams
    ), tot AS (SELECT SUM(w) AS total_w FROM weighted)
    SELECT lang, source, n_docs, n_tokens,
           CAST(w AS DOUBLE) AS weight,
           ROUND(CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE), 6) AS share,
           ROUND(CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE)
                 * {C.TEMP_MIX_BUDGET_TOKENS}, 2) AS target_tokens,
           ROUND(LEAST(1.0,
                 ROUND(CAST(w AS DOUBLE) / CAST(total_w AS DOUBLE)
                       * {C.TEMP_MIX_BUDGET_TOKENS}, 2)
                 / CAST(n_tokens AS DOUBLE)), 6) AS sample_rate
    FROM weighted CROSS JOIN tot
    ORDER BY lang, source
"""

_VC_K = "(pct * total_cnt - 100 * cum_mass + 100 * cnt - 1) // (100 * cnt)"
ORACLE_SQL["x177_vocab_coverage"] = f"""
    WITH tokcnt AS (
        SELECT t AS tok, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(regexp_split_to_array(text, '[^A-Za-z]+')) AS t
              FROM documents)
        WHERE t <> '' GROUP BY 1
    ), spectrum AS (
        SELECT cnt, CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(COUNT(*) * cnt AS BIGINT) AS mass
        FROM tokcnt GROUP BY cnt
    ), cum AS (
        SELECT cnt, n_toks, mass,
               COALESCE(SUM(mass) OVER (ORDER BY cnt DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_mass,
               COALESCE(SUM(n_toks) OVER (ORDER BY cnt DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_toks
        FROM spectrum
    ), tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS total_cnt FROM spectrum),
    pcts AS (SELECT unnest({list(T.VOCAB_COVERAGE_PCTS)}) AS pct)
    SELECT CAST(pct AS INTEGER) AS pct,
           CAST(cum_toks + {_VC_K} AS BIGINT) AS vocab_size,
           CAST(cum_mass + cnt * ({_VC_K}) AS BIGINT) AS covered_cnt,
           total_cnt,
           ROUND(CAST(cum_mass + cnt * ({_VC_K}) AS DOUBLE) / total_cnt, 6)
               AS covered_share
    FROM cum CROSS JOIN tot JOIN pcts
      ON cum_mass * 100 < pct * total_cnt
     AND (cum_mass + mass) * 100 >= pct * total_cnt
    ORDER BY pct
"""

ORACLE_SQL["x178_longest_shared_span"] = f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), pos_sh AS (
        SELECT doc_id, i - 1 AS pos,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                       || toks[i+3] || ' ' || toks[i+4] AS sh
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - 4)) AS i
              FROM toks)
    ), hot AS (
        SELECT sh FROM (SELECT sh, COUNT(DISTINCT doc_id) AS df
                        FROM pos_sh GROUP BY sh)
        WHERE df > {D.SPAN_MAX_DF}
    ), matches AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pa, b.pos AS pb, a.pos - b.pos AS diff
        FROM (SELECT * FROM pos_sh WHERE sh NOT IN (SELECT sh FROM hot)) a
        JOIN (SELECT * FROM pos_sh WHERE sh NOT IN (SELECT sh FROM hot)) b
          ON a.sh = b.sh AND a.doc_id < b.doc_id
    ), runs AS (
        SELECT doc_a, doc_b, diff, grp,
               CAST(COUNT(*) + {D.SPAN_SHINGLE_N - 1} AS BIGINT) AS span_tokens,
               CAST(MIN(pa) AS BIGINT) AS start_a,
               CAST(MIN(pb) AS BIGINT) AS start_b
        FROM (SELECT *, pa - ROW_NUMBER() OVER (
                  PARTITION BY doc_a, doc_b, diff ORDER BY pa) AS grp
              FROM matches)
        GROUP BY doc_a, doc_b, diff, grp
    ), best AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b
                  ORDER BY span_tokens DESC, start_a, start_b) AS rn
        FROM runs
    )
    SELECT doc_a, doc_b, span_tokens, start_a, start_b
    FROM best WHERE rn = 1
    ORDER BY span_tokens DESC, doc_a, doc_b
    LIMIT {D.SPAN_TOP_PAIRS}
"""


def _power_iter_oracle(
    rounds: int = CL.POWER_ITER_ROUNDS, d: int = CL.EMB_DIM
) -> str:
    """x179 as chained CTEs.  The covariance enters pre-rounded to 8
    decimals (the x130 contract), and every reduction is DuckDB
    ``list_reduce`` ≡ the engine's ordered left fold, so all rounds
    evaluate the identical IEEE expression tree on both sides."""
    seed = repr(1.0 / d)
    parts = [
        f"""ex AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ), upperc AS (
        SELECT a.dim AS di, b.dim AS dj,
               ROUND((CAST(SUM(CAST(a.x * b.x AS DECIMAL(38,12))) AS DOUBLE)
                      - CAST(SUM(CAST(a.x AS DECIMAL(38,12))) AS DOUBLE)
                        * CAST(SUM(CAST(b.x AS DECIMAL(38,12))) AS DOUBLE)
                        / COUNT(*))
                     / COUNT(*), 8) AS cov
        FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.dim <= b.dim
        GROUP BY 1, 2
    ), fullc AS (
        SELECT di, dj, cov FROM upperc
        UNION ALL
        SELECT dj AS di, di AS dj, cov FROM upperc WHERE di <> dj
    ), crow AS (
        SELECT di, list(cov ORDER BY dj) AS carr FROM fullc GROUP BY di
    ), v0 AS (
        SELECT list_transform(generate_series(1, {d}),
                              k -> CAST({seed} AS DOUBLE)) AS varr,
               CAST(0 AS DOUBLE) AS nrm
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""u{r} AS (
        SELECT di, list_reduce(list_transform(generate_series(1, {d}),
                   k -> carr[k] * varr[k]), (a, b) -> a + b) AS dot
        FROM crow CROSS JOIN v{r - 1}
    ), g{r} AS (
        SELECT list(dot ORDER BY di) AS uarr FROM u{r}
    ), v{r} AS (
        SELECT list_transform(uarr, x -> x / nrm) AS varr, nrm
        FROM (SELECT uarr,
                     sqrt(list_reduce(list_transform(uarr, x -> x * x),
                                      (a, b) -> a + b)) AS nrm
              FROM g{r})
    )""")
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(k - 1 AS INTEGER) AS dim,
           ROUND(varr[k], 6) AS loading,
           ROUND(nrm, 6) AS eigenvalue
    FROM v{rounds}, (SELECT unnest(generate_series(1, {d})) AS k)
    ORDER BY dim
"""
    )


ORACLE_SQL["x179_pca_power_iteration"] = _power_iter_oracle()


# ---------------------------------------------------------------------------
# wave 18: oracle-checked count-min sketch, recursive-CTE traversal,
# VARIANT semi-structured analytics, higher-order array lambdas,
# rank-based AUC — new Spark-4 surfaces + classifier-eval primitives
# ---------------------------------------------------------------------------

ORACLE_SQL["x180_countmin_error"] = f"""
    WITH toks AS (
        SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ), rows_ AS (
        SELECT unnest(range({SK.CM_ROWS})) AS r
    ), cells AS (
        SELECT r, substr(sha256(r || ':' || tok), 1, {SK.CM_WIDTH_HEX}) AS c,
               COUNT(*) AS cell_cnt
        FROM toks, rows_
        GROUP BY 1, 2
    ), top AS (
        SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY 1
        ORDER BY exact_cnt DESC, tok ASC LIMIT {SK.CM_TOPK}
    ), probes AS (
        SELECT tok, exact_cnt, r,
               substr(sha256(r || ':' || tok), 1, {SK.CM_WIDTH_HEX}) AS c
        FROM top, rows_
    )
    SELECT p.tok,
           CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           CAST(MIN(cell_cnt) AS BIGINT) AS cm_estimate,
           CAST(MIN(cell_cnt) - p.exact_cnt AS BIGINT) AS overestimate
    FROM probes p JOIN cells USING (r, c)
    GROUP BY p.tok, p.exact_cnt
    ORDER BY exact_cnt DESC, tok
"""

# x181: both engines run the IDENTICAL SQL:1999 linear recursion.
ORACLE_SQL["x181_recursive_chain"] = G.RECURSIVE_CHAIN_SQL

ORACLE_SQL["x182_variant_analytics"] = """
    WITH v AS (
        SELECT json('{"meta":' || props || ',"type":"' || event_type || '"}') AS j
        FROM events
    ), e AS (
        SELECT json_extract_string(j, '$.type') AS vtype,
               CAST(json_extract_string(j, '$.meta.k') AS BIGINT) AS k
        FROM v
    )
    SELECT vtype,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(MAX(k) AS INTEGER) AS max_k,
           CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even_k
    FROM e GROUP BY 1 ORDER BY 1
"""

ORACLE_SQL["x183_array_lambda_stats"] = """
    WITH lt AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(sqrt(list_reduce(list_prepend(0.0, a),
                                  (acc, x) -> acc + x * x)), 6) AS l2_norm,
           CAST(len(list_filter(a, x -> x > 0)) AS INTEGER) AS n_positive,
           ROUND(list_max(list_transform(a, x -> abs(x))), 6) AS max_abs,
           ROUND(list_reduce(
                     list_prepend(0.0,
                         list_transform(range(1, len(a) + 1),
                                        i -> a[i] * a[len(a) + 1 - i])),
                     (acc, x) -> acc + x), 6) AS rev_dot
    FROM lt ORDER BY vec_id
"""


def _auc_oracle() -> str:
    from go_mapreduce_spark.operators.text import EN_STOPWORDS

    sw = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
    return f"""
    WITH t AS (
        SELECT CASE WHEN nt > 0 THEN ROUND(CAST(sw AS DOUBLE) / nt, 6)
                    ELSE 0.0 END AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label
        FROM (
            SELECT lang, len(toks) AS nt,
                   len(list_filter(toks, x -> list_contains({sw}, x))) AS sw
            FROM (
                SELECT lang,
                       list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   x -> len(x) > 0) AS toks
                FROM documents
            )
        )
    ), h AS (
        SELECT score, SUM(label) AS np_s, SUM(1 - label) AS nn_s
        FROM t GROUP BY 1
    ), s AS (
        SELECT np_s, nn_s,
               SUM(nn_s) OVER (ORDER BY score
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - nn_s AS nn_below
        FROM h
    )
    SELECT CAST(SUM(np_s) AS BIGINT) AS n_pos,
           CAST(SUM(nn_s) AS BIGINT) AS n_neg,
           ROUND(SUM(np_s * (2 * nn_below + nn_s))
                 / (2.0 * SUM(np_s) * SUM(nn_s)), 6) AS auc
    FROM s
"""


ORACLE_SQL["x184_quality_auc"] = _auc_oracle()


# ---------------------------------------------------------------------------
# wave 19: in-plan logistic trainer, calibration bins, JL distortion,
# TWAP, exact Gini — model-training/eval primitives + OLAP integrals
# ---------------------------------------------------------------------------

_FEAT_CTE_TMPL = """f AS (
        SELECT ROUND(CASE WHEN tl > 0 THEN CAST(al AS DOUBLE)/tl
                          ELSE 0.0 END, 6) AS fa,
               ROUND(CASE WHEN nt > 0 THEN CAST(sw AS DOUBLE)/nt
                          ELSE 0.0 END, 6) AS fs,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM (
            SELECT lang, len(text) AS tl,
                   len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS al,
                   len(toks) AS nt,
                   len(list_filter(toks, x -> list_contains({sw}, x))) AS sw
            FROM (
                SELECT lang, text,
                       list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   x -> len(x) > 0) AS toks
                FROM documents
            )
        )
    )"""


def _logreg_oracle() -> str:
    """x185's training recursion as chained CTEs — same feature
    rounding, same rational link, same 12-dp-decimal gradient sums,
    same IEEE scalar update sequence."""
    from go_mapreduce_spark.operators.clustering import (
        LOGREG_LR,
        LOGREG_ROUNDS,
    )
    from go_mapreduce_spark.operators.text import EN_STOPWORDS

    sw = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
    z = "(w.w1*f.fa + w.w2*f.fs + w.b)"
    d = f"((0.5 + 0.5*{z}/(1.0 + abs({z}))) - f.y)"

    def gsum(expr: str) -> str:
        return (
            f"CAST(SUM(CAST(ROUND({expr}, 12) AS DECIMAL(38,12))) AS DOUBLE)"
        )

    parts = [
        _FEAT_CTE_TMPL.format(sw=sw),
        "nrow AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM f)",
        "w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS b)",
    ]
    for r in range(1, LOGREG_ROUNDS + 1):
        parts.append(
            f"""w{r} AS (
        SELECT w.w1 - {LOGREG_LR} * {gsum(d + ' * f.fa')} / n.n AS w1,
               w.w2 - {LOGREG_LR} * {gsum(d + ' * f.fs')} / n.n AS w2,
               w.b - {LOGREG_LR} * {gsum(d)} / n.n AS b
        FROM f, w{r-1} w, nrow n
        GROUP BY w.w1, w.w2, w.b, n.n
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT ROUND(w.w1, 8) AS w1, ROUND(w.w2, 8) AS w2,
           ROUND(w.b, 8) AS bias,
           ROUND({gsum(d + ' * ' + d)} / n.n, 8) AS train_mse
    FROM f, w{LOGREG_ROUNDS} w, nrow n
    GROUP BY w.w1, w.w2, w.b, n.n
"""
    )


ORACLE_SQL["x185_logreg_train"] = _logreg_oracle()


def _calibration_oracle() -> str:
    from go_mapreduce_spark.operators.text import CALIB_BINS, EN_STOPWORDS

    sw = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
    return f"""
    WITH m AS (
        SELECT ROUND(0.4*(CASE WHEN tl > 0 THEN CAST(al AS DOUBLE)/tl ELSE 0.0 END)
                   + 0.3*(CASE WHEN nt > 0 THEN CAST(sw AS DOUBLE)/nt ELSE 0.0 END)
                   + 0.3*least(1.0, CAST(nt AS DOUBLE)/50), 6) AS q,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
        FROM (
            SELECT lang, len(text) AS tl,
                   len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS al,
                   len(toks) AS nt,
                   len(list_filter(toks, x -> list_contains({sw}, x))) AS sw
            FROM (
                SELECT lang, text,
                       list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   x -> len(x) > 0) AS toks
                FROM documents
            )
        )
    ), b AS (
        SELECT LEAST(CAST(FLOOR(q * {CALIB_BINS}) AS INTEGER),
                     {CALIB_BINS - 1}) AS bin, q, y
        FROM m
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(CAST(q AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_score,
           ROUND(CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS pos_rate,
           ROUND(CAST(SUM(CAST(ROUND((q - y) * (q - y), 12)
                               AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS bin_brier
    FROM b GROUP BY 1 ORDER BY 1
"""


ORACLE_SQL["x186_quality_calibration"] = _calibration_oracle()


def _jl_oracle() -> str:
    from go_mapreduce_spark.operators.similarity import JL_DIM

    sign = (
        "(CASE WHEN substr(sha256(j || ':' || i), 1, 1) IN "
        "('0','1','2','3','4','5','6','7') THEN 1.0 ELSE -1.0 END)"
    )
    return f"""
    WITH pairs AS (
        SELECT query_id, neighbor_id, ROUND(similarity, 6) AS orig_cos
        FROM (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(n.embedding AS DOUBLE[])) AS similarity,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                       CAST(n.embedding AS DOUBLE[])) DESC,
                                n.vec_id ASC) AS rnk
            FROM embeddings q
            JOIN embeddings n ON n.vec_id <> q.vec_id
            WHERE q.vec_id BETWEEN 1 AND 5
        ) t WHERE rnk <= 5
    ), proj AS (
        SELECT vec_id,
               list_transform(range(0, {JL_DIM}), j ->
                   list_reduce(
                       list_prepend(0.0,
                           list_transform(range(0, len(a)),
                               i -> {sign} * a[i + 1])),
                       (acc, x) -> acc + x)) AS p
        FROM (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
              FROM embeddings)
    ), joined AS (
        SELECT pr.query_id, pr.neighbor_id, pr.orig_cos,
               ROUND(
                   list_reduce(list_prepend(0.0,
                       list_transform(range(0, {JL_DIM}),
                                      m -> qp.p[m + 1] * np.p[m + 1])),
                       (acc, x) -> acc + x)
                   / (sqrt(list_reduce(list_prepend(0.0,
                          list_transform(range(0, {JL_DIM}),
                                         m -> qp.p[m + 1] * qp.p[m + 1])),
                          (acc, x) -> acc + x))
                      * sqrt(list_reduce(list_prepend(0.0,
                          list_transform(range(0, {JL_DIM}),
                                         m -> np.p[m + 1] * np.p[m + 1])),
                          (acc, x) -> acc + x))), 6) AS proj_cos
        FROM pairs pr
        JOIN proj qp ON qp.vec_id = pr.query_id
        JOIN proj np ON np.vec_id = pr.neighbor_id
    )
    SELECT query_id, neighbor_id, orig_cos, proj_cos,
           ROUND(ABS(proj_cos - orig_cos), 6) AS distortion
    FROM joined
    ORDER BY query_id, neighbor_id
"""


ORACLE_SQL["x187_jl_distortion"] = _jl_oracle()

ORACLE_SQL["x188_time_weighted_avg"] = """
    WITH s AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
               lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id) AS t_next_us,
               CAST(value AS DECIMAL(38,6)) AS v
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND((MAX(t_us) - MIN(t_us)) / 1e6, 6) AS span_seconds,
           ROUND(CAST(SUM(CASE WHEN t_next_us IS NOT NULL
                               THEN v * (t_next_us - t_us) END) AS DOUBLE)
                 / CAST(MAX(t_us) - MIN(t_us) AS DOUBLE), 6) AS twap
    FROM s GROUP BY user_id
    HAVING MAX(t_us) - MIN(t_us) > 0
    ORDER BY user_id
"""

ORACLE_SQL["x189_revenue_gini"] = """
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
        FROM orders GROUP BY 1
    ), r AS (
        SELECT rev,
               row_number() OVER (ORDER BY rev, o_custkey) AS rnk
        FROM rev
    ), t AS (
        SELECT COUNT(*) AS n, SUM(rnk * rev) AS wgt, SUM(rev) AS tot
        FROM r
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND(CAST(tot AS DOUBLE), 4) AS total_revenue,
           ROUND(2.0 * CAST(wgt AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
    FROM t
"""


# ---------------------------------------------------------------------------
# wave 20: hierarchical sweep-line peak concurrency + ORC roundtrip
# ---------------------------------------------------------------------------

ORACLE_SQL["x190_peak_concurrency"] = f"""
    WITH d AS (
        SELECT event_type, CAST(ts AS TIMESTAMP) AS t, 1 AS delta
        FROM events
        UNION ALL
        SELECT event_type,
               CAST(ts AS TIMESTAMP)
                   + INTERVAL {AN.PEAK_SESSION_MINUTES} MINUTE,
               -1
        FROM events
    ), r AS (
        SELECT event_type, t, delta,
               SUM(delta) OVER (PARTITION BY event_type
                                ORDER BY t, delta
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS run
        FROM d
    ), m AS (
        SELECT event_type, MAX(run) AS mx FROM r GROUP BY 1
    )
    SELECT r.event_type,
           CAST(m.mx AS INTEGER) AS peak_concurrency,
           MIN(CASE WHEN r.run = m.mx THEN r.t END) AS first_peak_ts,
           CAST(SUM(CASE WHEN r.delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sessions
    FROM r JOIN m USING (event_type)
    GROUP BY r.event_type, m.mx
    ORDER BY r.event_type
"""

ORACLE_SQL["x191_orc_roundtrip"] = """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS sum_price,
           MIN(l_orderkey) AS min_orderkey,
           MAX(l_shipdate) AS max_shipdate
    FROM lineitem
    GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# wave 21: content-defined chunking, SQL session variables, dynamic
# partition pruning
# ---------------------------------------------------------------------------


def _cdc_oracle() -> str:
    from go_mapreduce_spark.operators.dedup import (
        CDC_B,
        CDC_MASK,
        CDC_MOD,
        CDC_WINDOW,
    )

    # codes must widen to BIGINT before the multiply (B^6 fits INT32,
    # so the literal is int and int*int overflows) — mirrors the
    # Spark-side cast
    poly = " + ".join(
        f"CAST(codes[i - {CDC_WINDOW - 1 - k}] AS BIGINT) * {CDC_B ** k}"
        for k in range(CDC_WINDOW - 1, -1, -1)
    )
    return f"""
    WITH d AS (
        SELECT doc_id, text, len(text) AS n,
               list_transform(range(1, len(text) + 1),
                              i -> ascii(substr(text, i, 1))) AS codes
        FROM documents
    ), b AS (
        SELECT doc_id, text, n,
               list_filter(range({CDC_WINDOW}, n + 1),
                           i -> (({poly}) % {CDC_MOD}) % {CDC_MASK} = 0) AS bpos
        FROM d
    ), c AS (
        SELECT doc_id,
               unnest(list_filter(
                   list_transform(range(1, len(bpos) + 2), j ->
                       substr(text,
                              (CASE WHEN j = 1 THEN 0
                                    ELSE bpos[j - 1] END) + 1,
                              (CASE WHEN j = len(bpos) + 1 THEN n
                                    ELSE bpos[j] END)
                              - (CASE WHEN j = 1 THEN 0
                                      ELSE bpos[j - 1] END))),
                   x -> len(x) > 0)) AS chunk
        FROM b
    ), h AS (
        SELECT doc_id, sha256(chunk) AS h FROM c
    ), s AS (
        SELECT h, COUNT(DISTINCT doc_id) AS nd FROM h GROUP BY 1
    )
    SELECT h.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN s.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared_chunks
    FROM h JOIN s USING (h)
    GROUP BY 1 ORDER BY 1
"""


ORACLE_SQL["x192_cdc_chunks"] = _cdc_oracle()

ORACLE_SQL["x193_sql_variables"] = """
    WITH m AS (
        SELECT ROUND(quantile_cont(o_totalprice, 0.5), 6) AS mp FROM orders
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_above,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS rev_above
    FROM orders, m
    WHERE o_totalprice > m.mp
    GROUP BY 1 ORDER BY 1
"""

ORACLE_SQL["x194_dpp_join"] = """
    WITH y AS (
        SELECT DISTINCT year(o_orderdate) AS ship_year
        FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT year(l_shipdate) AS ship_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                               AS DECIMAL(38,6))) AS DOUBLE), 4) AS revenue
    FROM lineitem JOIN y ON year(l_shipdate) = y.ship_year
    GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# wave 22: cross-split leakage census + media byte-frequency audit
# ---------------------------------------------------------------------------

ORACLE_SQL["x195_split_leakage"] = f"""
    WITH tagged AS (
        SELECT doc_id, text,
               CASE WHEN substring(sha256(CAST(doc_id AS VARCHAR)), 1, 2)
                         < '{C.SPLIT_TRAIN_LT}' THEN 'train'
                    WHEN substring(sha256(CAST(doc_id AS VARCHAR)), 1, 2)
                         < '{C.SPLIT_VAL_LT}' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, split, sh FROM (
            SELECT doc_id, split,
                   unnest(list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       AS sh
            FROM (
                SELECT doc_id, split,
                       list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   x -> len(x) > 0) AS toks
                FROM tagged
            )
        )
    ), tr AS (
        SELECT DISTINCT sh FROM sh WHERE split = 'train'
    ), te AS (
        SELECT doc_id, sh FROM sh WHERE split = 'test'
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM te GROUP BY 1
    ), lk AS (
        SELECT doc_id, COUNT(*) AS n_leaked
        FROM te WHERE sh IN (SELECT sh FROM tr) GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(COALESCE(s.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(l.n_leaked, 0) AS BIGINT) AS n_leaked,
           ROUND(CASE WHEN COALESCE(s.n_shingles, 0) > 0
                      THEN CAST(COALESCE(l.n_leaked, 0) AS DOUBLE)
                           / s.n_shingles
                      ELSE 0.0 END, 6) AS leak_frac
    FROM (SELECT doc_id FROM tagged WHERE split = 'test') t
    LEFT JOIN sizes s USING (doc_id)
    LEFT JOIN lk l USING (doc_id)
    ORDER BY doc_id
"""

ORACLE_SQL["x196_byte_frequency_audit"] = f"""
    WITH h AS (
        SELECT media_id, kind,
               octet_length(payload) AS n_bytes,
               hex(payload) AS hx
        FROM read_parquet('{MM.FIXTURE_PATH}/*.parquet')
    ), b AS (
        SELECT media_id, kind, n_bytes,
               list_transform(range(1, n_bytes + 1),
                              i -> substr(hx, i * 2 - 1, 2)) AS bytes
        FROM h
    ), e AS (
        SELECT *, list_distinct(bytes) AS db FROM b
    ), m AS (
        SELECT *,
               list_max(list_transform(db,
                   bb -> len(list_filter(bytes, x -> x = bb)))) AS mc
        FROM e
    )
    SELECT media_id, kind,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(len(db) AS INTEGER) AS n_distinct_bytes,
           list_min(list_filter(db,
               bb -> len(list_filter(bytes, x -> x = bb)) = mc)) AS top_byte,
           ROUND(CAST(mc AS DOUBLE) / n_bytes, 6) AS top_share
    FROM m
    ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# wave 23: merge-on-read deletion vectors
# ---------------------------------------------------------------------------

ORACLE_SQL["x197_lakehouse_delete"] = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_price
    FROM orders
    WHERE o_orderkey % 4 = 0
      AND NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
    GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# wave 24: window completeness, map lambdas, and the x200 capstone
# pipeline
# ---------------------------------------------------------------------------

ORACLE_SQL["x198_window_completeness"] = """
    SELECT o_custkey, o_orderkey,
           first_value(o_orderkey) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS first_order,
           nth_value(o_orderkey, 2) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_order,
           ROUND(cume_dist() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 6)
               AS cume_dist,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey) AS BIGINT) AS n_orders
    FROM orders
    ORDER BY o_custkey, o_orderkey
"""

ORACLE_SQL["x199_map_lambdas"] = """
    SELECT user_id, event_type, CAST(cnt * 2 AS BIGINT) AS adj_count
    FROM (
        SELECT user_id, event_type, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    WHERE cnt >= 2
    ORDER BY user_id, event_type
"""


def _pipeline_oracle() -> str:
    from go_mapreduce_spark.operators.curation import (
        PIPE_QUALITY_MIN,
        SPLIT_TRAIN_LT,
        SPLIT_VAL_LT,
    )
    from go_mapreduce_spark.operators.text import EN_STOPWORDS

    sw = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
    return f"""
    WITH surv AS (
        SELECT doc_id, text, lang, n_chars FROM (
            SELECT doc_id, text, lang, n_chars,
                   row_number() OVER (PARTITION BY sha256(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    ), m AS (
        SELECT doc_id, lang, n_chars,
               len(text) AS tl,
               len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS al,
               len(toks) AS nt,
               len(list_filter(toks, x -> list_contains({sw}, x))) AS sw
        FROM (
            SELECT *,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                               x -> len(x) > 0) AS toks
            FROM surv
        )
    ), k AS (
        SELECT CASE WHEN substring(sha256(CAST(doc_id AS VARCHAR)), 1, 2)
                         < '{SPLIT_TRAIN_LT}' THEN 'train'
                    WHEN substring(sha256(CAST(doc_id AS VARCHAR)), 1, 2)
                         < '{SPLIT_VAL_LT}' THEN 'val'
                    ELSE 'test' END AS split,
               lang, n_chars,
               CAST(CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)
                                               || ':pipe'), 1, 8) AS BIGINT)
                    AS DECIMAL(38,0)) AS fp
        FROM m
        WHERE ROUND(0.4*(CASE WHEN tl > 0 THEN CAST(al AS DOUBLE)/tl
                              ELSE 0.0 END)
                  + 0.3*(CASE WHEN nt > 0 THEN CAST(sw AS DOUBLE)/nt
                              ELSE 0.0 END)
                  + 0.3*least(1.0, CAST(nt AS DOUBLE)/50), 6)
              >= {PIPE_QUALITY_MIN}
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(fp) AS BIGINT) AS fingerprint
    FROM k GROUP BY 1, 2 ORDER BY 1, 2
"""


ORACLE_SQL["x200_curation_pipeline"] = _pipeline_oracle()


# ---------------------------------------------------------------------------
# wave 25: argmax aggregates, null-preserving fan-out, schema-drift
# union, sentence stats, exact quantile normalization
# ---------------------------------------------------------------------------

ORACLE_SQL["x201_argmax_user"] = """
    WITH pu AS (
        SELECT event_type, user_id,
               SUM(CAST(value AS DECIMAL(38,6))) AS total
        FROM events GROUP BY 1, 2
    ), r AS (
        SELECT event_type, user_id, total,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY total DESC, user_id ASC) AS rt,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY total ASC, user_id ASC) AS rb
        FROM pu
    )
    SELECT t.event_type,
           t.user_id AS top_user,
           ROUND(CAST(t.total AS DOUBLE), 4) AS top_total,
           b.user_id AS bottom_user,
           ROUND(CAST(b.total AS DOUBLE), 4) AS bottom_total
    FROM (SELECT * FROM r WHERE rt = 1) t
    JOIN (SELECT * FROM r WHERE rb = 1) b USING (event_type)
    ORDER BY event_type
"""

ORACLE_SQL["x202_explode_outer"] = """
    WITH t AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> len(x) > 0) AS toks
        FROM documents
    ), s AS (
        SELECT doc_id,
               list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                   AS shs
        FROM t
    )
    SELECT doc_id,
           CAST(len(shs) AS BIGINT) AS n_shingle_occurrences,
           CAST(len(list_distinct(shs)) AS BIGINT) AS n_distinct_shingles
    FROM s ORDER BY doc_id
"""

ORACLE_SQL["x203_union_by_name"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_value,
           ROUND(CAST(SUM(CASE WHEN event_id % 2 = 1
                               THEN CAST(value AS DECIMAL(38,6)) END)
                      AS DOUBLE), 4) AS total_value
    FROM events GROUP BY 1 ORDER BY 1
"""

ORACLE_SQL["x204_sentence_stats"] = """
    WITH s AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '[.!?]+'),
                           x -> len(trim(x)) > 0) AS sents
        FROM documents
    ), w AS (
        SELECT doc_id, len(sents) AS n_sentences,
               list_reduce(
                   list_prepend(0,
                       list_transform(sents,
                           x -> len(list_filter(
                                    regexp_split_to_array(x, '[^A-Za-z]+'),
                                    t -> len(t) > 0)))),
                   (a, b) -> a + b) AS n_words
        FROM s
    )
    SELECT doc_id,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_words AS BIGINT) AS n_words,
           ROUND(CASE WHEN n_sentences > 0
                      THEN CAST(n_words AS DOUBLE) / n_sentences
                      ELSE 0.0 END, 6) AS avg_words_per_sentence
    FROM w ORDER BY doc_id
"""

ORACLE_SQL["x205_quantile_normalize"] = """
    SELECT doc_id, n_chars,
           ROUND(CAST(row_number() OVER (ORDER BY n_chars, doc_id) - 1
                      AS DOUBLE)
                 / (COUNT(*) OVER () - 1), 6) AS length_pct
    FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# wave 26: RocksDB state store
# ---------------------------------------------------------------------------

ORACLE_SQL["x206_rocksdb_stateful"] = """
    -- same append-mode finalization rule as x36: emitted windows are
    -- those with window_end <= ms-truncated max(ts) - 2h
    WITH wm AS (
        SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS w
        FROM events
    ), agg AS (
        SELECT time_bucket(INTERVAL '2 hours', ts) AS window_start,
               user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT agg.* FROM agg, wm
    WHERE agg.window_start + INTERVAL 2 HOUR <= wm.w
    ORDER BY window_start, user_id
"""


# ---------------------------------------------------------------------------
# wave 27: calendar dimension, array set algebra, bitmap flags
# ---------------------------------------------------------------------------

ORACLE_SQL["x207_calendar_dim"] = """
    WITH d AS (
        SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders
    )
    SELECT d,
           CAST(year(d) AS INTEGER) AS yr,
           CAST(quarter(d) AS INTEGER) AS qtr,
           CAST(month(d) AS INTEGER) AS mon,
           CAST(day(d) AS INTEGER) AS dom,
           CAST(isodow(d) AS INTEGER) AS iso_dow,
           last_day(d) AS month_end,
           CAST(d + INTERVAL 3 MONTH AS DATE) AS next_qtr_day,
           CAST(last_day(d) - d AS INTEGER) AS days_to_month_end
    FROM d ORDER BY d
"""

ORACLE_SQL["x208_array_set_ops"] = """
    WITH pu AS (
        SELECT user_id,
               list_sort(list_distinct(list(event_type))) AS types
        FROM events GROUP BY 1
    )
    SELECT user_id,
           CAST(len(types) AS INTEGER) AS n_types,
           -- DuckDB's array_to_string of an EMPTY list is NULL;
           -- Spark's array_join gives '' — coalesce to match
           COALESCE(array_to_string(list_sort(list_filter(
               ['click', 'error', 'purchase', 'signup', 'view'],
               t -> NOT list_contains(types, t))), ','), '') AS missing_types,
           CAST(len(list_filter(types,
               t -> list_contains(['click', 'purchase', 'signup'], t)))
               AS INTEGER) AS n_funnel_types
    FROM pu ORDER BY user_id
"""

ORACLE_SQL["x209_bitmap_flags"] = """
    WITH m AS (
        SELECT user_id,
               CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                    WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                    WHEN 'view' THEN 16 ELSE 0 END AS m
        FROM events
    ), pu AS (
        SELECT user_id, bit_or(m) AS pm FROM m GROUP BY 1
    )
    SELECT user_id,
           CAST(pm AS INTEGER) AS presence_mask,
           CAST(bit_count(CAST(pm AS BIGINT)) AS INTEGER) AS n_types
    FROM pu ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# wave 28: observe() DQ metrics + linear-interpolation gap fill
# ---------------------------------------------------------------------------

ORACLE_SQL["x210_observed_metrics"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS sum_qty,
           MIN(l_orderkey) AS min_orderkey,
           MAX(l_orderkey) AS max_orderkey,
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_discount
    FROM lineitem
"""

ORACLE_SQL["x211_gapfill_linear"] = """
    WITH hourly AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, event_type,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                     / COUNT(*), 6) AS mean_value
        FROM events GROUP BY 1, 2
    ), spine AS (
        SELECT event_type,
               unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
              FROM hourly GROUP BY 1)
    ), g AS (
        SELECT s.event_type, s.h, m.mean_value,
               last_value(m.mean_value IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               epoch_us(last_value(CASE WHEN m.mean_value IS NOT NULL
                                        THEN s.h END IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS pt,
               first_value(m.mean_value IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               epoch_us(first_value(CASE WHEN m.mean_value IS NOT NULL
                                         THEN s.h END IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS nt
        FROM spine s
        LEFT JOIN hourly m ON m.event_type = s.event_type AND m.h = s.h
    )
    SELECT event_type, h AS hour,
           (mean_value IS NOT NULL) AS observed,
           ROUND(CASE WHEN mean_value IS NOT NULL THEN mean_value
                      WHEN pv IS NOT NULL AND nv IS NOT NULL
                      THEN pv + (nv - pv)
                           * (CAST(epoch_us(h) - pt AS DOUBLE)
                              / CAST(nt - pt AS DOUBLE))
                 END, 6) AS filled_value
    FROM g ORDER BY event_type, hour
"""


# ---------------------------------------------------------------------------
# wave 29: parameterized SQL
# ---------------------------------------------------------------------------

ORACLE_SQL["x213_custom_stream_source"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_value
    FROM events GROUP BY 1 ORDER BY 1
"""

ORACLE_SQL["x215_lakehouse_stream_source"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_value
    FROM events GROUP BY 1 ORDER BY 1
"""

ORACLE_SQL["x214_xml_roundtrip"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id
    FROM events GROUP BY 1 ORDER BY 1
"""

ORACLE_SQL["x212_parameterized_sql"] = f"""
    SELECT c.c_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6)))
                      AS DOUBLE), 4) AS revenue
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = '{RX.PARAM_SEGMENT}'
    GROUP BY 1 HAVING COUNT(*) >= {RX.PARAM_MIN_ORDERS}
    ORDER BY 1
"""


# ---------------------------------------------------------------------------
# wave 30: sequence-pattern match, longest streaks, log2 latency
# spectrum
# ---------------------------------------------------------------------------


def _seq_match_oracle() -> str:
    pat = "[" + ", ".join(f"'{p}'" for p in AN.FUNNEL_PATTERN) + "]"
    n = len(AN.FUNNEL_PATTERN)
    return f"""
    WITH seq AS (
        SELECT user_id,
               list_transform(
                   list_sort(list({{'ts': CAST(ts AS TIMESTAMP),
                                    'id': event_id,
                                    't': event_type}})),
                   s -> s.t) AS types
        FROM events GROUP BY user_id
    ), m AS (
        -- DuckDB 1.0's list_reduce has no initial-value form, so the
        -- int accumulator threads through as a string digit (the
        -- fold's element type): prepend '0', parse per step
        SELECT user_id, len(types) AS n_events,
               CAST(list_reduce(
                   list_prepend('0', types),
                   (acc, t) -> CASE WHEN CAST(acc AS INTEGER) < {n}
                                     AND t = ({pat})[CAST(acc AS INTEGER) + 1]
                                    THEN CAST(CAST(acc AS INTEGER) + 1
                                              AS VARCHAR)
                                    ELSE acc END) AS INTEGER) AS prog
        FROM seq
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(prog AS INTEGER) AS funnel_progress,
           (prog = {n}) AS matched
    FROM m ORDER BY user_id
"""


ORACLE_SQL["x216_sequence_match"] = _seq_match_oracle()

ORACLE_SQL["x217_longest_streak"] = """
    WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        FROM events
    ), m AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS new_run
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), i AS (
        SELECT user_id, event_type,
               SUM(new_run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS island
        FROM m
    ), isl AS (
        SELECT user_id, island, COUNT(*) AS len, MIN(event_type) AS t
        FROM i GROUP BY 1, 2
    ), r AS (
        SELECT user_id, len, t,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY len DESC, island ASC) AS rn
        FROM isl
    )
    SELECT user_id,
           CAST(len AS BIGINT) AS longest_streak,
           t AS streak_type
    FROM r WHERE rn = 1 ORDER BY user_id
"""

ORACLE_SQL["x218_latency_spectrum"] = """
    WITH g AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP))
                   - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                         PARTITION BY user_id
                         ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(CASE WHEN gap_us <= 0 THEN 0
                     ELSE length(bin(gap_us)) END AS INTEGER) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# wave 31: weighted median + waterfall decomposition
# ---------------------------------------------------------------------------

ORACLE_SQL["x219_weighted_median"] = """
    WITH r AS (
        SELECT l_returnflag, l_linestatus, l_extendedprice,
               l_orderkey, l_linenumber,
               SUM(CAST(l_quantity AS DECIMAL(38,6))) OVER (
                   PARTITION BY l_returnflag, l_linestatus
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
               SUM(CAST(l_quantity AS DECIMAL(38,6))) OVER (
                   PARTITION BY l_returnflag, l_linestatus) AS W
        FROM lineitem
    ), hit AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY l_returnflag, l_linestatus
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn
        FROM r WHERE 2 * cumw >= W
    )
    SELECT l_returnflag, l_linestatus,
           ROUND(l_extendedprice, 4) AS weighted_median_price,
           CAST(W AS DOUBLE) AS total_weight
    FROM hit WHERE rn = 1
    ORDER BY l_returnflag, l_linestatus
"""

ORACLE_SQL["x220_revenue_waterfall"] = """
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               c_mktsegment AS segment,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ), d AS (
        SELECT month, segment, rev,
               rev - lag(rev) OVER (PARTITION BY segment
                                    ORDER BY month) AS delta
        FROM monthly
    ), t AS (
        SELECT *, SUM(delta) OVER (PARTITION BY month) AS month_delta
        FROM d
    )
    SELECT month, segment,
           ROUND(CAST(rev AS DOUBLE), 4) AS revenue,
           ROUND(CAST(delta AS DOUBLE), 4) AS delta,
           ROUND(CASE WHEN month_delta <> 0
                      THEN CAST(delta AS DOUBLE)
                           / CAST(month_delta AS DOUBLE) END, 6)
               AS share_of_change
    FROM t WHERE delta IS NOT NULL
    ORDER BY month, segment
"""


# ---------------------------------------------------------------------------
# wave 32: proportional allocation, survival curve, ABC classes
# ---------------------------------------------------------------------------

ORACLE_SQL["x221_proportional_allocation"] = f"""
    WITH c AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1
    ), t AS (
        SELECT SUM(n) AS ntot FROM c
    ), q AS (
        SELECT lang, c.n AS n,
               (c.n * {C.ALLOC_TOTAL}) // ntot AS base,
               (c.n * {C.ALLOC_TOTAL}) % ntot AS rem
        FROM c, t
    ), r AS (
        SELECT *,
               row_number() OVER (ORDER BY rem DESC, lang ASC) AS pr,
               {C.ALLOC_TOTAL} - SUM(base) OVER () AS leftover
        FROM q
    )
    SELECT lang,
           CAST(n AS BIGINT) AS n_docs,
           CAST(base + CASE WHEN pr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS allocated
    FROM r ORDER BY lang
"""

ORACLE_SQL["x222_survival_curve"] = """
    WITH s AS (
        SELECT user_id,
               date_diff('day', CAST(MIN(ts) AS DATE),
                         CAST(MAX(ts) AS DATE)) AS span_days
        FROM events GROUP BY 1
    ), h AS (
        SELECT span_days, COUNT(*) AS c FROM s GROUP BY 1
    ), r AS (
        SELECT span_days,
               SUM(c) OVER (ORDER BY span_days DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS surv,
               SUM(c) OVER () AS n
        FROM h
    )
    SELECT CAST(span_days AS INTEGER) AS day_k,
           CAST(surv AS BIGINT) AS surviving_users,
           ROUND(surv / CAST(n AS DOUBLE), 6) AS survival
    FROM r ORDER BY day_k
"""

ORACLE_SQL["x223_abc_classification"] = """
    WITH rev AS (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
        FROM orders GROUP BY 1
    ), t AS (
        SELECT SUM(rev) AS T FROM rev
    ), c AS (
        SELECT rev, T,
               SUM(rev) OVER (ORDER BY rev DESC, o_custkey ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
        FROM rev, t
    ), k AS (
        SELECT rev, T,
               CASE WHEN cum * 2 <= T THEN 'A'
                    WHEN cum * 5 <= T * 4 THEN 'B'
                    ELSE 'C' END AS cls
        FROM c
    )
    SELECT cls,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(rev) AS DOUBLE), 4) AS class_revenue,
           ROUND(CAST(SUM(rev) AS DOUBLE) / CAST(MAX(T) AS DOUBLE), 6)
               AS revenue_share
    FROM k GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# wave 33: greedy LM decode
# ---------------------------------------------------------------------------


def _decode_oracle() -> str:
    from go_mapreduce_spark.operators.text import DECODE_STEPS

    parts = [
        """toks AS (
        SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           x -> len(x) > 0) AS toks
        FROM documents
    )""",
        """tri AS (
        SELECT regexp_replace(sh, ' [a-z]+$', '') AS ctx,
               regexp_extract(sh, '([a-z]+)$', 1) AS w3,
               COUNT(*) AS c3
        FROM (
            SELECT unnest(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks
        ) GROUP BY 1, 2
    )""",
        """s0 AS (
        SELECT bg AS ctx FROM (
            SELECT bg, COUNT(*) AS c FROM (
                SELECT unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM toks
            ) GROUP BY 1
        ) ORDER BY c DESC, bg ASC LIMIT 1
    )""",
    ]
    for k in range(1, DECODE_STEPS + 1):
        parts.append(
            f"""p{k} AS (
        SELECT {k} AS step, t.ctx, t.w3 AS token, t.c3
        FROM tri t JOIN s{k-1} s ON t.ctx = s.ctx
        ORDER BY t.c3 DESC, t.w3 ASC LIMIT 1
    )"""
        )
        parts.append(
            f"""s{k} AS (
        SELECT regexp_extract(ctx, ' ([a-z]+)$', 1) || ' ' || token AS ctx
        FROM p{k}
    )"""
        )
    union = "\n        UNION ALL\n        ".join(
        f"SELECT * FROM p{k}" for k in range(1, DECODE_STEPS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT step, ctx, token, CAST(c3 AS BIGINT) AS c3
    FROM ({union})
    ORDER BY step
"""
    )


ORACLE_SQL["x224_greedy_decode"] = _decode_oracle()


# ---------------------------------------------------------------------------
# wave 34 (round 5): weighted sampling, attribution, PassJoin,
# containment, novelty, transition matrix, centroid audit
# ---------------------------------------------------------------------------

ORACLE_SQL["x225_weighted_sample"] = """
    WITH keyed AS (
        SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
               ln((('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT
                    + 1) / 281474976710657.0)
                 / CAST(n_chars AS DOUBLE) AS k
        FROM documents)
    SELECT doc_id, lang, n_chars, ROUND(k, 10) AS sample_key
    FROM (SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT 50)
    ORDER BY doc_id
"""

ORACLE_SQL["x226_attribution"] = """
    WITH fp AS (
        SELECT user_id, MIN(ts) AS p_ts FROM events
        WHERE event_type = 'purchase' GROUP BY user_id
    ), touches AS (
        SELECT e.user_id, e.event_type, e.ts, e.event_id
        FROM events e JOIN fp ON e.user_id = fp.user_id
        WHERE e.event_type IN ('view', 'click') AND e.ts < fp.p_ts
    ), ranked AS (
        SELECT event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM touches)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(1.0 / n), 6) AS linear_credit,
           ROUND(SUM(CASE WHEN n = 1 THEN 1.0
                          WHEN n = 2 THEN 0.5
                          WHEN rn = 1 OR rn = n THEN 0.4
                          ELSE 0.2 / (n - 2) END), 6) AS ushaped_credit
    FROM ranked GROUP BY event_type ORDER BY event_type
"""

ORACLE_SQL["x227_passjoin_editdist"] = """
    WITH p AS (
        SELECT doc_id, lang, substr(lower(text), 1, 15) AS pfx FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.pfx, b.pfx) AS INT) AS edit_dist
    FROM p a JOIN p b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= 2
    ORDER BY doc_a, doc_b
"""

_SHINGLE_CTE = """toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks)
    )"""

ORACLE_SQL["x228_containment"] = f"""
    WITH {_SHINGLE_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS lo, b.doc_id AS hi, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), directed AS (
        SELECT lo AS doc_a, hi AS doc_b, i FROM inter
        UNION ALL SELECT hi, lo, i FROM inter)
    SELECT d.doc_a, d.doc_b,
           CAST(d.i AS BIGINT) AS shared_shingles,
           ROUND(d.i * 1.0 / s.n_sh, 6) AS containment
    FROM directed d JOIN sizes s ON s.doc_id = d.doc_a
    WHERE d.i * 1.0 / s.n_sh >= 0.5
    ORDER BY doc_a, doc_b
"""

ORACLE_SQL["x229_trigram_novelty"] = f"""
    WITH {_SHINGLE_CTE},
    first AS (SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY sh)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN s.doc_id = f.first_doc THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS novelty
    FROM sh s JOIN first f ON s.sh = f.sh
    GROUP BY s.doc_id ORDER BY s.doc_id
"""

ORACLE_SQL["x230_transition_matrix"] = """
    WITH pairs AS (
        SELECT LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS from_type,
               event_type AS to_type
        FROM events
    ), counted AS (
        SELECT from_type, to_type, COUNT(*) AS n FROM pairs
        WHERE from_type IS NOT NULL GROUP BY from_type, to_type)
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n_transitions,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY from_type), 6) AS prob
    FROM counted ORDER BY from_type, to_type
"""

ORACLE_SQL["x231_centroid_cosine_audit"] = """
    WITH ex AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ), cen AS (
        SELECT label, dim, AVG(x) AS c FROM ex GROUP BY label, dim
    ), dots AS (
        SELECT e.vec_id, e.label,
               SUM(e.x * c.c) AS dot,
               SUM(e.x * e.x) AS nx,
               SUM(c.c * c.c) AS nc
        FROM ex e JOIN cen c ON e.label = c.label AND e.dim = c.dim
        GROUP BY e.vec_id, e.label
    ), cs AS (
        SELECT label, dot / (sqrt(nx) * sqrt(nc)) AS c FROM dots)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(AVG(c), 6) AS avg_cos,
           ROUND(MIN(c), 6) AS min_cos
    FROM cs GROUP BY label ORDER BY label
"""


# ---------------------------------------------------------------------------
# wave 35 (round 5): EWMA, KL divergence, time-weighted average,
# quantile normalization, multi-sink stream, LISTAGG leaderboard
# ---------------------------------------------------------------------------

ORACLE_SQL["x232_ewma"] = """
    WITH recent AS (
        SELECT user_id, event_type, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                           event_id DESC) AS rix
        FROM events)
    SELECT user_id, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_used,
           ROUND(SUM(value * POWER(0.5, rix - 1))
                 / SUM(POWER(0.5, rix - 1)), 6) AS ewma
    FROM recent WHERE rix <= 8
    GROUP BY user_id, event_type ORDER BY user_id, event_type
"""

ORACLE_SQL["x233_kl_divergence"] = """
    WITH toks AS (
        SELECT lang, unnest(list_filter(
                   regexp_split_to_array(lower(text), '[^a-z]+'),
                   t -> len(t) > 0)) AS tok
        FROM documents
    ), lt AS (
        SELECT lang, tok, COUNT(*) AS c_lt FROM toks GROUP BY 1, 2
    ), corpus AS (
        SELECT tok, COUNT(*) AS c_t FROM toks GROUP BY 1
    ), lang_tot AS (
        SELECT lang, SUM(c_lt) AS n_lang FROM lt GROUP BY 1
    ), total AS (SELECT SUM(c_t) AS n_all FROM corpus)
    SELECT lang,
           CAST(MAX(n_lang) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_vocab,
           ROUND(SUM((c_lt * 1.0 / n_lang)
                     * ln((c_lt * 1.0 / n_lang) / (c_t * 1.0 / n_all))), 6)
               AS kl_bits_nat
    FROM lt JOIN corpus USING (tok) JOIN lang_tot USING (lang)
    CROSS JOIN total
    GROUP BY lang ORDER BY lang
"""

ORACLE_SQL["x234_time_weighted_avg"] = """
    WITH held AS (
        SELECT user_id, CAST(value AS DECIMAL(38,6)) AS v,
               epoch_us(LEAD(CAST(ts AS TIMESTAMP)) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(ts AS TIMESTAMP), event_id))
                   - epoch_us(CAST(ts AS TIMESTAMP)) AS dur_us
        FROM events)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_us) AS BIGINT) AS span_us,
           ROUND(CAST(SUM(v * dur_us) / CAST(SUM(dur_us) AS DECIMAL(38,6))
                      AS DOUBLE), 6) AS twa_value
    FROM held WHERE dur_us IS NOT NULL
    GROUP BY user_id ORDER BY user_id
"""

ORACLE_SQL["x235_quantile_normalization"] = """
    WITH e AS (
        SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x0,
               CAST(embedding[2] AS DOUBLE) AS x1
        FROM embeddings
    ), d0 AS (
        SELECT vec_id, x0 AS x,
               ROW_NUMBER() OVER (ORDER BY x0, vec_id) AS rn FROM e
    ), d1 AS (
        SELECT vec_id, x1 AS x,
               ROW_NUMBER() OVER (ORDER BY x1, vec_id) AS rn FROM e
    ), m AS (
        SELECT d0.rn, (d0.x + d1.x) / 2 AS qn FROM d0 JOIN d1 USING (rn))
    SELECT e.vec_id,
           ROUND(m0.qn, 6) AS dim0_norm,
           ROUND(m1.qn, 6) AS dim1_norm
    FROM e
    JOIN d0 ON d0.vec_id = e.vec_id JOIN m m0 ON m0.rn = d0.rn
    JOIN d1 ON d1.vec_id = e.vec_id JOIN m m1 ON m1.rn = d1.rn
    WHERE e.vec_id < 20 ORDER BY e.vec_id
"""

ORACLE_SQL["x236_multisink_stream"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
"""

ORACLE_SQL["x237_listagg_leaderboard"] = """
    WITH rev AS (
        SELECT c.c_mktsegment, c.c_nationkey,
               SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), named AS (
        SELECT r.c_mktsegment, n.n_name, r.rev,
               ROW_NUMBER() OVER (PARTITION BY r.c_mktsegment
                                  ORDER BY r.rev DESC, n.n_name ASC) AS rk
        FROM rev r JOIN nation n ON r.c_nationkey = n.n_nationkey)
    SELECT c_mktsegment AS segment,
           string_agg(n_name, ',' ORDER BY rk) AS top_nations,
           ROUND(CAST(SUM(rev) AS DOUBLE), 4) AS top3_revenue
    FROM named WHERE rk <= 3 GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# wave 36 (round 5): silhouette, SCD2, timed funnel, PMI
# ---------------------------------------------------------------------------

ORACLE_SQL["x238_silhouette"] = """
    WITH ex AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ), sq AS (
        SELECT vec_id, label, SUM(x * x) AS sqn FROM ex GROUP BY 1, 2
    ), cen AS (
        SELECT label, dim, AVG(x) AS c FROM ex GROUP BY 1, 2
    ), st AS (
        SELECT label, COUNT(*) AS n, AVG(sqn) AS msq FROM sq GROUP BY label
    ), dots AS (
        SELECT e.vec_id, c.label AS slabel, SUM(e.x * c.c) AS dot
        FROM ex e JOIN cen c ON e.dim = c.dim GROUP BY 1, 2
    ), scored AS (
        SELECT q.vec_id, q.label, d.slabel, t.n,
               q.sqn + t.msq - 2 * d.dot AS msd
        FROM dots d
        JOIN sq q ON q.vec_id = d.vec_id
        JOIN st t ON t.label = d.slabel
    ), own AS (
        SELECT vec_id, label,
               CASE WHEN n > 1 THEN msd * n / (n - 1) END AS a
        FROM scored WHERE label = slabel
    ), oth AS (
        SELECT vec_id, MIN(msd) AS b FROM scored
        WHERE label <> slabel GROUP BY vec_id
    ), sil AS (
        SELECT o.label,
               CASE WHEN a IS NULL THEN 0.0
                    ELSE (b - a) / GREATEST(a, b) END AS s
        FROM own o JOIN oth USING (vec_id))
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(AVG(s), 6) AS mean_silhouette
    FROM sil GROUP BY label ORDER BY label
"""

ORACLE_SQL["x239_scd2_history"] = """
    WITH marked AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
               CASE WHEN LAG(event_type) OVER w IS NULL
                      OR LAG(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ), runs0 AS (
        SELECT user_id, event_type, ts,
               SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS run
        FROM marked
    ), runs AS (
        SELECT user_id, run, MIN(event_type) AS state,
               MIN(ts) AS valid_from
        FROM runs0 GROUP BY 1, 2)
    SELECT user_id, CAST(run AS BIGINT) AS version, state, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run)
               AS valid_to,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY run)
               IS NULL AS is_current
    FROM runs ORDER BY user_id, version
"""

ORACLE_SQL["x240_timed_funnel"] = """
    WITH views AS (
        SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS view_ts
        FROM events WHERE event_type = 'view' GROUP BY 1
    ), clicks AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS click_ts
        FROM events e JOIN views v ON e.user_id = v.user_id
        WHERE e.event_type = 'click'
          AND CAST(e.ts AS TIMESTAMP) >= v.view_ts
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(v.view_ts)
              <= 24 * 3600000000
        GROUP BY 1
    ), purch AS (
        SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS purchase_ts
        FROM events e JOIN clicks c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
          AND CAST(e.ts AS TIMESTAMP) >= c.click_ts
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(c.click_ts)
              <= 72 * 3600000000
        GROUP BY 1
    ), funnel AS (
        SELECT 1 AS stage, 'view' AS name,
               (SELECT COUNT(*) FROM views) AS n
        UNION ALL SELECT 2, 'click_24h', (SELECT COUNT(*) FROM clicks)
        UNION ALL SELECT 3, 'purchase_72h', (SELECT COUNT(*) FROM purch))
    SELECT stage, name, CAST(n AS BIGINT) AS n_users,
           ROUND(n * 1.0 / FIRST_VALUE(n) OVER (ORDER BY stage), 6)
               AS rate_vs_stage1
    FROM funnel ORDER BY stage
"""

ORACLE_SQL["x241_pmi_pairs"] = f"""
    WITH pos AS (
        SELECT doc_id, unnest(toks) AS w,
               generate_subscripts(toks, 1) AS p
        FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                 t -> len(t) > 0) AS toks
              FROM documents)
    ), pr AS (
        SELECT a.w AS w_left, b.w AS w_right, COUNT(*) AS n
        FROM pos a
        JOIN pos b ON b.doc_id = a.doc_id
                  AND b.p BETWEEN a.p + 1 AND a.p + {T.SKIPGRAM_WINDOW}
        GROUP BY a.w, b.w
        HAVING COUNT(*) >= {T.SKIPGRAM_MIN_COUNT}
    ), lm AS (SELECT w_left, SUM(n) AS n_l FROM pr GROUP BY 1),
    rm AS (SELECT w_right, SUM(n) AS n_r FROM pr GROUP BY 1),
    tot AS (SELECT SUM(n) AS n_all FROM pr)
    SELECT w_left, w_right, CAST(n AS BIGINT) AS n_cooc,
           ROUND(ln(CAST(n * n_all AS DOUBLE) / (n_l * n_r)), 6) AS pmi
    FROM pr JOIN lm USING (w_left) JOIN rm USING (w_right) CROSS JOIN tot
    ORDER BY pmi DESC, w_left, w_right LIMIT {T.PMI_PAIR_TOP_N}
"""


# ---------------------------------------------------------------------------
# wave 37 (round 5): statistical testing & diagnostics
# ---------------------------------------------------------------------------

_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN CAST({p!r} AS DOUBLE)"
    for d, p in ST.BENFORD_EXPECTED.items()
)
ORACLE_SQL["x242_benford_audit"] = f"""
    WITH digits AS (
        SELECT CAST(regexp_extract(CAST(l_extendedprice AS VARCHAR),
                                   '[1-9]', 0) AS INT) AS digit
        FROM lineitem WHERE l_extendedprice > 0
    ), counts AS (
        SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT SUM(n) AS n_total FROM counts),
    scored AS (
        SELECT digit, n, n_total,
               n / n_total AS p_obs,
               CASE digit {_BENFORD_CASE} END AS p_exp
        FROM counts CROSS JOIN tot)
    SELECT digit, CAST(n AS BIGINT) AS n,
           ROUND(p_obs, 6) AS observed_p,
           ROUND(p_exp, 6) AS expected_p,
           ROUND(n_total * (p_obs - p_exp) * (p_obs - p_exp) / p_exp, 6)
               AS chi2_term
    FROM scored ORDER BY digit
"""

ORACLE_SQL["x243_welch_ttest"] = f"""
    WITH sample AS (
        SELECT c_mktsegment = '{ST.TTEST_SEG_A}' AS is_a,
               o_totalprice AS x
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('{ST.TTEST_SEG_A}', '{ST.TTEST_SEG_B}')
    ), s AS (
        SELECT COUNT(CASE WHEN is_a THEN 1 END) AS n_a,
               COUNT(CASE WHEN NOT is_a THEN 1 END) AS n_b,
               CAST(SUM(CASE WHEN is_a
                    THEN CAST(x AS DECIMAL(38,6)) END) AS DOUBLE) AS s_a,
               CAST(SUM(CASE WHEN NOT is_a
                    THEN CAST(x AS DECIMAL(38,6)) END) AS DOUBLE) AS s_b,
               CAST(SUM(CASE WHEN is_a
                    THEN CAST(x * x AS DECIMAL(38,6)) END) AS DOUBLE) AS ss_a,
               CAST(SUM(CASE WHEN NOT is_a
                    THEN CAST(x * x AS DECIMAL(38,6)) END) AS DOUBLE) AS ss_b
        FROM sample
    ), d AS (
        SELECT n_a, n_b, s_a / n_a AS m_a, s_b / n_b AS m_b,
               ((ss_a - s_a * s_a / n_a) / (n_a - 1)) / n_a AS se_a,
               ((ss_b - s_b * s_b / n_b) / (n_b - 1)) / n_b AS se_b
        FROM s)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
           ROUND((m_a - m_b) / sqrt(se_a + se_b), 6) AS t_stat,
           ROUND((se_a + se_b) * (se_a + se_b)
                 / (se_a * se_a / (n_a - 1) + se_b * se_b / (n_b - 1)), 6)
               AS welch_df
    FROM d
"""

ORACLE_SQL["x244_mannwhitney"] = f"""
    WITH sample AS (
        SELECT o_totalprice AS val,
               c_mktsegment = '{ST.TTEST_SEG_A}' AS is_a
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('{ST.TTEST_SEG_A}', '{ST.TTEST_SEG_B}')
    ), r AS (
        SELECT val, is_a, ROW_NUMBER() OVER (ORDER BY val) AS rn
        FROM sample
    ), ties AS (
        SELECT val, AVG(rn) AS arank, COUNT(*) AS t,
               SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS t_a
        FROM r GROUP BY val
    ), agg AS (
        SELECT CAST(SUM(t_a) AS BIGINT) AS n_a,
               CAST(SUM(t - t_a) AS BIGINT) AS n_b,
               CAST(SUM(CAST(arank * t_a AS DECIMAL(38,6))) AS DOUBLE) AS r_a,
               CAST(SUM(CAST(t * t * t - t AS DECIMAL(38,6))) AS DOUBLE)
                   AS tie_cube
        FROM ties
    ), z AS (
        SELECT n_a, n_b,
               CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
               r_a, tie_cube
        FROM agg)
    SELECT n_a, n_b,
           ROUND(r_a - na * (na + 1) / 2, 6) AS u_a,
           ROUND((r_a - na * (na + 1) / 2 - na * nb / 2)
                 / sqrt(na * nb / 12.0
                        * ((na + nb + 1)
                           - tie_cube / ((na + nb) * (na + nb - 1)))), 6)
               AS z_stat
    FROM z
"""

ORACLE_SQL["x245_acf"] = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
        FROM orders GROUP BY 1
    ), g AS (
        SELECT CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                   AS mean
        FROM daily
    ), dev AS (
        SELECT d, rev - mean AS dev FROM daily CROSS JOIN g
    ), denom AS (
        SELECT CAST(SUM(CAST(dev * dev AS DECIMAL(38,6))) AS DOUBLE) AS ss
        FROM dev
    ), lags AS (
        SELECT CAST(unnest(range(1, {ST.ACF_MAX_LAG} + 1)) AS INT) AS lag
    ), pairs AS (
        SELECT l.lag, a.dev * b.dev AS p
        FROM dev a CROSS JOIN lags l
        JOIN dev b ON b.d = a.d + l.lag * INTERVAL 1 DAY)
    SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE)
                 / MIN(ss), 6) AS acf
    FROM pairs CROSS JOIN denom
    GROUP BY lag ORDER BY lag
"""


# ---------------------------------------------------------------------------
# wave 38 (round 5): CUSUM, HHI, RFM, interval coverage
# ---------------------------------------------------------------------------

ORACLE_SQL["x246_cusum_changepoint"] = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ), cum AS (
        SELECT event_type, d,
               ROW_NUMBER() OVER w AS t,
               SUM(x) OVER (PARTITION BY event_type ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS cum
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ), tot AS (
        SELECT event_type, SUM(x) AS total, COUNT(*) AS n_days
        FROM daily GROUP BY 1
    ), scored AS (
        SELECT c.event_type, c.d, t.n_days,
               t.n_days * c.cum - c.t * t.total AS dev_scaled
        FROM cum c JOIN tot t USING (event_type))
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           d AS change_day,
           ROUND(dev_scaled / n_days, 6) AS cusum_dev
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY abs(dev_scaled) DESC, d ASC) = 1
    ORDER BY event_type
"""

ORACLE_SQL["x247_rfm_segments"] = f"""
    WITH rfm AS (
        SELECT o_custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_day,
               COUNT(*) AS freq,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS monetary
        FROM orders GROUP BY 1
    ), scored AS (
        SELECT monetary,
               NTILE({AN.RFM_TILES}) OVER (ORDER BY last_day, o_custkey)
                   AS r_score,
               NTILE({AN.RFM_TILES}) OVER (ORDER BY freq, o_custkey)
                   AS f_score,
               NTILE({AN.RFM_TILES}) OVER (ORDER BY monetary, o_custkey)
                   AS m_score
        FROM rfm)
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CAST(monetary AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_monetary
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""

ORACLE_SQL["x248_interval_coverage"] = f"""
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS s,
               epoch_us(CAST(ts AS TIMESTAMP))
                   + {AN.COVERAGE_TTL_S} * 1000000 AS e
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN s > COALESCE(
                        MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING),
                        -4611686018427387904)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ), islands0 AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ), islands AS (
        SELECT user_id, island, MAX(e) - MIN(s) AS covered_us
        FROM islands0 GROUP BY 1, 2)
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(covered_us) AS BIGINT) AS covered_us
    FROM islands GROUP BY 1 ORDER BY user_id
"""

ORACLE_SQL["x249_market_concentration"] = """
    WITH rev AS (
        SELECT n_name, s_suppkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(38,6))) AS DOUBLE) AS rev
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT n_name,
               CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS nation_rev,
               COUNT(*) AS n_suppliers
        FROM rev GROUP BY 1
    ), shares AS (
        SELECT r.n_name, t.n_suppliers, r.rev / t.nation_rev AS share
        FROM rev r JOIN tot t USING (n_name))
    SELECT n_name, CAST(n_suppliers AS BIGINT) AS n_suppliers,
           ROUND(CAST(SUM(CAST(share * share AS DECIMAL(38,6))) AS DOUBLE)
                 * 10000, 6) AS hhi,
           ROUND(MAX(share), 6) AS top_share
    FROM shares GROUP BY 1, 2 ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# wave 39 (round 5): SQL UDFs, schema evolution, RESTORE, naive Bayes
# ---------------------------------------------------------------------------

ORACLE_SQL["x250_sql_udf"] = """
    SELECT CASE WHEN l_quantity < 10 THEN 'small'
                WHEN l_quantity < 30 THEN 'medium'
                ELSE 'large' END AS band,
           l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax) AS DECIMAL(38,6)))
                      AS DOUBLE), 4) AS net_revenue
    FROM lineitem
    GROUP BY 1, 2
    ORDER BY band, l_returnflag
"""

ORACLE_SQL["x251_schema_evolution_read"] = """
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
                ELSE '<pre-evolution>' END AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                      AS DOUBLE), 4) AS total_price
    FROM orders
    GROUP BY 1 ORDER BY priority
"""

ORACLE_SQL["x252_lakehouse_restore"] = """
    WITH states AS (
        SELECT 1 AS version, 'create' AS op, o_totalprice
        FROM orders WHERE o_orderkey % 4 = 0
        UNION ALL
        SELECT 2, 'append', o_totalprice
        FROM orders WHERE o_orderkey % 4 IN (0, 2)
        UNION ALL
        SELECT 3, 'delete', o_totalprice
        FROM orders WHERE o_orderkey % 4 IN (0, 2) AND o_orderkey % 8 <> 0
        UNION ALL
        SELECT 4, 'restore', o_totalprice
        FROM orders WHERE o_orderkey % 4 = 0)
    SELECT version, MIN(op) AS op,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                      AS DOUBLE), 4) AS total_price
    FROM states GROUP BY version ORDER BY version
"""

ORACLE_SQL["x253_naive_bayes_langid"] = """
    WITH docs AS (
        SELECT doc_id, lang, lower(text) AS t
        FROM documents WHERE length(lower(text)) >= 2
    ), grams AS (
        SELECT doc_id, lang, substr(t, CAST(i AS INT), 2) AS g
        FROM (SELECT doc_id, lang, t,
                     unnest(range(1, length(t))) AS i
              FROM docs)
    ), counts AS (
        SELECT g, lang AS model_lang, COUNT(*) AS c FROM grams GROUP BY 1, 2
    ), vocab AS (SELECT COUNT(DISTINCT g) AS v FROM grams),
    lstat AS (
        SELECT lang AS model_lang, COUNT(*) AS n_grams_lang
        FROM grams GROUP BY 1
    ), prior AS (
        SELECT lang AS model_lang, COUNT(*) AS n_docs_lang
        FROM docs GROUP BY 1
    ), alln AS (SELECT COUNT(*) AS n_docs_all FROM docs),
    meta AS (
        SELECT doc_id, lang, length(t) - 1 AS n_grams_doc FROM docs
    ), overlap AS (
        SELECT dg.doc_id, c.model_lang,
               CAST(SUM(CAST(ln(c.c + 1) AS DECIMAL(38,6))) AS DOUBLE)
                   AS log_match
        FROM grams dg JOIN counts c ON dg.g = c.g
        GROUP BY 1, 2
    ), scored AS (
        SELECT m.doc_id, m.lang, ls.model_lang,
               ln(p.n_docs_lang / a.n_docs_all)
                 + COALESCE(o.log_match, 0.0)
                 - m.n_grams_doc * ln(ls.n_grams_lang + v.v) AS score
        FROM meta m
        CROSS JOIN lstat ls
        JOIN prior p USING (model_lang)
        CROSS JOIN alln a CROSS JOIN vocab v
        LEFT JOIN overlap o
          ON o.doc_id = m.doc_id AND o.model_lang = ls.model_lang
    ), pred AS (
        SELECT doc_id, lang, model_lang FROM scored
        QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY ROUND(score, 6) DESC,
                                            model_lang) = 1)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN model_lang = lang THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           ROUND(SUM(CASE WHEN model_lang = lang THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS accuracy
    FROM pred GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# wave 40 (round 5): bootstrap CI, proportion z, cohort LTV, seasonality
# ---------------------------------------------------------------------------

_BOOT_W = (
    f"CASE WHEN h < '{ST.BOOTSTRAP_CUTS[0]}' THEN 0 "
    f"WHEN h < '{ST.BOOTSTRAP_CUTS[1]}' THEN 1 "
    f"WHEN h < '{ST.BOOTSTRAP_CUTS[2]}' THEN 2 "
    f"WHEN h < '{ST.BOOTSTRAP_CUTS[3]}' THEN 3 ELSE 4 END"
)
ORACLE_SQL["x254_bootstrap_ci"] = f"""
    WITH reps AS (SELECT unnest(range(1, {ST.BOOTSTRAP_B} + 1)) AS b),
    fan AS (
        SELECT b, o_totalprice,
               substr(sha256(concat(CAST(o_orderkey AS VARCHAR), '|',
                                    CAST((b - 1) // 16 AS VARCHAR))),
                      ((b - 1) % 16) * 4 + 1, 4) AS h
        FROM orders CROSS JOIN reps
    ), weighted AS (
        SELECT b, o_totalprice, {_BOOT_W} AS w FROM fan
    ), means AS (
        SELECT b,
               CAST(SUM(CAST(w * o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   / SUM(w) AS mean_b
        FROM weighted GROUP BY b
    ), act AS (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*) AS mean_all,
               COUNT(*) AS n_orders
        FROM orders)
    SELECT CAST(n_orders AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_replicates,
           ROUND(mean_all, 6) AS mean_order_value,
           ROUND(quantile_cont(mean_b, 0.025), 6) AS ci_lo,
           ROUND(quantile_cont(mean_b, 0.975), 6) AS ci_hi
    FROM means CROSS JOIN act
    GROUP BY n_orders, mean_all
"""

ORACLE_SQL["x255_two_proportion_z"] = f"""
    WITH sample AS (
        SELECT c_mktsegment = '{ST.TTEST_SEG_A}' AS is_a,
               CASE WHEN o_orderpriority = '{ST.ZTEST_PRIORITY}'
                    THEN 1 ELSE 0 END AS hit
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('{ST.TTEST_SEG_A}', '{ST.TTEST_SEG_B}')
    ), agg AS (
        SELECT COUNT(CASE WHEN is_a THEN 1 END) AS n_a,
               SUM(CASE WHEN is_a THEN hit END) AS x_a,
               COUNT(CASE WHEN NOT is_a THEN 1 END) AS n_b,
               SUM(CASE WHEN NOT is_a THEN hit END) AS x_b
        FROM sample
    ), d AS (
        SELECT n_a, x_a, n_b, x_b,
               CAST(x_a AS DOUBLE) / n_a AS p_a,
               CAST(x_b AS DOUBLE) / n_b AS p_b,
               CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS pool,
               CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb
        FROM agg)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
           ROUND(p_a, 6) AS rate_a, ROUND(p_b, 6) AS rate_b,
           ROUND((p_a - p_b)
                 / sqrt(pool * (1 - pool) * (1 / na + 1 / nb)), 6) AS z_stat
    FROM d
"""

ORACLE_SQL["x256_cohort_ltv"] = f"""
    WITH firsts AS (
        SELECT o_custkey,
               CAST(date_trunc('month', MIN(CAST(o_orderdate AS TIMESTAMP)))
                    AS DATE) AS cohort_month
        FROM orders GROUP BY 1
    ), sizes AS (
        SELECT cohort_month, COUNT(*) AS n_customers FROM firsts GROUP BY 1
    ), grid AS (
        SELECT f.cohort_month,
               (year(o.o_orderdate) - year(f.cohort_month)) * 12
                 + (month(o.o_orderdate) - month(f.cohort_month)) AS "offset",
               SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS rev
        FROM orders o JOIN firsts f USING (o_custkey)
        GROUP BY 1, 2
        HAVING "offset" <= {AN.LTV_MAX_OFFSET}
    ), cum AS (
        SELECT cohort_month, "offset",
               SUM(rev) OVER (PARTITION BY cohort_month ORDER BY "offset"
                              ROWS UNBOUNDED PRECEDING) AS cum_rev
        FROM grid)
    SELECT c.cohort_month, CAST(c.offset AS INT) AS "offset",
           CAST(s.n_customers AS BIGINT) AS n_customers,
           ROUND(CAST(c.cum_rev AS DOUBLE) / s.n_customers, 6)
               AS ltv_per_customer
    FROM cum c JOIN sizes s USING (cohort_month)
    ORDER BY cohort_month, "offset"
"""

ORACLE_SQL["x257_dow_seasonality"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
        FROM orders GROUP BY 1
    ), d2 AS (
        SELECT CAST(isodow(d) AS INT) AS dow, rev FROM daily
    ), g AS (
        SELECT CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                   AS grand_mean
        FROM daily
    ), per AS (
        SELECT dow, COUNT(*) AS n_days,
               CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                   AS dow_mean,
               CAST(SUM(CAST(rev * rev AS DECIMAL(38,6))) AS DOUBLE) AS ss
        FROM d2 GROUP BY 1)
    SELECT dow, CAST(n_days AS BIGINT) AS n_days,
           ROUND(dow_mean, 4) AS dow_mean,
           ROUND(dow_mean / grand_mean, 6) AS seasonal_index,
           ROUND(sqrt(GREATEST(
               ss / ((dow_mean / grand_mean) * (dow_mean / grand_mean))
                  / n_days
                 - grand_mean * grand_mean, 0.0)), 4) AS deseason_std
    FROM per CROSS JOIN g ORDER BY dow
"""


# ---------------------------------------------------------------------------
# wave 41 (round 5): Zipf fit, burstiness, mergeable HLL sketches
# ---------------------------------------------------------------------------

ORACLE_SQL["x258_zipf_fit"] = f"""
    WITH vocab AS (
        SELECT tok, COUNT(*) AS n
        FROM (SELECT unnest(list_filter(
                         regexp_split_to_array(lower(text), '[^a-z]+'),
                         t -> len(t) > 0)) AS tok
              FROM documents)
        GROUP BY tok HAVING COUNT(*) >= {T.ZIPF_MIN_COUNT}
    ), ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rank
        FROM vocab
    ), xy AS (
        SELECT ln(rank) AS x, ln(n) AS y FROM ranked
    ), s AS (
        SELECT COUNT(*) AS m,
               CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        FROM xy)
    SELECT CAST(m AS BIGINT) AS n_vocab,
           ROUND(-(m * sxy - sx * sy) / (m * sxx - sx * sx), 4) AS zipf_alpha,
           ROUND((m * sxy - sx * sy) * (m * sxy - sx * sy)
                 / ((m * sxx - sx * sx) * (m * syy - sy * sy)), 4) AS r2
    FROM s
"""

ORACLE_SQL["x259_token_burstiness"] = f"""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    per_doc AS (
        SELECT tok, doc_id, COUNT(*) AS x
        FROM (SELECT doc_id, unnest(list_filter(
                         regexp_split_to_array(lower(text), '[^a-z]+'),
                         t -> len(t) > 0)) AS tok
              FROM documents)
        GROUP BY 1, 2
    ), stats AS (
        SELECT tok, SUM(x) AS n_total, COUNT(*) AS n_docs_with,
               CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        FROM per_doc GROUP BY tok)
    SELECT tok, CAST(n_total AS BIGINT) AS n_total,
           CAST(n_docs_with AS BIGINT) AS n_docs_with,
           ROUND((sxx / n_docs - (n_total / n_docs) * (n_total / n_docs))
                 / (n_total / n_docs), 6) AS fano
    FROM stats CROSS JOIN n
    ORDER BY n_total DESC, tok LIMIT {T.BURST_TOP_N}
"""


# ---------------------------------------------------------------------------
# wave 42 (round 5): the final three TPC-H shapes — all 22 now covered
# ---------------------------------------------------------------------------

ORACLE_SQL["x261_local_supplier_volume"] = """
    SELECT n_name,
           ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(38,6))) AS DOUBLE), 4) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
"""

ORACLE_SQL["x262_forecast_revenue_change"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(CAST(SUM(CAST(l_extendedprice * l_discount
                               AS DECIMAL(38,6))) AS DOUBLE), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
"""

ORACLE_SQL["x263_waiting_suppliers"] = f"""
    WITH j AS (
        SELECT l_orderkey, l_suppkey,
               CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS is_late
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
    ), per_order AS (
        SELECT l_orderkey,
               COUNT(DISTINCT l_suppkey) AS n_suppliers,
               COUNT(DISTINCT CASE WHEN is_late = 1 THEN l_suppkey END)
                   AS n_late_suppliers
        FROM j GROUP BY 1
    ), waited AS (
        SELECT DISTINCT j.l_orderkey, j.l_suppkey
        FROM j
        JOIN per_order p ON p.l_orderkey = j.l_orderkey
        WHERE j.is_late = 1
          AND p.n_suppliers > 1 AND p.n_late_suppliers = 1)
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM waited JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT {TP.WAITING_TOP_N}
"""


# ---------------------------------------------------------------------------
# wave 43 (round 5): malformed-CSV quarantine, mapInArrow, k-anonymity
# ---------------------------------------------------------------------------

ORACLE_SQL["x264_malformed_csv"] = f"""
    SELECT CAST({SNK._N_CORRUPT} AS BIGINT) AS n_corrupt,
           CAST(COUNT(*) AS BIGINT) AS n_clean,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                      AS DOUBLE), 4) AS clean_total
    FROM orders
"""

ORACLE_SQL["x265_arrow_doc_stats"] = """
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars,
           CAST(SUM(length(text) - length(replace(text, ' ', '')))
                AS BIGINT) AS total_spaces
    FROM documents GROUP BY lang ORDER BY lang
"""

ORACLE_SQL["x266_k_anonymity"] = f"""
    WITH classes AS (
        SELECT n_name, c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               COUNT(*) AS class_size
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2, 3)
    SELECT n_name, c_mktsegment, bal_band,
           CAST(class_size AS BIGINT) AS class_size
    FROM classes WHERE class_size < {C.K_ANON_K}
    ORDER BY class_size, n_name, c_mktsegment, bal_band
    LIMIT {C.K_ANON_TOP_N}
"""


# ---------------------------------------------------------------------------
# wave 44 (round 5): label propagation, pipe syntax, collations
# ---------------------------------------------------------------------------


def _label_prop_oracle(n_rounds: int = G.LPA_ROUNDS) -> str:
    """Synchronous LPA unrolled as chained CTEs (the x59 pattern):
    each round is a mode-with-min-tiebreak aggregate — integer counts
    and integer labels only, so both engines replay it bit-exactly."""
    rounds = []
    for i in range(1, n_rounds + 1):
        rounds.append(f"""lp{i} AS (
        SELECT node, label FROM (
            SELECT e.v AS node, p.label, COUNT(*) AS cnt,
                   ROW_NUMBER() OVER (PARTITION BY e.v
                                      ORDER BY COUNT(*) DESC, p.label) AS rk
            FROM edges e JOIN lp{i - 1} p ON p.node = e.u
            GROUP BY e.v, p.label)
        WHERE rk = 1
    )""")
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks)
    ), pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    pairs AS (
        SELECT doc_a, doc_b
        FROM pair_inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.8
    ), edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ), lp0 AS (SELECT DISTINCT u AS node, u AS label FROM edges),
    {rounds_sql},
    sizes_c AS (SELECT label, COUNT(*) AS community_size
                FROM lp{n_rounds} GROUP BY label)
    SELECT l.node AS doc_id, l.label AS community,
           CAST(s.community_size AS BIGINT) AS community_size
    FROM lp{n_rounds} l JOIN sizes_c s USING (label)
    ORDER BY doc_id
"""


ORACLE_SQL["x267_label_propagation"] = _label_prop_oracle()

ORACLE_SQL["x268_pipe_syntax"] = """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6)))
                 AS DOUBLE), 4) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(38,6))) AS DOUBLE), 4) AS sum_disc_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""

ORACLE_SQL["x269_collated_grouping"] = """
    SELECT lower(o_orderpriority) AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                 AS DOUBLE), 4) AS total_price
    FROM orders
    GROUP BY 1 ORDER BY priority
"""


# ---------------------------------------------------------------------------
# wave 45 (round 5): manifest Bloom index + pruned point lookup
# ---------------------------------------------------------------------------

ORACLE_SQL["x270_bloom_point_lookup"] = f"""
    SELECT o_orderkey, o_orderstatus,
           ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_orderkey % 4 = 0
    ORDER BY o_orderkey
    LIMIT {LH.LOOKUP_N_KEYS}
"""


# ---------------------------------------------------------------------------
# wave 46 (round 5): streaming sketch state, LATERAL top-k
# ---------------------------------------------------------------------------

ORACLE_SQL["x272_lateral_topk"] = f"""
    SELECT n_name, c_name, c_acctbal FROM (
        SELECT n.n_name, c.c_name, ROUND(c.c_acctbal, 2) AS c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY n.n_nationkey
                                  ORDER BY c.c_acctbal DESC, c.c_name) AS rk
        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey)
    WHERE rk <= {RX.LATERAL_TOP_K}
    ORDER BY n_name, c_acctbal DESC, c_name
"""


# ---------------------------------------------------------------------------
# wave 47 (round 5): data expectations, metadata-only ANALYZE
# ---------------------------------------------------------------------------

ORACLE_SQL["x273_data_expectations"] = """
    WITH checks AS (
        SELECT 'unique:o_orderkey' AS expectation,
               COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'not_null:o_custkey',
               COUNT(CASE WHEN o_custkey IS NULL THEN 1 END)
        FROM orders
        UNION ALL
        SELECT 'positive:o_totalprice',
               COUNT(CASE WHEN NOT (o_totalprice > 0) THEN 1 END)
        FROM orders
        UNION ALL
        SELECT 'in_range:o_orderdate',
               COUNT(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                            OR o_orderdate >= TIMESTAMP '2003-01-01'
                          THEN 1 END)
        FROM orders
        UNION ALL
        SELECT 'fk:o_custkey->customer',
               COUNT(*)
        FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
    SELECT expectation, CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS passed
    FROM checks ORDER BY expectation
"""

ORACLE_SQL["x274_manifest_table_stats"] = """
    WITH v1 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 4 = 0),
    v2 AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 4 IN (0, 1)),
    v3 AS (SELECT o_orderkey AS k FROM orders
           WHERE o_orderkey % 4 IN (0, 1) AND o_orderkey % 16 <> 0),
    states AS (
        SELECT 1 AS version, 'create' AS op, COUNT(*) AS total_rows,
               MIN(k) AS min_key, MAX(k) AS max_key FROM v1
        UNION ALL
        SELECT 2, 'merge', COUNT(*), MIN(k), MAX(k) FROM v2
        UNION ALL
        SELECT 3, 'merge', COUNT(*), MIN(k), MAX(k) FROM v3)
    SELECT CAST(version AS INT) AS version, op,
           CAST(total_rows AS BIGINT) AS total_rows,
           CAST(min_key AS BIGINT) AS min_key,
           CAST(max_key AS BIGINT) AS max_key
    FROM states ORDER BY version
"""


# ---------------------------------------------------------------------------
# wave 48 (round 5): civil time, error-safe arithmetic, JSON inference
# ---------------------------------------------------------------------------

ORACLE_SQL["x275_local_day_rollup"] = f"""
    SELECT CAST(timezone('{RX.BUSINESS_TZ}',
                         timezone('UTC', CAST(ts AS TIMESTAMP))) AS DATE)
               AS local_day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY local_day, event_type
"""

ORACLE_SQL["x276_try_arithmetic"] = """
    SELECT l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(COUNT(CASE WHEN l_discount = 0 THEN 1 END) AS BIGINT)
               AS n_zero_discount,
           CAST(COUNT(CASE WHEN l_discount <> 0 THEN 1 END) AS BIGINT)
               AS n_with_ratio,
           ROUND(CAST(SUM(CAST(CASE WHEN l_discount <> 0
                                    THEN l_extendedprice / l_discount
                               END AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(CASE WHEN l_discount <> 0 THEN 1 END), 4)
               AS avg_price_per_disc,
           CAST(COUNT(TRY_CAST(substr(l_returnflag, 1, 1) AS INT)) AS BIGINT)
               AS n_numeric_flags
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
"""

ORACLE_SQL["x277_json_schema_inference"] = """
    SELECT event_type,
           CAST(COUNT(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS n_parsed,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS k_total,
           ROUND(CAST(SUM(CAST(CAST(props->>'$.k' AS BIGINT)
                               AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(CAST(props->>'$.k' AS BIGINT)), 4) AS k_mean
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# wave 49 (round 5): rank-order lang-ID, item recs, l-diversity
# ---------------------------------------------------------------------------

ORACLE_SQL["x278_rank_order_langid"] = f"""
    WITH docs AS (
        SELECT doc_id, lang, lower(text) AS t
        FROM documents WHERE length(lower(text)) >= 3
    ), grams AS (
        SELECT doc_id, lang, substr(t, CAST(i AS INT), 3) AS g
        FROM (SELECT doc_id, lang, t,
                     unnest(range(1, length(t) - 1)) AS i
              FROM docs)
    ), profiles AS (
        SELECT model_lang, g, r_lang FROM (
            SELECT lang AS model_lang, g, COUNT(*) AS n,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY COUNT(*) DESC, g) AS r_lang
            FROM grams GROUP BY lang, g)
        WHERE r_lang <= {T.CT_PROFILE_N}
    ), doc_ranks AS (
        SELECT doc_id, true_lang, g, r_doc FROM (
            SELECT doc_id, lang AS true_lang, g, COUNT(*) AS n,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY COUNT(*) DESC, g) AS r_doc
            FROM grams GROUP BY doc_id, lang, g)
        WHERE r_doc <= {T.CT_DOC_M}
    ), langs AS (SELECT DISTINCT model_lang FROM profiles),
    scored AS (
        SELECT d.doc_id, d.true_lang, l.model_lang,
               SUM(COALESCE(abs(d.r_doc - p.r_lang),
                            {T.CT_PROFILE_N})) AS oop
        FROM doc_ranks d
        CROSS JOIN langs l
        LEFT JOIN profiles p
          ON p.model_lang = l.model_lang AND p.g = d.g
        GROUP BY 1, 2, 3
    ), pred AS (
        SELECT doc_id, true_lang, model_lang FROM scored
        QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY oop, model_lang) = 1)
    SELECT true_lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN model_lang = true_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           ROUND(SUM(CASE WHEN model_lang = true_lang THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS accuracy
    FROM pred GROUP BY 1 ORDER BY lang
"""

ORACLE_SQL["x279_item_recommendations"] = f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), freq AS (
        SELECT l_partkey AS p, COUNT(*) AS n FROM basket GROUP BY 1
    ), pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
        FROM basket a
        JOIN basket b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= {AN.RECS_MIN_SUPPORT}
    ), sym AS (
        SELECT pa, pb, support FROM pairs
        UNION ALL
        SELECT pb, pa, support FROM pairs
    ), scored AS (
        SELECT s.pa, s.pb, s.support,
               s.support / sqrt(fa.n * fb.n) AS cos
        FROM sym s
        JOIN freq fa ON fa.p = s.pa
        JOIN freq fb ON fb.p = s.pb)
    SELECT pa AS part, CAST(rk AS INT) AS rk, pb AS rec_part,
           CAST(support AS BIGINT) AS support, ROUND(cos, 6) AS cosine
    FROM (SELECT pa, pb, support, cos,
                 ROW_NUMBER() OVER (PARTITION BY pa
                                    ORDER BY cos DESC, pb) AS rk
          FROM scored)
    WHERE rk <= {AN.RECS_TOP_K}
    ORDER BY part, rk
"""

ORACLE_SQL["x280_l_diversity"] = f"""
    WITH classes AS (
        SELECT n_name,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               COUNT(*) AS class_size,
               COUNT(DISTINCT c_mktsegment) AS l_div
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2)
    SELECT n_name, bal_band,
           CAST(class_size AS BIGINT) AS class_size,
           CAST(l_div AS BIGINT) AS l_div
    FROM classes WHERE l_div < {C.L_DIVERSITY_L}
    ORDER BY l_div, class_size, n_name, bal_band
    LIMIT {C.L_DIV_TOP_N}
"""


# ---------------------------------------------------------------------------
# wave 50 (round 5): association rules, readability, assortativity
# ---------------------------------------------------------------------------

ORACLE_SQL["x281_association_rules"] = f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey, p_brand AS l_partkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n_orders AS (
        SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM basket
    ), item AS (
        SELECT l_partkey AS c, COUNT(*) AS supp_c FROM basket GROUP BY 1
    ), pairs AS (
        SELECT a.l_orderkey AS ok, a.l_partkey AS pa, b.l_partkey AS pb
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), pair_supp AS (
        SELECT pa, pb, COUNT(*) AS supp_ab FROM pairs GROUP BY 1, 2
        HAVING COUNT(*) >= {AN.RULES_MIN_SUPPORT}
    ), triples AS (
        SELECT p.pa, p.pb, c.l_partkey AS pc, ps.supp_ab,
               COUNT(*) AS supp_abc
        FROM pairs p
        JOIN pair_supp ps USING (pa, pb)
        JOIN basket c ON c.l_orderkey = p.ok
                     AND c.l_partkey <> p.pa AND c.l_partkey <> p.pb
        GROUP BY 1, 2, 3, 4
        HAVING COUNT(*) >= {AN.RULES_MIN_SUPPORT}
    )
    SELECT pa, pb, pc,
           CAST(supp_abc AS BIGINT) AS support,
           ROUND(supp_abc / supp_ab, 6) AS confidence,
           ROUND((supp_abc / supp_ab) / (supp_c / n_orders), 6) AS lift
    FROM triples JOIN item ON c = pc CROSS JOIN n_orders
    ORDER BY lift DESC, pa, pb, pc
    LIMIT {AN.RULES_TOP_N}
"""

ORACLE_SQL["x282_readability"] = """
    WITH counted AS (
        SELECT lang,
               GREATEST(len(regexp_split_to_array(t, '[.!?]+')) - 1, 1)
                   AS sentences,
               len(list_filter(regexp_split_to_array(t, '[^a-z]+'),
                               w -> len(w) > 0)) AS words,
               len(list_filter(regexp_split_to_array(t, '[^aeiouy]+'),
                               v -> len(v) > 0)) AS syllables
        FROM (SELECT lang, lower(text) AS t FROM documents))
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS words,
           ROUND(SUM(words) / SUM(sentences), 4) AS words_per_sentence,
           ROUND(SUM(syllables) / SUM(words), 4) AS syllables_per_word,
           ROUND(CAST(SUM(CAST(206.835 - 1.015 * (words / sentences)
                               - 84.6 * (syllables / words)
                          AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 4)
               AS mean_flesch
    FROM counted WHERE words > 0
    GROUP BY lang ORDER BY lang
"""

ORACLE_SQL["x283_degree_assortativity"] = """
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks)
    ), pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    prs AS (
        SELECT doc_a, doc_b FROM pair_inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.8
    ), edges AS (
        SELECT doc_a AS u, doc_b AS v FROM prs
        UNION ALL SELECT doc_b, doc_a FROM prs
    ), deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    ed AS (
        SELECT du.d AS du, dv.d AS dv
        FROM edges e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
    ), s AS (
        SELECT COUNT(*) AS m,
               CAST(SUM(CAST(du AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(dv AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(du * du AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(dv * dv AS DECIMAL(38,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(du * dv AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        FROM ed)
    SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           ROUND((m * sxy - sx * sy)
                 / sqrt((m * sxx - sx * sx) * (m * syy - sy * sy)), 6)
               AS assortativity
    FROM s
"""


# ---------------------------------------------------------------------------
# wave 51 (round 5): sketch algebra, conversion latency, vacuum
# ---------------------------------------------------------------------------

ORACLE_SQL["x285_conversion_latency"] = """
    WITH views AS (
        SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS view_us
        FROM events WHERE event_type = 'view' GROUP BY 1
    ), lat AS (
        SELECT e.user_id,
               MIN(epoch_us(CAST(e.ts AS TIMESTAMP))) - MIN(v.view_us) AS lat_us
        FROM events e JOIN views v ON e.user_id = v.user_id
        WHERE e.event_type = 'click'
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= v.view_us
        GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converting_users,
           ROUND(quantile_cont(lat_us, 0.5) / 1e6, 4) AS p50_s,
           ROUND(quantile_cont(lat_us, 0.9) / 1e6, 4) AS p90_s,
           ROUND(quantile_cont(lat_us, 0.99) / 1e6, 4) AS p99_s,
           ROUND(CAST(SUM(CAST(lat_us / 1e6 AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 4) AS mean_s
    FROM lat
"""

ORACLE_SQL["x286_vacuum_audit"] = """
    SELECT CAST(3 AS INT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS files_reclaimed,
           CAST(2 AS INT) AS n_versions_reaped
    FROM orders WHERE o_orderkey % 8 IN (0, 1)
"""


# ---------------------------------------------------------------------------
# wave 52 (round 5): GROUP BY ALL, IDENTIFIER templating
# ---------------------------------------------------------------------------

# deliberately the SAME modern shorthand both engines now share
ORACLE_SQL["x287_group_by_all"] = """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                 AS DOUBLE), 4) AS total_price
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
"""

ORACLE_SQL["x288_identifier_template"] = f"""
    SELECT {RX.TEMPLATE_DIM} AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                 AS DOUBLE), 4) AS total_price
    FROM orders
    GROUP BY {RX.TEMPLATE_DIM}
    ORDER BY dim
"""


# ---------------------------------------------------------------------------
# wave 53 (round 5): t-closeness, Spearman, Kolmogorov–Smirnov
# ---------------------------------------------------------------------------

ORACLE_SQL["x289_t_closeness"] = """
    WITH base AS (
        SELECT n_name,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
               c_mktsegment
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    ), cls_seg AS (
        SELECT n_name, bal_band, c_mktsegment, COUNT(*) AS n_cs
        FROM base GROUP BY 1, 2, 3
    ), classes AS (
        SELECT n_name, bal_band, SUM(n_cs) AS class_size
        FROM cls_seg GROUP BY 1, 2
    ), gseg AS (
        SELECT c_mktsegment, COUNT(*) AS n_s,
               SUM(COUNT(*)) OVER () AS n_total
        FROM base GROUP BY 1
    ), dist AS (
        SELECT c.n_name, c.bal_band, c.class_size,
               CAST(SUM(abs(CAST(COALESCE(cs.n_cs, 0) AS HUGEINT) * g.n_total
                            - CAST(g.n_s AS HUGEINT) * c.class_size))
                    AS DOUBLE)
               / (2 * CAST(c.class_size AS DOUBLE) * MAX(g.n_total)) AS t_dist
        FROM classes c CROSS JOIN gseg g
        LEFT JOIN cls_seg cs
          ON cs.n_name = c.n_name AND cs.bal_band = c.bal_band
         AND cs.c_mktsegment = g.c_mktsegment
        GROUP BY 1, 2, 3
    )
    SELECT n_name, bal_band, CAST(class_size AS BIGINT) AS class_size,
           ROUND(t_dist, 6) AS t_dist
    FROM dist
    WHERE t_dist > 0.30
    ORDER BY t_dist DESC, n_name, bal_band
    LIMIT 25
"""

ORACLE_SQL["x290_spearman_daily"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*) AS avg_price
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT CAST(2 * rank() OVER (ORDER BY n_orders)
                    + COUNT(*) OVER (PARTITION BY n_orders) - 1 AS BIGINT) AS rx,
               CAST(2 * rank() OVER (ORDER BY avg_price)
                    + COUNT(*) OVER (PARTITION BY avg_price) - 1 AS BIGINT) AS ry
        FROM daily
    ), s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(rx AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(ry AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(rx * rx AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(ry * ry AS DECIMAL(38,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(rx * ry AS DECIMAL(38,6))) AS DOUBLE) AS sxy
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS spearman_rho
    FROM s
"""

_KS_SCALE = "sqrt(CAST(n_a + n_b AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b))"
ORACLE_SQL["x291_ks_test"] = f"""
    WITH per_val AS (
        SELECT o_totalprice AS val,
               SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS t_a,
               SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS t_b
        FROM orders WHERE o_orderstatus IN ('F', 'O') GROUP BY 1
    ), cum AS (
        SELECT SUM(t_a) OVER (ORDER BY val) AS ca,
               SUM(t_b) OVER (ORDER BY val) AS cb
        FROM per_val
    ), t AS (
        SELECT CAST(SUM(t_a) AS BIGINT) AS n_a,
               CAST(SUM(t_b) AS BIGINT) AS n_b
        FROM per_val
    ), d AS (
        SELECT MAX(abs(CAST(ca AS DOUBLE) / n_a - CAST(cb AS DOUBLE) / n_b))
                   AS d_stat,
               MAX(n_a) AS n_a, MAX(n_b) AS n_b
        FROM cum CROSS JOIN t
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(d_stat, 6) AS d_stat,
           ROUND({ST.KS_C_05!r} * {_KS_SCALE}, 6) AS crit_5pct,
           ROUND({ST.KS_C_01!r} * {_KS_SCALE}, 6) AS crit_1pct,
           d_stat > {ST.KS_C_05!r} * {_KS_SCALE} AS reject_5pct,
           d_stat > {ST.KS_C_01!r} * {_KS_SCALE} AS reject_1pct
    FROM d
"""


# ---------------------------------------------------------------------------
# wave 54 (round 5): eigenvector centrality, Cramér's V, EXCEPT ALL
# ---------------------------------------------------------------------------


def _eigenvector_oracle(n_iter: int = G.EV_ITERS) -> str:
    """Fixed-iteration L1-normalized power iteration as chained CTEs
    over the same x6 near-dup graph as the x59 oracle.  Float parity:
    per-node contribution sums AND the L1 norm go through
    DECIMAL(38,18) in both engines — the identical expression shape
    ``graph.eigenvector_centrality`` evaluates."""
    rounds = []
    for i in range(1, n_iter + 1):
        rounds.append(f"""ev{i} AS MATERIALIZED (
        SELECT e.v AS node,
               CAST(SUM(CAST(p.score AS DECIMAL(38,18))) AS DOUBLE) AS s
        FROM edges e JOIN evn{i - 1} p ON p.node = e.u
        GROUP BY e.v
    ), evn{i} AS (
        SELECT node,
               s / (SELECT CAST(SUM(CAST(s AS DECIMAL(38,18))) AS DOUBLE)
                    FROM ev{i}) AS score
        FROM ev{i}
    )""")
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), shingles AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks)
    ), pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    prs AS (
        SELECT doc_a, doc_b
        FROM pair_inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.8
    ), edges AS (
        SELECT doc_a AS u, doc_b AS v FROM prs
        UNION
        SELECT doc_b, doc_a FROM prs
    ), nodes AS (SELECT DISTINCT u AS node FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    evn0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS score
             FROM nodes CROSS JOIN nn),
    {rounds_sql}
    SELECT node AS doc_id, ROUND(score, 6) AS score
    FROM evn{n_iter}
    ORDER BY doc_id
"""


ORACLE_SQL["x292_eigenvector_centrality"] = _eigenvector_oracle()

ORACLE_SQL["x293_cramers_v"] = """
    WITH c1 AS (
        SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS o
        FROM orders GROUP BY 1, 2
    ), r1 AS (SELECT a, SUM(o) AS rt FROM c1 GROUP BY 1),
    k1 AS (SELECT b, SUM(o) AS ct FROM c1 GROUP BY 1),
    t1 AS (
        SELECT CAST(c1.o AS DOUBLE) * c1.o
               / (CAST(r1.rt AS DOUBLE) * k1.ct) AS term, c1.o, c1.a, c1.b
        FROM c1 JOIN r1 USING (a) JOIN k1 USING (b)
    ), a1 AS (
        SELECT SUM(o) AS n, COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c,
               CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE) AS s
        FROM t1
    ), c2 AS (
        SELECT l_returnflag AS a, l_linestatus AS b, COUNT(*) AS o
        FROM lineitem GROUP BY 1, 2
    ), r2 AS (SELECT a, SUM(o) AS rt FROM c2 GROUP BY 1),
    k2 AS (SELECT b, SUM(o) AS ct FROM c2 GROUP BY 1),
    t2 AS (
        SELECT CAST(c2.o AS DOUBLE) * c2.o
               / (CAST(r2.rt AS DOUBLE) * k2.ct) AS term, c2.o, c2.a, c2.b
        FROM c2 JOIN r2 USING (a) JOIN k2 USING (b)
    ), a2 AS (
        SELECT SUM(o) AS n, COUNT(DISTINCT a) AS r, COUNT(DISTINCT b) AS c,
               CAST(SUM(CAST(term AS DECIMAL(38,18))) AS DOUBLE) AS s
        FROM t2
    ), u AS (
        SELECT 'orders:status_x_priority' AS pair, n, r, c, s FROM a1
        UNION ALL
        SELECT 'lineitem:flag_x_status' AS pair, n, r, c, s FROM a2
    )
    SELECT pair,
           CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE) * (s - 1), 4) AS chi2,
           CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
           ROUND(sqrt((CAST(n AS DOUBLE) * (s - 1))
                      / (CAST(n AS DOUBLE) * least(r - 1, c - 1))), 6)
               AS cramers_v
    FROM u
    ORDER BY pair
"""

ORACLE_SQL["x294_except_all"] = f"""
    WITH li AS (
        SELECT l_partkey, year(CAST(l_shipdate AS DATE)) AS yr FROM lineitem
    ), s AS (
        SELECT l_partkey FROM li WHERE yr = {RX.EXCEPT_ALL_YR_A}
        EXCEPT ALL
        SELECT l_partkey FROM li WHERE yr = {RX.EXCEPT_ALL_YR_B}
    ), surv AS (SELECT l_partkey, COUNT(*) AS surviving FROM s GROUP BY 1),
    na AS (SELECT l_partkey, COUNT(*) AS n_a FROM li
           WHERE yr = {RX.EXCEPT_ALL_YR_A} GROUP BY 1),
    nb AS (SELECT l_partkey, COUNT(*) AS n_b FROM li
           WHERE yr = {RX.EXCEPT_ALL_YR_B} GROUP BY 1)
    SELECT CAST(surv.l_partkey AS BIGINT) AS l_partkey,
           CAST(na.n_a AS BIGINT) AS n_a,
           CAST(COALESCE(nb.n_b, 0) AS BIGINT) AS n_b,
           CAST(surviving AS BIGINT) AS surviving,
           surviving = greatest(na.n_a - COALESCE(nb.n_b, 0), 0)
               AS matches_closed_form
    FROM surv JOIN na USING (l_partkey) LEFT JOIN nb USING (l_partkey)
    ORDER BY surviving DESC, l_partkey
    LIMIT {RX.EXCEPT_ALL_TOP_N}
"""


# ---------------------------------------------------------------------------
# wave 55 (round 5): Kruskal-Wallis, Benjamini-Hochberg FDR
# ---------------------------------------------------------------------------

ORACLE_SQL["x295_kruskal_wallis"] = """
    WITH sample AS (
        SELECT o_totalprice AS val, o_orderpriority AS grp FROM orders
    ), r AS (
        SELECT val, ROW_NUMBER() OVER (ORDER BY val) AS rn FROM sample
    ), ties AS (
        SELECT val, AVG(rn) AS arank, COUNT(*) AS t FROM r GROUP BY val
    ), pv AS (
        SELECT val, grp, COUNT(*) AS c FROM sample GROUP BY 1, 2
    ), rj AS (
        SELECT grp, SUM(pv.c) AS n_j,
               CAST(SUM(CAST(ties.arank * pv.c AS DECIMAL(38,6))) AS DOUBLE)
                   AS r_j
        FROM pv JOIN ties USING (val) GROUP BY grp
    ), tot AS (SELECT SUM(n_j) AS n, COUNT(*) AS k FROM rj),
    s2 AS (
        SELECT CAST(SUM(CAST(
                   r_j * r_j / n_j / (CAST(n AS DOUBLE) * (n + 1))
               AS DECIMAL(38,6))) AS DOUBLE) AS s2
        FROM rj CROSS JOIN tot
    ), cube AS (
        SELECT CAST(SUM(CAST(t * t * t - t AS DECIMAL(38,6))) AS DOUBLE)
                   AS tie_cube
        FROM ties
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(k - 1 AS BIGINT) AS dof,
           ROUND(12.0 * s2 - 3 * (CAST(n AS DOUBLE) + 1), 6) AS h_stat,
           ROUND((12.0 * s2 - 3 * (CAST(n AS DOUBLE) + 1))
                 / (1 - tie_cube
                        / (CAST(n AS DOUBLE) * n * n - n)), 6)
               AS h_tie_corrected
    FROM tot CROSS JOIN s2 CROSS JOIN cube
"""

_FDR_THR_SQL = "(VALUES " + ", ".join(
    f"({i}, CAST({t!r} AS DOUBLE))" for i, t in ST.FDR_Z_THRESHOLDS.items()
) + ")"
ORACLE_SQL["x296_fdr_bh"] = f"""
    WITH per_nation AS (
        SELECT n_name,
               COUNT(*) AS n_i,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s_i,
               CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,6)))
                    AS DOUBLE) AS ss_i
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    ), tot AS (
        SELECT SUM(n_i) AS n_all,
               CAST(SUM(CAST(s_i AS DECIMAL(38,6))) AS DOUBLE) AS s_all,
               CAST(SUM(CAST(ss_i AS DECIMAL(38,6))) AS DOUBLE) AS ss_all
        FROM per_nation
    ), z AS (
        SELECT n_name, n_i,
               (s_i / CAST(n_i AS DOUBLE)
                - (s_all - s_i) / CAST(n_all - n_i AS DOUBLE))
               / sqrt(
                   ((ss_i - s_i * s_i / CAST(n_i AS DOUBLE))
                    / (CAST(n_i AS DOUBLE) - 1)) / CAST(n_i AS DOUBLE)
                   + (((ss_all - ss_i)
                       - (s_all - s_i) * (s_all - s_i)
                         / CAST(n_all - n_i AS DOUBLE))
                      / (CAST(n_all - n_i AS DOUBLE) - 1))
                     / CAST(n_all - n_i AS DOUBLE)
                 ) AS zv
        FROM per_nation CROSS JOIN tot
    ), ranked AS (
        SELECT n_name, n_i, zv,
               ROW_NUMBER() OVER (ORDER BY abs(zv) DESC, n_name) AS bh_rank
        FROM z
    ), thrt(i, t) AS (
        SELECT * FROM {_FDR_THR_SQL}
    ), thr AS (
        SELECT ranked.*, thrt.t
        FROM ranked JOIN thrt ON thrt.i = ranked.bh_rank
    ), sel AS (
        SELECT *, MAX(CASE WHEN abs(zv) >= t THEN bh_rank END) OVER ()
                   AS istar
        FROM thr
    )
    SELECT n_name,
           CAST(n_i AS BIGINT) AS n_orders,
           ROUND(zv, 6) AS z_stat,
           CAST(bh_rank AS BIGINT) AS bh_rank,
           bh_rank <= COALESCE(istar, 0) AS rejected
    FROM sel
    ORDER BY bh_rank
"""


# ---------------------------------------------------------------------------
# wave 56 (round 5): MMR diverse selection
# ---------------------------------------------------------------------------


def _mmr_oracle(k: int = S.MMR_K, dim: int = S._DIM) -> str:
    """Greedy MMR unrolled to chained CTEs (one cand/pick/sel triple
    per step — the x224 decode-oracle discipline).  Float parity:
    cosine goes through DuckDB's ``list_cosine_similarity`` on
    DOUBLE[] (bit-equal to the sequential-double Spark kernel, proven
    by x3), the centroid mean through DECIMAL(38,18), and λ / (1−λ)
    are injected via ``repr`` so both engines scale by identical
    doubles."""
    lam, lam1 = repr(float(S.MMR_LAMBDA)), repr(1.0 - S.MMR_LAMBDA)
    steps = []
    for i in range(2, k + 1):
        steps.append(f"""cand{i} AS (
        SELECT r.vec_id, MAX(r.rel) AS rel,
               MAX(list_cosine_similarity(CAST(r.embedding AS DOUBLE[]),
                                          CAST(s.embedding AS DOUBLE[])))
                   AS max_sim
        FROM rel r CROSS JOIN sel{i - 1} s
        WHERE r.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
        GROUP BY r.vec_id
    ), pick{i} AS (
        SELECT c.vec_id, e.embedding, {i} AS pick, c.rel, c.max_sim,
               {lam} * c.rel - {lam1} * c.max_sim AS score
        FROM cand{i} c JOIN rel e USING (vec_id)
        ORDER BY score DESC, c.vec_id LIMIT 1
    ), sel{i} AS (
        SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM pick{i}
    )""")
    steps_sql = ",\n    ".join(steps)
    return f"""
    WITH dims AS (
        SELECT pos, CAST(embedding[pos] AS DOUBLE) AS x
        FROM embeddings, (SELECT unnest(range(1, {dim} + 1)) AS pos) p
    ), cent AS (
        SELECT pos,
               CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS c
        FROM dims GROUP BY pos
    ), centv AS (SELECT list(c ORDER BY pos) AS cv FROM cent),
    rel AS (
        SELECT vec_id, embedding,
               list_cosine_similarity(CAST(embedding AS DOUBLE[]), cv) AS rel
        FROM embeddings CROSS JOIN centv
    ), sel1 AS (
        SELECT vec_id, embedding, 1 AS pick, rel,
               CAST(0.0 AS DOUBLE) AS max_sim, {lam} * rel AS score
        FROM rel ORDER BY rel DESC, vec_id LIMIT 1
    ),
    {steps_sql}
    SELECT CAST(pick AS BIGINT) AS pick,
           CAST(vec_id AS BIGINT) AS vec_id,
           ROUND(rel, 6) AS rel,
           ROUND(max_sim, 6) AS max_sim,
           ROUND(score, 6) AS mmr_score
    FROM sel{k} ORDER BY pick
"""


ORACLE_SQL["x297_mmr_selection"] = _mmr_oracle()


# ---------------------------------------------------------------------------
# wave 57 (round 5): TextRank keywords
# ---------------------------------------------------------------------------


def _textrank_oracle(
    damping: float = G.PR_DAMPING, n_iter: int = G.PR_ITERS
) -> str:
    """Weighted-PageRank rounds as chained CTEs over the token
    co-occurrence graph (the x59 oracle pattern with per-edge
    ``rank·w/strength`` contributions; every sum through
    DECIMAL(38,18), damping literals via ``repr``)."""
    t = repr(1.0 - damping)
    rounds = []
    for i in range(1, n_iter + 1):
        rounds.append(f"""pr{i} AS MATERIALIZED (
        SELECT e.v AS node,
               CAST({t} AS DOUBLE) / nn.n
               + CAST({damping!r} AS DOUBLE)
                 * CAST(SUM(CAST(p.rank * e.w / st.wsum AS DECIMAL(38,18)))
                        AS DOUBLE) AS rank
        FROM und e
        JOIN pr{i - 1} p ON p.node = e.u
        JOIN st ON st.u = e.u
        CROSS JOIN nn
        GROUP BY e.v, nn.n
    )""")
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH toks AS (
        SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                           t -> len(t) > 0) AS toks
        FROM documents
    ), big AS (
        SELECT split_part(sh, ' ', 1) AS a, split_part(sh, ' ', 2) AS b
        FROM (SELECT unnest(list_transform(range(1, len(toks)),
                                           i -> toks[i] || ' ' || toks[i+1]))
                  AS sh
              FROM toks)
    ), vocab AS (
        SELECT t FROM (SELECT unnest(toks) AS t FROM toks)
        GROUP BY t HAVING COUNT(*) >= {T.TEXTRANK_MIN_COUNT}
    ), bd AS (
        SELECT a, b, COUNT(*) AS c FROM big
        WHERE a <> b
          AND a IN (SELECT t FROM vocab) AND b IN (SELECT t FROM vocab)
        GROUP BY a, b
    ), und AS (
        SELECT u, v, SUM(c) AS w FROM (
            SELECT a AS u, b AS v, c FROM bd
            UNION ALL SELECT b, a, c FROM bd)
        GROUP BY u, v
    ), nodes AS (SELECT DISTINCT u AS node FROM und),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    st AS (SELECT u, SUM(w) AS wsum FROM und GROUP BY u),
    pr0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
            FROM nodes CROSS JOIN nn),
    {rounds_sql}
    SELECT node AS token, ROUND(rank, 6) AS rank
    FROM pr{n_iter}
    ORDER BY rank DESC, token
    LIMIT {T.TEXTRANK_TOP_N}
"""


ORACLE_SQL["x298_textrank_keywords"] = _textrank_oracle()


# ---------------------------------------------------------------------------
# wave 58 (round 6): ROC-AUC, Theil-Sen, mutual information, Levene
# ---------------------------------------------------------------------------

ORACLE_SQL["x299_roc_auc"] = """
    WITH base AS (
        SELECT o_totalprice AS val, o_orderstatus AS st
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ), pv AS (
        SELECT val,
               SUM(CASE WHEN st = 'F' THEN 1 ELSE 0 END) AS pos,
               SUM(CASE WHEN st = 'O' THEN 1 ELSE 0 END) AS neg
        FROM base GROUP BY val
    ), cum AS (
        SELECT val, pos, neg,
               SUM(neg) OVER (ORDER BY val
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cneg
        FROM pv
    ), agg AS (
        SELECT CAST(SUM(CAST(pos * (2 * (cneg - neg) + neg)
                             AS DECIMAL(38,6))) AS DOUBLE) AS num2,
               SUM(pos) AS n_pos, SUM(neg) AS n_neg
        FROM cum
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           ROUND(num2 / (2.0 * n_pos * n_neg), 6) AS auc,
           ROUND(2 * (num2 / (2.0 * n_pos * n_neg)) - 1, 6) AS gini
    FROM agg
"""

ORACLE_SQL["x300_theil_sen"] = """
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
        FROM orders GROUP BY 1
    ), slopes AS (
        SELECT (b.rev - a.rev) / CAST(b.d - a.d AS DOUBLE) AS slope
        FROM daily a JOIN daily b ON a.d < b.d
    ), ranked AS (
        SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rn FROM slopes
    ), cnt AS (SELECT COUNT(*) AS n_pairs FROM slopes),
    med AS (
        SELECT AVG(slope) AS sen_slope, MAX(n_pairs) AS n_pairs
        FROM ranked CROSS JOIN cnt
        WHERE rn = CAST(floor((n_pairs + 1) / 2) AS BIGINT)
           OR rn = CAST(floor((n_pairs + 2) / 2) AS BIGINT)
    ), ols AS (
        SELECT COUNT(*) AS n_days,
               CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(d * rev AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(d * d AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        FROM daily
    )
    SELECT CAST(n_days AS BIGINT) AS n_days,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           ROUND(sen_slope, 6) AS sen_slope,
           ROUND((n_days * sxy - sx * sy) / (n_days * sxx - sx * sx), 6)
               AS ols_slope
    FROM med CROSS JOIN ols
"""

ORACLE_SQL["x301_mutual_information"] = """
    WITH ev AS (
        SELECT event_type AS x, date_part('dow', ts) AS y FROM events
    ), cells AS (
        SELECT x, y, COUNT(*) AS c FROM ev GROUP BY 1, 2
    ), rx AS (SELECT x, SUM(c) AS cx FROM cells GROUP BY x),
    cy AS (SELECT y, SUM(c) AS cy FROM cells GROUP BY y),
    tot AS (SELECT SUM(c) AS n FROM cells),
    mi AS (
        SELECT CAST(SUM(CAST(
                   c / CAST(n AS DOUBLE)
                   * ln(c * CAST(n AS DOUBLE) / (CAST(cx AS DOUBLE) * cy))
               AS DECIMAL(38,18))) AS DOUBLE) AS mi,
               MAX(n) AS n
        FROM cells JOIN rx USING (x) JOIN cy USING (y) CROSS JOIN tot
    ), hx AS (
        SELECT CAST(SUM(CAST(
                   -(cx / CAST(n AS DOUBLE)) * ln(cx / CAST(n AS DOUBLE))
               AS DECIMAL(38,18))) AS DOUBLE) AS hx
        FROM rx CROSS JOIN tot
    ), hy AS (
        SELECT CAST(SUM(CAST(
                   -(cy / CAST(n AS DOUBLE)) * ln(cy / CAST(n AS DOUBLE))
               AS DECIMAL(38,18))) AS DOUBLE) AS hy
        FROM cy CROSS JOIN tot
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(mi, 6) AS mi_nats,
           ROUND(mi / least(hx, hy), 6) AS nmi
    FROM mi CROSS JOIN hx CROSS JOIN hy
"""

ORACLE_SQL["x302_levene_test"] = """
    WITH ev AS (SELECT event_type AS g, value AS v FROM events),
    per_val AS (SELECT g, v, COUNT(*) AS c FROM ev GROUP BY 1, 2),
    cum AS (
        SELECT g, v, c,
               SUM(c) OVER (PARTITION BY g ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumc
        FROM per_val
    ), ng AS (SELECT g, SUM(c) AS n_g FROM per_val GROUP BY g),
    med AS (
        SELECT g,
               (MAX(CASE WHEN cumc - c < CAST(floor((n_g + 1) / 2) AS BIGINT)
                         THEN v END)
                + MIN(CASE WHEN cumc >= CAST(floor((n_g + 2) / 2) AS BIGINT)
                           THEN v END)) / 2.0 AS med
        FROM cum JOIN ng USING (g)
        WHERE cumc - c < CAST(floor((n_g + 2) / 2) AS BIGINT)
          AND cumc >= CAST(floor((n_g + 1) / 2) AS BIGINT)
        GROUP BY g
    ), z AS (
        SELECT ev.g, abs(v - med) AS z FROM ev JOIN med USING (g)
    ), per_g AS (
        SELECT g, COUNT(*) AS n_g,
               CAST(SUM(CAST(z AS DECIMAL(38,6))) AS DOUBLE) AS sz,
               CAST(SUM(CAST(z * z AS DECIMAL(38,6))) AS DOUBLE) AS szz
        FROM z GROUP BY g
    ), tot AS (
        SELECT SUM(n_g) AS n, COUNT(*) AS k,
               CAST(SUM(CAST(sz AS DECIMAL(38,18))) AS DOUBLE) AS sz_all
        FROM per_g
    ), stats AS (
        SELECT MAX(n) AS n, MAX(k) AS k,
               CAST(SUM(CAST(sz * sz / n_g AS DECIMAL(38,18))) AS DOUBLE)
                   - MAX(sz_all * sz_all / n) AS ssb,
               CAST(SUM(CAST(szz - sz * sz / n_g AS DECIMAL(38,18)))
                    AS DOUBLE) AS ssw
        FROM per_g CROSS JOIN tot
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(k AS BIGINT) AS k,
           ROUND(ssb, 4) AS ss_between,
           ROUND(ssw, 4) AS ss_within,
           ROUND(ssb / CAST(k - 1 AS DOUBLE)
                 / (ssw / CAST(n - k AS DOUBLE)), 6) AS w_stat
    FROM stats
"""


# ---------------------------------------------------------------------------
# wave 59 (round 6): negative sampling, weighted Jaccard, curriculum mix,
# user entropy
# ---------------------------------------------------------------------------

ORACLE_SQL["x303_negative_sampling"] = f"""
    WITH pos AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    np AS (SELECT COUNT(*) AS n_parts FROM part),
    slots AS (SELECT unnest(range(0, {C.NEG_SAMPLE_K})) AS slot),
    cand AS (
        SELECT l_orderkey, slot,
               CAST(CAST(('0x' || substr(sha256(concat_ws('|',
                        CAST(l_orderkey AS VARCHAR),
                        CAST(slot AS VARCHAR))), 1, 12)) AS UBIGINT)
                    % n_parts AS BIGINT) AS cand_part
        FROM (SELECT DISTINCT l_orderkey, slot
              FROM pos CROSS JOIN slots)
        CROSS JOIN np
    ), coll AS (
        SELECT COUNT(*) AS n_collisions
        FROM cand WHERE EXISTS (
            SELECT 1 FROM pos
            WHERE pos.l_orderkey = cand.l_orderkey
              AND pos.l_partkey = cand.cand_part)
    ), neg AS (
        SELECT COUNT(*) AS n_negatives,
               COUNT(DISTINCT cand_part) AS n_distinct_neg_parts
        FROM cand WHERE NOT EXISTS (
            SELECT 1 FROM pos
            WHERE pos.l_orderkey = cand.l_orderkey
              AND pos.l_partkey = cand.cand_part)
    ), ca AS (SELECT COUNT(*) AS n_candidates FROM cand),
    pa AS (SELECT COUNT(*) AS n_positives FROM pos)
    SELECT CAST(n_positives AS BIGINT) AS n_positives,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_collisions AS BIGINT) AS n_collisions,
           CAST(n_negatives AS BIGINT) AS n_negatives,
           CAST(n_distinct_neg_parts AS BIGINT) AS n_distinct_neg_parts,
           ROUND(n_collisions / CAST(n_candidates AS DOUBLE), 6)
               AS collision_rate
    FROM pa CROSS JOIN ca CROSS JOIN coll CROSS JOIN neg
"""

ORACLE_SQL["x304_weighted_jaccard"] = f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({ORACLE_SQL["x6_dedup_ngram_jaccard"]})
    ), toks AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), totals AS (
        SELECT doc_id, SUM(tf) AS s FROM tf GROUP BY doc_id
    ), smin AS (
        SELECT p.doc_a, p.doc_b, SUM(LEAST(a.tf, b.tf)) AS smin
        FROM pairs p
        JOIN tf a ON a.doc_id = p.doc_a
        JOIN tf b ON b.doc_id = p.doc_b AND b.tok = a.tok
        GROUP BY p.doc_a, p.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(smin / CAST(ta.s + tb.s - smin AS DOUBLE), 6)
               AS weighted_jaccard
    FROM smin
    JOIN totals ta ON ta.doc_id = doc_a
    JOIN totals tb ON tb.doc_id = doc_b
    ORDER BY doc_a, doc_b
"""

ORACLE_SQL["x305_curriculum_mix"] = f"""
    WITH ranked AS (
        SELECT n_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn
        FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM documents),
    dec AS (
        SELECT CAST(floor((rn - 1) * {C.CURRICULUM_DECILES} / n) + 1 AS INT)
                   AS decile,
               n_chars
        FROM ranked CROSS JOIN tot
    ), per AS (
        SELECT decile, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars_avail
        FROM dec GROUP BY decile
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars_avail AS BIGINT) AS n_chars_avail,
           CAST({C.CURRICULUM_DECILES} + 1 - decile AS BIGINT) AS weight,
           CAST(floor({C.CURRICULUM_BUDGET_CHARS}
                      * ({C.CURRICULUM_DECILES} + 1 - decile)
                      / {C.CURRICULUM_DECILES * (C.CURRICULUM_DECILES + 1) // 2})
                AS BIGINT) AS quota_chars,
           ROUND(LEAST(1.0,
                 floor({C.CURRICULUM_BUDGET_CHARS}
                       * ({C.CURRICULUM_DECILES} + 1 - decile)
                       / {C.CURRICULUM_DECILES * (C.CURRICULUM_DECILES + 1) // 2})
                 / CAST(n_chars_avail AS DOUBLE)), 6) AS sample_rate
    FROM per
    ORDER BY decile
"""

ORACLE_SQL["x306_user_entropy"] = """
    WITH cnt AS (
        SELECT user_id, event_type, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ), per_user AS (
        SELECT user_id, SUM(c) AS n, COUNT(*) AS n_types
        FROM cnt GROUP BY user_id
    ), ent AS (
        SELECT cnt.user_id,
               MAX(n_types) AS n_types,
               CAST(SUM(CAST(
                   -(c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))
               AS DECIMAL(38,18))) AS DOUBLE) AS h
        FROM cnt JOIN per_user USING (user_id)
        GROUP BY cnt.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN n_types = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_single_type,
           ROUND(CAST(SUM(CAST(h AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 6)
               AS mean_entropy,
           ROUND(MAX(h), 6) AS max_entropy
    FROM ent
"""


# ---------------------------------------------------------------------------
# wave 60 (round 6): JS divergence, Chao1 richness, split audit, group OLS
# ---------------------------------------------------------------------------

ORACLE_SQL["x307_js_divergence"] = """
    WITH toks AS (
        SELECT source,
               unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ), st AS (
        SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ), corpus AS (SELECT tok, SUM(c) AS cc FROM st GROUP BY tok),
    src_tot AS (SELECT source, SUM(c) AS n_s FROM st GROUP BY source),
    corp_tot AS (SELECT SUM(cc) AS n_c FROM corpus),
    shared AS (
        SELECT source,
               CAST(SUM(CAST(
                   0.5 * ((c / CAST(n_s AS DOUBLE))
                          * ln((c / CAST(n_s AS DOUBLE))
                               / ((c / CAST(n_s AS DOUBLE)
                                   + cc / CAST(n_c AS DOUBLE)) / 2))
                          + (cc / CAST(n_c AS DOUBLE))
                          * ln((cc / CAST(n_c AS DOUBLE))
                               / ((c / CAST(n_s AS DOUBLE)
                                   + cc / CAST(n_c AS DOUBLE)) / 2)))
               AS DECIMAL(38,18))) AS DOUBLE) AS jsd_shared,
               CAST(SUM(CAST(cc / CAST(n_c AS DOUBLE) AS DECIMAL(38,18)))
                    AS DOUBLE) AS q_shared,
               MAX(n_s) AS n_tokens
        FROM st JOIN corpus USING (tok) JOIN src_tot USING (source)
        CROSS JOIN corp_tot
        GROUP BY source
    )
    SELECT source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(jsd_shared + 0.5 * 0.6931471805599453 * (1.0 - q_shared), 6)
               AS jsd_nats
    FROM shared
    ORDER BY source
"""

ORACLE_SQL["x308_chao1_richness"] = """
    WITH toks AS (
        SELECT lang,
               unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                  t -> len(t) > 0)) AS tok
        FROM documents
    ), tf AS (
        SELECT lang, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ), per AS (
        SELECT lang,
               COUNT(*) AS vocab,
               SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
               SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2,
               SUM(c) AS n_tokens
        FROM tf GROUP BY lang
    )
    SELECT lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           CAST(f1 AS BIGINT) AS f1,
           CAST(f2 AS BIGINT) AS f2,
           ROUND(vocab + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * (f2 + 1)), 6)
               AS chao1,
           ROUND(vocab / (vocab + CAST(f1 * (f1 - 1) AS DOUBLE)
                                  / (2.0 * (f2 + 1))), 6) AS coverage
    FROM per
    ORDER BY lang
"""

_SPLIT_CUT1 = format(int(65536 * 0.8), "04x")
_SPLIT_CUT2 = format(int(65536 * 0.9), "04x")
ORACLE_SQL["x309_split_balance"] = f"""
    WITH tagged AS (
        SELECT lang, n_chars,
               CASE WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4)
                         < '{_SPLIT_CUT1}' THEN 'train'
                    WHEN substr(sha256(CAST(doc_id AS VARCHAR)), 1, 4)
                         < '{_SPLIT_CUT2}' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ), cell AS (
        SELECT split, lang, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars
        FROM tagged GROUP BY 1, 2
    ), lang_tot AS (
        SELECT lang, SUM(n_docs) AS n_lang FROM cell GROUP BY lang
    )
    SELECT split, lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(CASE split WHEN 'train' THEN CAST({C.SPLIT_FRACS[0]!r} AS DOUBLE)
                            WHEN 'val' THEN CAST({C.SPLIT_FRACS[1]!r} AS DOUBLE)
                            ELSE CAST({C.SPLIT_FRACS[2]!r} AS DOUBLE) END * n_lang, 6)
               AS expected_docs,
           ROUND(power(n_docs - CASE split WHEN 'train' THEN CAST({C.SPLIT_FRACS[0]!r} AS DOUBLE)
                                           WHEN 'val' THEN CAST({C.SPLIT_FRACS[1]!r} AS DOUBLE)
                                           ELSE CAST({C.SPLIT_FRACS[2]!r} AS DOUBLE) END * n_lang, 2)
                 / (CASE split WHEN 'train' THEN CAST({C.SPLIT_FRACS[0]!r} AS DOUBLE)
                               WHEN 'val' THEN CAST({C.SPLIT_FRACS[1]!r} AS DOUBLE)
                               ELSE CAST({C.SPLIT_FRACS[2]!r} AS DOUBLE) END * n_lang), 6)
               AS chi2_term
    FROM cell JOIN lang_tot USING (lang)
    ORDER BY split, lang
"""

ORACLE_SQL["x310_group_trend"] = """
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
        FROM events GROUP BY 1, 2
    ), suff AS (
        SELECT event_type,
               COUNT(*) AS n_days,
               CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(d * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(d * d AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM daily GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           ROUND((sxy - sx * sy / n_days) / (sxx - sx * sx / n_days), 6)
               AS slope,
           ROUND((sy - (sxy - sx * sy / n_days) / (sxx - sx * sx / n_days) * sx)
                 / n_days, 6) AS intercept,
           ROUND((sxy - sx * sy / n_days) * (sxy - sx * sy / n_days)
                 / ((sxx - sx * sx / n_days) * (syy - sy * sy / n_days)), 6)
               AS r2
    FROM suff
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# wave 61 (round 6): trimmed mean, cohort LTV, behavior trigrams, Markov π
# ---------------------------------------------------------------------------

ORACLE_SQL["x311_trimmed_mean"] = f"""
    WITH src AS (
        SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
    ), per_val AS (
        SELECT g, v, COUNT(*) AS c FROM src GROUP BY 1, 2
    ), cum AS (
        SELECT g, v, c,
               SUM(c) OVER (PARTITION BY g ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumc
        FROM per_val
    ), ng AS (
        SELECT g, SUM(c) AS n_g,
               CAST(SUM(CAST(v * c AS DECIMAL(38,6))) AS DOUBLE) AS sv
        FROM per_val GROUP BY g
    ), contrib AS (
        SELECT cum.g, v,
               GREATEST(CAST(0 AS BIGINT),
                   LEAST(cumc, n_g - CAST(floor({ST.TRIM_FRAC!r} * n_g) AS BIGINT))
                   - GREATEST(cumc - c + 1,
                              CAST(floor({ST.TRIM_FRAC!r} * n_g) AS BIGINT) + 1)
                   + 1) AS w
        FROM cum JOIN ng USING (g)
    ), trimmed AS (
        SELECT g,
               CAST(SUM(CAST(v * w AS DECIMAL(38,6))) AS DOUBLE) AS tsum,
               SUM(w) AS n_trim
        FROM contrib WHERE w > 0 GROUP BY g
    )
    SELECT g AS o_orderpriority,
           CAST(n_g AS BIGINT) AS n,
           CAST(n_trim AS BIGINT) AS n_trim,
           ROUND(sv / CAST(n_g AS DOUBLE), 6) AS mean,
           ROUND(tsum / CAST(n_trim AS DOUBLE), 6) AS trimmed_mean
    FROM ng JOIN trimmed USING (g)
    ORDER BY o_orderpriority
"""

ORACLE_SQL["x312_cohort_ltv"] = f"""
    WITH ev AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
               value
        FROM events
    ), first AS (
        SELECT user_id, MIN(d) AS cohort_day FROM ev GROUP BY user_id
    ), sized AS (
        SELECT cohort_day, COUNT(*) AS cohort_users FROM first GROUP BY 1
    ), cells AS (
        SELECT cohort_day, ev.d - cohort_day AS age_day,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS day_value
        FROM ev JOIN first USING (user_id)
        WHERE ev.d - cohort_day <= {AN.LTV_MAX_AGE_DAYS}
        GROUP BY 1, 2
    ), cum AS (
        SELECT cohort_day, age_day,
               CAST(SUM(CAST(day_value AS DECIMAL(38,6)))
                    OVER (PARTITION BY cohort_day ORDER BY age_day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS cum_value
        FROM cells
    )
    SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
           CAST(age_day AS BIGINT) AS age_day,
           CAST(cohort_users AS BIGINT) AS cohort_users,
           ROUND(cum_value, 4) AS cum_value,
           ROUND(cum_value / CAST(cohort_users AS DOUBLE), 6) AS ltv_per_user
    FROM cum JOIN sized USING (cohort_day)
    ORDER BY cohort_day, age_day
"""

ORACLE_SQL["x313_behavior_trigrams"] = f"""
    WITH tri AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, CAST(COUNT(*) AS BIGINT) AS n
    FROM tri WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n DESC, e1, e2, e3
    LIMIT {AN.TRIGRAM_TOP_N}
"""

ORACLE_SQL["x314_markov_stationary"] = """
    WITH steps AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS a,
               event_type AS b
        FROM events
    ), counts AS (
        SELECT a, b, COUNT(*) AS n FROM steps WHERE a IS NOT NULL
        GROUP BY a, b
    ), row_tot AS (SELECT a, SUM(n) AS na FROM counts GROUP BY a),
    pmat AS (
        SELECT a, b, n / CAST(na AS DOUBLE) AS p
        FROM counts JOIN row_tot USING (a)
    ), states AS (SELECT DISTINCT a AS s FROM pmat),
    kk AS (SELECT COUNT(*) AS k FROM states),
    pi0 AS (SELECT s, CAST(1.0 AS DOUBLE) / k AS pi FROM states CROSS JOIN kk),
    pi1 AS MATERIALIZED (
        SELECT pmat.b AS s,
               CAST(SUM(CAST(pi.pi * pmat.p AS DECIMAL(38,18))) AS DOUBLE)
                   AS pi
        FROM pmat JOIN pi0 pi ON pi.s = pmat.a
        GROUP BY pmat.b
    ),
    pi2 AS MATERIALIZED (
        SELECT pmat.b AS s,
               CAST(SUM(CAST(pi.pi * pmat.p AS DECIMAL(38,18))) AS DOUBLE)
                   AS pi
        FROM pmat JOIN pi1 pi ON pi.s = pmat.a
        GROUP BY pmat.b
    ),
    pi3 AS MATERIALIZED (
        SELECT pmat.b AS s,
               CAST(SUM(CAST(pi.pi * pmat.p AS DECIMAL(38,18))) AS DOUBLE)
                   AS pi
        FROM pmat JOIN pi2 pi ON pi.s = pmat.a
        GROUP BY pmat.b
    ),
    pi4 AS MATERIALIZED (
        SELECT pmat.b AS s,
               CAST(SUM(CAST(pi.pi * pmat.p AS DECIMAL(38,18))) AS DOUBLE)
                   AS pi
        FROM pmat JOIN pi3 pi ON pi.s = pmat.a
        GROUP BY pmat.b
    ),
    pi5 AS MATERIALIZED (
        SELECT pmat.b AS s,
               CAST(SUM(CAST(pi.pi * pmat.p AS DECIMAL(38,18))) AS DOUBLE)
                   AS pi
        FROM pmat JOIN pi4 pi ON pi.s = pmat.a
        GROUP BY pmat.b
    ),
    pi6 AS MATERIALIZED (
        SELECT pmat.b AS s,
               CAST(SUM(CAST(pi.pi * pmat.p AS DECIMAL(38,18))) AS DOUBLE)
                   AS pi
        FROM pmat JOIN pi5 pi ON pi.s = pmat.a
        GROUP BY pmat.b
    ),
    pi7 AS MATERIALIZED (
        SELECT pmat.b AS s,
               CAST(SUM(CAST(pi.pi * pmat.p AS DECIMAL(38,18))) AS DOUBLE)
                   AS pi
        FROM pmat JOIN pi6 pi ON pi.s = pmat.a
        GROUP BY pmat.b
    ),
    pi8 AS MATERIALIZED (
        SELECT pmat.b AS s,
               CAST(SUM(CAST(pi.pi * pmat.p AS DECIMAL(38,18))) AS DOUBLE)
                   AS pi
        FROM pmat JOIN pi7 pi ON pi.s = pmat.a
        GROUP BY pmat.b
    ),
    pi9 AS MATERIALIZED (
        SELECT pmat.b AS s,
               CAST(SUM(CAST(pi.pi * pmat.p AS DECIMAL(38,18))) AS DOUBLE)
                   AS pi
        FROM pmat JOIN pi8 pi ON pi.s = pmat.a
        GROUP BY pmat.b
    ),
    pi10 AS MATERIALIZED (
        SELECT pmat.b AS s,
               CAST(SUM(CAST(pi.pi * pmat.p AS DECIMAL(38,18))) AS DOUBLE)
                   AS pi
        FROM pmat JOIN pi9 pi ON pi.s = pmat.a
        GROUP BY pmat.b
    ),
    pi11 AS MATERIALIZED (
        SELECT pmat.b AS s,
               CAST(SUM(CAST(pi.pi * pmat.p AS DECIMAL(38,18))) AS DOUBLE)
                   AS pi
        FROM pmat JOIN pi10 pi ON pi.s = pmat.a
        GROUP BY pmat.b
    ),
    pi12 AS MATERIALIZED (
        SELECT pmat.b AS s,
               CAST(SUM(CAST(pi.pi * pmat.p AS DECIMAL(38,18))) AS DOUBLE)
                   AS pi
        FROM pmat JOIN pi11 pi ON pi.s = pmat.a
        GROUP BY pmat.b
    )
    SELECT s, ROUND(pi, 6) AS pi FROM pi12 ORDER BY s
"""


# ---------------------------------------------------------------------------
# wave 62 (round 6): Holm step-down, LSH advisor, Simpson, modularity
# ---------------------------------------------------------------------------

_HOLM_THR_SQL = "(VALUES " + ", ".join(
    f"({i}, CAST({t!r} AS DOUBLE))" for i, t in ST.HOLM_Z_THRESHOLDS.items()
) + ")"
ORACLE_SQL["x315_holm_bonferroni"] = f"""
    WITH per_nation AS (
        SELECT n_name,
               COUNT(*) AS n_i,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s_i,
               CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,6)))
                    AS DOUBLE) AS ss_i
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    ), tot AS (
        SELECT SUM(n_i) AS n_all,
               CAST(SUM(CAST(s_i AS DECIMAL(38,6))) AS DOUBLE) AS s_all,
               CAST(SUM(CAST(ss_i AS DECIMAL(38,6))) AS DOUBLE) AS ss_all
        FROM per_nation
    ), z AS (
        SELECT n_name, n_i,
               (s_i / CAST(n_i AS DOUBLE)
                - (s_all - s_i) / CAST(n_all - n_i AS DOUBLE))
               / sqrt(
                   ((ss_i - s_i * s_i / CAST(n_i AS DOUBLE))
                    / (CAST(n_i AS DOUBLE) - 1)) / CAST(n_i AS DOUBLE)
                   + (((ss_all - ss_i)
                       - (s_all - s_i) * (s_all - s_i)
                         / CAST(n_all - n_i AS DOUBLE))
                      / (CAST(n_all - n_i AS DOUBLE) - 1))
                     / CAST(n_all - n_i AS DOUBLE)
                 ) AS zv
        FROM per_nation CROSS JOIN tot
    ), ranked AS (
        SELECT n_name, n_i, zv,
               ROW_NUMBER() OVER (ORDER BY abs(zv) DESC, n_name) AS holm_rank
        FROM z
    ), thrt(i, t) AS (
        SELECT * FROM {_HOLM_THR_SQL}
    ), thr AS (
        SELECT ranked.*, thrt.t
        FROM ranked JOIN thrt ON thrt.i = ranked.holm_rank
    ), sel AS (
        SELECT *, MIN(CASE WHEN abs(zv) < t THEN holm_rank END) OVER ()
                   AS ffail
        FROM thr
    )
    SELECT n_name,
           CAST(n_i AS BIGINT) AS n_orders,
           ROUND(zv, 6) AS z_stat,
           CAST(holm_rank AS BIGINT) AS holm_rank,
           holm_rank < COALESCE(ffail, {ST.FDR_M_TESTS + 1}) AS rejected
    FROM sel
    ORDER BY holm_rank
"""

ORACLE_SQL["x316_lsh_band_advisor"] = f"""
    WITH shingles AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   )) AS sh
            FROM (SELECT doc_id,
                         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                     t -> len(t) > 0) AS toks
                  FROM documents)
        )
    ), pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ), sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
    jac AS (
        SELECT CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS j
        FROM pair_inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    ), scored AS (
        SELECT CAST(floor(j / {D.LSH_ADVISOR_BIN!r}) AS INT) AS bin, j,
               1.0 - (((((1.0 - ((j*j)*(j*j))) * (1.0 - ((j*j)*(j*j)))) * ((1.0 - ((j*j)*(j*j))) * (1.0 - ((j*j)*(j*j))))) * (((1.0 - ((j*j)*(j*j))) * (1.0 - ((j*j)*(j*j)))) * ((1.0 - ((j*j)*(j*j))) * (1.0 - ((j*j)*(j*j)))))) * ((((1.0 - ((j*j)*(j*j))) * (1.0 - ((j*j)*(j*j)))) * ((1.0 - ((j*j)*(j*j))) * (1.0 - ((j*j)*(j*j))))) * (((1.0 - ((j*j)*(j*j))) * (1.0 - ((j*j)*(j*j)))) * ((1.0 - ((j*j)*(j*j))) * (1.0 - ((j*j)*(j*j)))))))
                   AS catch
        FROM jac
    )
    SELECT ROUND(CAST(bin * {D.LSH_ADVISOR_BIN!r} AS DOUBLE), 2) AS jaccard_bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(j AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 6)
               AS avg_jaccard,
           ROUND(CAST(SUM(CAST(catch AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*),
                 6) AS expected_recall
    FROM scored
    GROUP BY bin
    ORDER BY jaccard_bin
"""

ORACLE_SQL["x317_simpson_diversity"] = """
    WITH tf AS (
        SELECT lang, tok, COUNT(*) AS c FROM (
            SELECT lang,
                   unnest(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z]+'),
                       t -> len(t) > 0)) AS tok
            FROM documents)
        GROUP BY 1, 2
    ), per AS (
        SELECT lang,
               SUM(c) AS n_tokens,
               COUNT(*) AS vocab,
               CAST(SUM(CAST(c * (c - 1) AS DECIMAL(38,6))) AS DOUBLE)
                   AS same_pairs
        FROM tf GROUP BY lang
    )
    SELECT lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           ROUND(same_pairs / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6)
               AS simpson_d,
           ROUND(1.0 - same_pairs / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)),
                 6) AS diversity,
           ROUND(1.0 / (same_pairs / (CAST(n_tokens AS DOUBLE)
                                      * (n_tokens - 1))), 6)
               AS effective_vocab
    FROM per
    ORDER BY lang
"""

ORACLE_SQL["x318_modularity"] = f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({ORACLE_SQL["x6_dedup_ngram_jaccard"]})
    ), labels AS (
        SELECT doc_id, community
        FROM ({ORACLE_SQL["x267_label_propagation"]})
    ), m_rel AS (SELECT COUNT(*) AS m FROM pairs),
    e_c AS (
        SELECT la.community, COUNT(*) AS e_in
        FROM pairs
        JOIN labels la ON la.doc_id = pairs.doc_a
        JOIN labels lb ON lb.doc_id = pairs.doc_b
        WHERE la.community = lb.community
        GROUP BY la.community
    ), deg AS (
        SELECT doc_id, COUNT(*) AS d FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b FROM pairs)
        GROUP BY doc_id
    ), d_c AS (
        SELECT community, SUM(d) AS d_sum
        FROM deg JOIN labels USING (doc_id)
        GROUP BY community
    ), per_c AS (
        SELECT d_c.community,
               COALESCE(e_in, 0) / CAST(m AS DOUBLE)
               - (d_sum / (2.0 * m)) * (d_sum / (2.0 * m)) AS q_term,
               COALESCE(e_in, 0) AS e_in
        FROM d_c LEFT JOIN e_c USING (community) CROSS JOIN m_rel
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(SUM(e_in) AS BIGINT) AS edges_within,
           CAST((SELECT m FROM m_rel) AS BIGINT) AS edges_total,
           ROUND(CAST(SUM(CAST(q_term AS DECIMAL(38,18))) AS DOUBLE), 6)
               AS modularity
    FROM per_c
"""


ORACLE_SQL["x151_stream_lakehouse_upsert"] = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 4)
               AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# wave 63 (round 6): HITS, permutation test, kappa, decision stump,
# weighted reservoir
# ---------------------------------------------------------------------------

_HITS_EDGES = """
        SELECT ns.n_name AS a, nc.n_name AS b, CAST(COUNT(*) AS DOUBLE) AS w
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        GROUP BY 1, 2
"""


def _hits_oracle() -> str:
    parts = [
        f"edges AS MATERIALIZED ({_HITS_EDGES})",
        "hub0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS score"
        " FROM (SELECT DISTINCT a AS node FROM edges))",
    ]
    prev = "hub0"
    for i in range(1, G.HITS_ROUNDS + 1):
        parts.append(
            f"auth{i}r AS MATERIALIZED (SELECT b AS node,"
            " CAST(SUM(CAST(w * score AS DECIMAL(38,18))) AS DOUBLE) AS score"
            f" FROM edges JOIN {prev} h ON h.node = edges.a GROUP BY b)"
        )
        parts.append(
            f"auth{i} AS MATERIALIZED (SELECT node, score / t AS score"
            f" FROM auth{i}r CROSS JOIN (SELECT"
            " CAST(SUM(CAST(score AS DECIMAL(38,18))) AS DOUBLE) AS t"
            f" FROM auth{i}r))"
        )
        parts.append(
            f"hub{i}r AS MATERIALIZED (SELECT a AS node,"
            " CAST(SUM(CAST(w * score AS DECIMAL(38,18))) AS DOUBLE) AS score"
            f" FROM edges JOIN auth{i} x ON x.node = edges.b GROUP BY a)"
        )
        parts.append(
            f"hub{i} AS MATERIALIZED (SELECT node, score / t AS score"
            f" FROM hub{i}r CROSS JOIN (SELECT"
            " CAST(SUM(CAST(score AS DECIMAL(38,18))) AS DOUBLE) AS t"
            f" FROM hub{i}r))"
        )
        prev = f"hub{i}"
    n = G.HITS_ROUNDS
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT COALESCE(h.node, x.node) AS n_name,
           ROUND(COALESCE(h.score, 0.0), 6) AS hub,
           ROUND(COALESCE(x.score, 0.0), 6) AS authority
    FROM hub{n} h FULL OUTER JOIN auth{n} x ON x.node = h.node
    ORDER BY n_name
"""
    )


ORACLE_SQL["x319_hits_scores"] = _hits_oracle()

ORACLE_SQL["x320_permutation_test"] = f"""
    WITH li AS MATERIALIZED (
        SELECT l_orderkey, l_linenumber,
               l_linestatus = '{ST.PERM_STATUS_A}' AS is_a,
               l_extendedprice * (1 - l_discount) AS rev
        FROM lineitem
        WHERE l_linestatus IN ('{ST.PERM_STATUS_A}', '{ST.PERM_STATUS_B}')
    ), obs AS (
        SELECT COUNT(CASE WHEN is_a THEN 1 END) AS n_a,
               CAST(SUM(CAST(CASE WHEN is_a THEN rev END AS DECIMAL(38,6)))
                    AS DOUBLE) AS s_a,
               COUNT(CASE WHEN NOT is_a THEN 1 END) AS n_b,
               CAST(SUM(CAST(CASE WHEN NOT is_a THEN rev END AS DECIMAL(38,6)))
                    AS DOUBLE) AS s_b
        FROM li
    ), od AS (
        SELECT n_a, n_b, s_a / n_a - s_b / n_b AS d_obs,
               printf('%04x',
                      CAST(floor(n_a / CAST(n_a + n_b AS DOUBLE) * 65536.0)
                           AS INT)) AS cut
        FROM obs
    ), reps AS (SELECT unnest(range(1, {ST.PERM_B} + 1)) AS b),
    fan AS (
        SELECT b, rev,
               substr(sha256(concat(CAST(l_orderkey AS VARCHAR), '_',
                                    CAST(l_linenumber AS VARCHAR), '|perm',
                                    CAST((b - 1) // 16 AS VARCHAR))),
                      ((b - 1) % 16) * 4 + 1, 4) AS h4
        FROM li CROSS JOIN reps
    ), diffs AS (
        SELECT b,
               CAST(SUM(CAST(CASE WHEN h4 < cut THEN rev END
                             AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(CASE WHEN h4 < cut THEN 1 END)
               - CAST(SUM(CAST(CASE WHEN h4 >= cut THEN rev END
                               AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(CASE WHEN h4 >= cut THEN 1 END) AS d_b
        FROM fan CROSS JOIN od
        GROUP BY b
    ), fin AS (
        SELECT CAST(MAX(n_a) AS BIGINT) AS n_a,
               CAST(MAX(n_b) AS BIGINT) AS n_b,
               ROUND(MAX(d_obs), 6) AS obs_diff,
               CAST(COUNT(*) AS BIGINT) AS n_replicates,
               CAST(SUM(CASE WHEN abs(d_b) >= abs(d_obs) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_extreme
        FROM diffs CROSS JOIN od
    )
    SELECT n_a, n_b, obs_diff, n_replicates, n_extreme,
           ROUND((n_extreme + 1) / CAST(n_replicates + 1 AS DOUBLE), 6)
               AS p_value
    FROM fin
"""

ORACLE_SQL["x321_cohens_kappa"] = f"""
    WITH d AS (
        SELECT len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                               t -> len(t) > 0)) AS n_tok,
               len(regexp_replace(text, '[^A-Za-z]', '', 'g')) / len(text)
                   AS ar,
               n_chars
        FROM documents WHERE len(text) > 0
    ), lab AS (
        SELECT CASE WHEN n_tok >= {ST.KAPPA_A_KEEP_TOK}
                         AND ar >= {ST.KAPPA_A_KEEP_AR!r} THEN 'keep'
                    WHEN n_tok < {ST.KAPPA_A_DROP_TOK} THEN 'drop'
                    ELSE 'review' END AS la,
               CASE WHEN n_chars >= {ST.KAPPA_B_KEEP_CHARS} THEN 'keep'
                    WHEN n_chars < {ST.KAPPA_B_DROP_CHARS} THEN 'drop'
                    ELSE 'review' END AS lb
        FROM d
    ), conf AS (SELECT la, lb, COUNT(*) AS c FROM lab GROUP BY 1, 2),
    row_m AS (SELECT la, SUM(c) AS ra FROM conf GROUP BY la),
    col_m AS (SELECT lb, SUM(c) AS cb FROM conf GROUP BY lb),
    chance AS (
        SELECT SUM(ra * cb) AS pe_num
        FROM row_m JOIN col_m ON row_m.la = col_m.lb
    ), base AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN la = lb THEN c ELSE 0 END) AS BIGINT)
                   AS agree_n
        FROM conf
    )
    SELECT n_docs, agree_n,
           ROUND(agree_n / CAST(n_docs AS DOUBLE), 6) AS p_observed,
           ROUND(pe_num / CAST(n_docs * n_docs AS DOUBLE), 6) AS p_expected,
           ROUND((agree_n / CAST(n_docs AS DOUBLE)
                  - pe_num / CAST(n_docs * n_docs AS DOUBLE))
                 / (1 - pe_num / CAST(n_docs * n_docs AS DOUBLE)), 6) AS kappa
    FROM base CROSS JOIN chance
"""

_STUMP_FEATS_SQL = " UNION ALL ".join(
    f"SELECT '{f}' AS feature, CAST({f} AS DOUBLE) AS v,"
    " CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT) AS pos"
    " FROM lineitem"
    for f in AN.STUMP_FEATURES
)
ORACLE_SQL["x322_decision_stump"] = f"""
    WITH feats AS ({_STUMP_FEATS_SQL}),
    pv AS (SELECT feature, v, COUNT(*) AS c, SUM(pos) AS p1
           FROM feats GROUP BY 1, 2),
    cum AS (
        SELECT feature, v,
               SUM(c) OVER w AS cc, SUM(p1) OVER w AS cp
        FROM pv WINDOW w AS (PARTITION BY feature ORDER BY v)
    ), tot AS (SELECT feature, SUM(c) AS n, SUM(p1) AS n1
               FROM pv GROUP BY 1),
    scored AS (
        SELECT cum.feature, v, cc, n, n1,
               (cc * (2.0 * (CAST(cp AS DOUBLE) / cc)
                      * (1.0 - CAST(cp AS DOUBLE) / cc))
                + (n - cc) * (2.0 * (CAST(n1 - cp AS DOUBLE) / (n - cc))
                              * (1.0 - CAST(n1 - cp AS DOUBLE) / (n - cc))))
               / CAST(n AS DOUBLE) AS gini_split,
               2.0 * (CAST(n1 AS DOUBLE) / n)
                   * (1.0 - CAST(n1 AS DOUBLE) / n) AS gini_root,
               CAST(cp AS DOUBLE) / cc AS p_le,
               CAST(n1 - cp AS DOUBLE) / (n - cc) AS p_gt
        FROM cum JOIN tot ON cum.feature = tot.feature
        WHERE cc < n
    ), best AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY feature
                                     ORDER BY gini_split, v) AS rk
        FROM scored
    )
    SELECT feature, ROUND(v, 6) AS threshold,
           ROUND(gini_root, 6) AS gini_root,
           ROUND(gini_split, 6) AS gini_split,
           CAST(cc AS BIGINT) AS n_le, CAST(n - cc AS BIGINT) AS n_gt,
           ROUND(p_le, 6) AS return_rate_le,
           ROUND(p_gt, 6) AS return_rate_gt
    FROM best WHERE rk = 1 ORDER BY feature
"""

_WRES_V_SQL = "(strpos('0123456789abcdef', substr(h8, 1, 1)) - 1)"
for _i in range(2, 9):
    _WRES_V_SQL = (
        f"({_WRES_V_SQL} * 16"
        f" + (strpos('0123456789abcdef', substr(h8, {_i}, 1)) - 1))"
    )
ORACLE_SQL["x323_weighted_reservoir"] = f"""
    WITH d AS (
        SELECT source, doc_id, n_chars,
               substr(sha256(concat(CAST(doc_id AS VARCHAR),
                                    '{C.WRES_SALT}')), 1, 8) AS h8
        FROM documents WHERE n_chars > 0
    ), keyed AS (
        SELECT source, doc_id, n_chars,
               ln((CAST({_WRES_V_SQL} AS BIGINT) + 0.5) / 4294967296.0)
                   / CAST(n_chars AS DOUBLE) AS wkey
        FROM d
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY wkey DESC, doc_id) AS rk
        FROM keyed
    )
    SELECT source, CAST(rk AS BIGINT) AS rk, doc_id,
           CAST(n_chars AS BIGINT) AS n_chars, ROUND(wkey, 10) AS wkey
    FROM ranked WHERE rk <= {C.WRES_K}
    ORDER BY source, rk
"""


# ---------------------------------------------------------------------------
# wave 64 (round 6): closeness centrality, effect sizes, scoring
# metrics, coverage curve
# ---------------------------------------------------------------------------


def _closeness_oracle() -> str:
    parts = [
        f"pairsc AS MATERIALIZED (SELECT ns.n_name AS a, nc.n_name AS b,"
        " COUNT(*) AS n"
        " FROM lineitem"
        " JOIN orders ON l_orderkey = o_orderkey"
        " JOIN customer ON o_custkey = c_custkey"
        " JOIN nation nc ON c_nationkey = nc.n_nationkey"
        " JOIN supplier ON l_suppkey = s_suppkey"
        " JOIN nation ns ON s_nationkey = ns.n_nationkey"
        " GROUP BY 1, 2)",
        "edges AS MATERIALIZED (SELECT a, b FROM pairsc CROSS JOIN"
        " (SELECT AVG(n) AS avg_n FROM pairsc) WHERE n > avg_n)",
        "nodes AS (SELECT DISTINCT node FROM (SELECT a AS node FROM edges"
        " UNION ALL SELECT b FROM edges))",
        "nn AS (SELECT COUNT(*) AS n_nodes FROM nodes)",
        "d0 AS (SELECT node AS s, node AS v, CAST(0 AS BIGINT) AS d"
        " FROM nodes)",
    ]
    for k in range(1, G.CLOSENESS_HOPS + 1):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT s, v, MIN(d) AS d FROM"
            f" (SELECT * FROM d{k-1} UNION ALL"
            f" SELECT dd.s, e.b AS v, dd.d + 1 AS d"
            f" FROM d{k-1} dd JOIN edges e ON e.a = dd.v) GROUP BY s, v)"
        )
    last = f"d{G.CLOSENESS_HOPS}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    per_s AS (SELECT s, COUNT(*) AS r, SUM(d) AS sum_d FROM {last}
              WHERE v <> s GROUP BY s)
    SELECT node AS n_name,
           CAST(COALESCE(r, 0) AS BIGINT) AS n_reachable,
           CAST(COALESCE(sum_d, 0) AS BIGINT) AS sum_dist,
           ROUND(CASE WHEN COALESCE(sum_d, 0) > 0
                      THEN (CAST(r AS DOUBLE) / (n_nodes - 1))
                           * (CAST(r AS DOUBLE) / sum_d)
                      ELSE 0.0 END, 6) AS closeness
    FROM nodes LEFT JOIN per_s ON per_s.s = nodes.node CROSS JOIN nn
    ORDER BY n_name
"""
    )


ORACLE_SQL["x324_closeness_centrality"] = _closeness_oracle()

ORACLE_SQL["x325_effect_sizes"] = """
    WITH per AS MATERIALIZED (
        SELECT o_orderpriority AS grp, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(o_totalprice * o_totalprice
                             AS DECIMAL(38,6))) AS DOUBLE) AS ss
        FROM orders GROUP BY 1
    ), pairs AS (
        SELECT a.grp AS prio_a, b.grp AS prio_b,
               a.n AS n1, a.s AS s1, a.ss AS ss1,
               b.n AS n2, b.s AS s2, b.ss AS ss2
        FROM per a CROSS JOIN per b
        WHERE a.grp < b.grp
    ), d AS (
        SELECT prio_a, prio_b, n1, n2,
               s1 / n1 - s2 / n2 AS mean_diff,
               (s1 / n1 - s2 / n2)
               / sqrt((((n1 - 1) * ((ss1 - s1 * s1 / n1) / (n1 - 1))
                        + (n2 - 1) * ((ss2 - s2 * s2 / n2) / (n2 - 1)))
                       / (n1 + n2 - 2))) AS cohens_d,
               1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0) AS j,
               ln((s1 / n1) / (s2 / n2)) AS lrr
        FROM pairs
    )
    SELECT prio_a, prio_b,
           CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           ROUND(mean_diff, 6) AS mean_diff,
           ROUND(cohens_d, 6) AS cohens_d,
           ROUND(cohens_d * j, 6) AS hedges_g,
           ROUND(lrr, 6) AS log_response_ratio
    FROM d ORDER BY prio_a, prio_b
"""

ORACLE_SQL["x326_calibration_metrics"] = f"""
    WITH li AS (
        SELECT CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END
                    AS DOUBLE) AS y,
               1.0 / (1.0 + exp(-({ST.CAL_A!r} + {ST.CAL_B!r} * l_discount)))
                   AS p
        FROM lineitem
    ), scored AS (
        SELECT y, p,
               LEAST(CAST(floor(p * {ST.CAL_BINS}) AS BIGINT),
                     {ST.CAL_BINS - 1}) AS bin
        FROM li
    ), bins AS (
        SELECT bin, COUNT(*) AS n_k,
               CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS sp,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy
        FROM scored GROUP BY bin
    ), ece AS (
        SELECT CAST(SUM(CAST(abs(sp / n_k - sy / n_k) * n_k
                             AS DECIMAL(38,6))) AS DOUBLE) AS ece_num,
               SUM(n_k) AS n_tot
        FROM bins
    ), base AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(-(y * ln(p) + (1 - y) * ln(1 - p))
                             AS DECIMAL(38,6))) AS DOUBLE) AS ll_sum,
               CAST(SUM(CAST((p - y) * (p - y) AS DECIMAL(38,6)))
                    AS DOUBLE) AS brier_sum,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS pos
        FROM scored
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS n_pos,
           ROUND(ll_sum / n, 6) AS log_loss,
           ROUND(brier_sum / n, 6) AS brier,
           ROUND(ece_num / n_tot, 6) AS ece
    FROM base CROSS JOIN ece
"""

ORACLE_SQL["x327_ngram_coverage_curve"] = f"""
    WITH ranked AS (
        SELECT doc_id, source,
               DENSE_RANK() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        FROM documents
    ), nd AS (SELECT source, COUNT(*) AS nd FROM documents GROUP BY source),
    sh AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   )) AS sh
            FROM (SELECT doc_id,
                         list_filter(regexp_split_to_array(lower(text),
                                                           '[^a-z]+'),
                                     t -> len(t) > 0) AS toks
                  FROM documents)
        )
    ), first AS (
        SELECT r.source, s.sh, MIN(r.rk) AS first_rk
        FROM sh s JOIN ranked r ON r.doc_id = s.doc_id
        GROUP BY 1, 2
    ), dec AS (
        SELECT source,
               CAST(floor((first_rk - 1) * {T.COVERAGE_DECILES} / nd)
                    AS BIGINT) + 1 AS decile,
               COUNT(*) AS new_trigrams
        FROM first JOIN nd USING (source)
        GROUP BY 1, 2
    ), cum AS (
        SELECT source, decile, new_trigrams,
               SUM(new_trigrams) OVER (PARTITION BY source
                                       ORDER BY decile) AS cum_trigrams
        FROM dec
    ), tot AS (SELECT source, SUM(new_trigrams) AS total_tri
               FROM dec GROUP BY source)
    SELECT source, CAST(decile AS BIGINT) AS decile,
           CAST(new_trigrams AS BIGINT) AS new_trigrams,
           CAST(cum_trigrams AS BIGINT) AS cum_trigrams,
           ROUND(cum_trigrams / CAST(total_tri AS DOUBLE), 6) AS coverage
    FROM cum JOIN tot USING (source)
    ORDER BY source, decile
"""


# ---------------------------------------------------------------------------
# wave 65 (round 6): DP release, SRM guardrail, cluster survivorship
# ---------------------------------------------------------------------------

_DP_V_SQL = "(strpos('0123456789abcdef', substr(h8, 1, 1)) - 1)"
for _i in range(2, 9):
    _DP_V_SQL = (
        f"({_DP_V_SQL} * 16"
        f" + (strpos('0123456789abcdef', substr(h8, {_i}, 1)) - 1))"
    )
_DP_NOISE_SQL = (
    f"(-{1.0 / C.DP_EPSILON!r}) * sign(u - 0.5)"
    " * ln(1.0 - 2.0 * abs(u - 0.5))"
)
ORACLE_SQL["x328_dp_noisy_counts"] = f"""
    WITH counts AS (
        SELECT n_name, COUNT(*) AS true_n
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    ), h AS (
        SELECT n_name, true_n,
               substr(sha256(concat(n_name, '{C.DP_SALT}')), 1, 8) AS h8
        FROM counts
    ), uu AS (
        SELECT n_name, true_n,
               (CAST({_DP_V_SQL} AS BIGINT) + 0.5) / 4294967296.0 AS u
        FROM h
    )
    SELECT n_name, CAST(true_n AS BIGINT) AS true_n,
           ROUND({_DP_NOISE_SQL}, 6) AS noise,
           ROUND(true_n + {_DP_NOISE_SQL}, 6) AS noisy_n
    FROM uu ORDER BY n_name
"""

ORACLE_SQL["x329_srm_check"] = f"""
    WITH agg AS (
        SELECT COUNT(*) AS n,
               COUNT(CASE WHEN substr(sha256(concat(
                              CAST(c_custkey AS VARCHAR), '{ST.SRM_SALT}')),
                              1, 1) < '8' THEN 1 END) AS n_a
        FROM customer
    ), d AS (
        SELECT n, n_a, n - n_a AS n_b, CAST(n AS DOUBLE) / 2.0 AS e FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           ROUND((n_a - e) * (n_a - e) / e
                 + (n_b - e) * (n_b - e) / e, 6) AS chi2,
           ((n_a - e) * (n_a - e) / e + (n_b - e) * (n_b - e) / e)
               > {ST.SRM_CHI2_CRIT!r} AS srm_detected
    FROM d
"""

ORACLE_SQL["x330_cluster_survivor"] = f"""
    WITH cl AS ({ORACLE_SQL["x27_dedup_clusters"]}),
    q AS ({_quality_oracle()}),
    member AS (
        SELECT cl.doc_id, cl.cluster_id, q.quality
        FROM cl JOIN q ON q.doc_id = cl.doc_id
    ), st AS (
        SELECT cluster_id, COUNT(*) AS n_members,
               MIN(quality) AS worst_quality
        FROM member GROUP BY 1
    ), rk AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                     ORDER BY quality DESC, doc_id) AS rk
        FROM member
    )
    SELECT rk.cluster_id, doc_id AS survivor_doc_id,
           quality AS survivor_quality,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_members - 1 AS BIGINT) AS n_dropped,
           worst_quality
    FROM rk JOIN st ON st.cluster_id = rk.cluster_id
    WHERE rk = 1 ORDER BY rk.cluster_id
"""


# ---------------------------------------------------------------------------
# wave 66 (round 6): target encoding, Bloom sizing advisor, exact
# grouped quartiles
# ---------------------------------------------------------------------------

ORACLE_SQL["x331_target_encoding"] = f"""
    WITH base AS MATERIALIZED (
        SELECT c_mktsegment AS seg,
               CAST(year(CAST(o_orderdate AS DATE)) AS VARCHAR) AS yr,
               CAST(CASE WHEN o_orderpriority = '{AN.TE_TARGET_PRIORITY}'
                    THEN 1 ELSE 0 END AS BIGINT) AS y
        FROM orders JOIN customer ON o_custkey = c_custkey
    ), feats AS (
        SELECT 'c_mktsegment' AS feature, seg AS category, y FROM base
        UNION ALL
        SELECT 'order_year' AS feature, yr AS category, y FROM base
    ), prior AS (
        SELECT SUM(y) / CAST(COUNT(*) AS DOUBLE) AS prior FROM base
    ), per AS (
        SELECT feature, category, COUNT(*) AS n, SUM(y) AS sum_y
        FROM feats GROUP BY 1, 2
    )
    SELECT feature, category,
           CAST(n AS BIGINT) AS n, CAST(sum_y AS BIGINT) AS sum_y,
           ROUND(sum_y / CAST(n AS DOUBLE), 6) AS raw_rate,
           ROUND(prior, 6) AS prior,
           ROUND((sum_y + {AN.TE_SMOOTHING!r} * prior)
                 / (n + {AN.TE_SMOOTHING!r}), 6) AS encoded
    FROM per CROSS JOIN prior
    ORDER BY feature, category
"""

_BLOOM_M = f"CAST({float(C.BLOOM_M_BITS)!r} AS DOUBLE)"
_BLOOM_LN2 = f"CAST({_math.log(2.0)!r} AS DOUBLE)"
_BLOOM_K_SQL = (
    f"GREATEST(CAST(1 AS BIGINT), CAST(floor({_BLOOM_LN2} * {_BLOOM_M}"
    " / n_keys + 0.5) AS BIGINT))"
)
ORACLE_SQL["x332_bloom_fpr_advisor"] = f"""
    WITH per AS (
        SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
               COUNT(DISTINCT o_custkey) AS n_keys
        FROM orders GROUP BY 1
    ), d AS (
        SELECT month, n_keys, {_BLOOM_K_SQL} AS k FROM per
    )
    SELECT month, CAST(n_keys AS BIGINT) AS n_keys, k AS k_hashes,
           ROUND(n_keys / {_BLOOM_M}, 6) AS fill_per_bit,
           ROUND(pow(1.0 - exp(-(CAST(k AS DOUBLE) * n_keys) / {_BLOOM_M}),
                     CAST(k AS DOUBLE)), 6) AS expected_fpr,
           pow(1.0 - exp(-(CAST(k AS DOUBLE) * n_keys) / {_BLOOM_M}),
               CAST(k AS DOUBLE)) > {C.BLOOM_FPR_TARGET!r} AS undersized
    FROM d ORDER BY month
"""

ORACLE_SQL["x333_grouped_quartiles"] = """
    WITH per_val AS (
        SELECT o_orderpriority AS g, o_totalprice AS v, COUNT(*) AS c
        FROM orders GROUP BY 1, 2
    ), cum AS (
        SELECT g, v, c, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cumc
        FROM per_val
    ), ng AS (SELECT g, SUM(c) AS n_g FROM per_val GROUP BY g),
    grid(q) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                       (CAST(0.75 AS DOUBLE))),
    picks AS (
        SELECT g, v, q, n_g, cumc, c,
               CAST(ceil(q * n_g) AS BIGINT) AS pos
        FROM cum JOIN ng USING (g) CROSS JOIN grid
    )
    SELECT g AS o_orderpriority,
           CAST(MAX(n_g) AS BIGINT) AS n,
           ROUND(MAX(CASE WHEN q = 0.25 THEN v END), 6) AS p25,
           ROUND(MAX(CASE WHEN q = 0.5 THEN v END), 6) AS p50,
           ROUND(MAX(CASE WHEN q = 0.75 THEN v END), 6) AS p75
    FROM picks WHERE cumc >= pos AND cumc - c < pos
    GROUP BY g ORDER BY 1
"""


# ---------------------------------------------------------------------------
# wave 67 (round 6): embedding anisotropy, Hill tail index, ANOVA F
# ---------------------------------------------------------------------------

ORACLE_SQL["x334_embedding_anisotropy"] = """
    WITH vals AS MATERIALIZED (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ), norms AS (
        SELECT vec_id, label,
               sqrt(CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE)) AS norm
        FROM vals GROUP BY 1, 2
    ), per_label AS (
        SELECT label, COUNT(*) AS n_vectors,
               CAST(SUM(CAST(norm AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                   AS avg_norm
        FROM norms GROUP BY 1
    ), mean_vec AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS m
        FROM vals GROUP BY 1, 2
    ), mean_norm AS (
        SELECT label,
               sqrt(CAST(SUM(CAST(m * m AS DECIMAL(38,6))) AS DOUBLE))
                   AS mean_norm
        FROM mean_vec GROUP BY 1
    )
    SELECT label, CAST(n_vectors AS BIGINT) AS n_vectors,
           ROUND(avg_norm, 6) AS avg_norm,
           ROUND(mean_norm, 6) AS mean_norm,
           ROUND(mean_norm / avg_norm, 6) AS anisotropy
    FROM per_label JOIN mean_norm USING (label)
    ORDER BY label
"""

ORACLE_SQL["x335_hill_tail_index"] = f"""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS x FROM events GROUP BY 1
    ), agg AS (
        SELECT COUNT(*) AS n_users,
               COUNT(CASE WHEN x >= {ST.HILL_XMIN} THEN 1 END) AS n_tail,
               CAST(SUM(CAST(CASE WHEN x >= {ST.HILL_XMIN}
                             THEN ln(x / CAST({ST.HILL_XMIN} AS DOUBLE)) END
                             AS DECIMAL(38,6))) AS DOUBLE) AS sum_ln
        FROM per_user
    )
    SELECT CAST(n_users AS BIGINT) AS n_users,
           CAST(n_tail AS BIGINT) AS n_tail,
           CAST({ST.HILL_XMIN} AS BIGINT) AS xmin,
           ROUND(1.0 + n_tail / sum_ln, 6) AS alpha_hill,
           ROUND((1.0 + n_tail / sum_ln - 1.0)
                 / sqrt(CAST(n_tail AS DOUBLE)), 6) AS alpha_se
    FROM agg
"""

ORACLE_SQL["x336_anova_f"] = """
    WITH per AS (
        SELECT event_type, COUNT(*) AS n_i,
               CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS s_i,
               CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS ss_i
        FROM (SELECT event_type, value AS v FROM events)
        GROUP BY 1
    ), tot AS (
        SELECT COUNT(*) AS k, SUM(n_i) AS n,
               CAST(SUM(CAST(s_i AS DECIMAL(38,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(ss_i AS DECIMAL(38,6))) AS DOUBLE) AS ss,
               CAST(SUM(CAST(s_i * s_i / n_i AS DECIMAL(38,6))) AS DOUBLE)
                   AS sum_sq_over_n
        FROM per
    )
    SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n,
           ROUND(sum_sq_over_n - s * s / n, 6) AS ss_between,
           ROUND(ss - sum_sq_over_n, 6) AS ss_within,
           ROUND(((sum_sq_over_n - s * s / n) / (k - 1))
                 / ((ss - sum_sq_over_n) / (n - k)), 6) AS f_stat
    FROM tot
"""


# ---------------------------------------------------------------------------
# wave 68 (round 6): cross-lang overlap, Lorenz deciles, overdispersion
# ---------------------------------------------------------------------------

ORACLE_SQL["x337_cross_lang_overlap"] = """
    WITH sh AS MATERIALIZED (
        SELECT DISTINCT lang, sh FROM (
            SELECT lang,
                   unnest(list_transform(
                       range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                   )) AS sh
            FROM (SELECT lang,
                         list_filter(regexp_split_to_array(lower(text),
                                                           '[^a-z]+'),
                                     t -> len(t) > 0) AS toks
                  FROM documents)
        )
    ), sizes AS (SELECT lang, COUNT(*) AS n_sh FROM sh GROUP BY lang),
    inter AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS shared
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang < b.lang
        GROUP BY 1, 2
    )
    SELECT lang_a, lang_b,
           CAST(shared AS BIGINT) AS shared_trigrams,
           CAST(sa.n_sh AS BIGINT) AS n_a,
           CAST(sb.n_sh AS BIGINT) AS n_b,
           ROUND(shared / CAST(sa.n_sh AS DOUBLE), 6) AS containment_a,
           ROUND(shared / CAST(sb.n_sh AS DOUBLE), 6) AS containment_b,
           ROUND(shared / CAST(sa.n_sh + sb.n_sh - shared AS DOUBLE), 6)
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.lang = lang_a
    JOIN sizes sb ON sb.lang = lang_b
    ORDER BY lang_a, lang_b
"""

ORACLE_SQL["x338_lorenz_deciles"] = f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
        FROM orders GROUP BY 1
    ), per_val AS (
        SELECT rev, COUNT(*) AS c,
               CAST(floor(rev * 100.0 + 0.5) AS BIGINT) AS rcent
        FROM per_cust GROUP BY rev
    ), pv AS (SELECT rev, c, rcent, rcent * c AS rc FROM per_val),
    cum AS (
        SELECT rev, c, rcent,
               SUM(c) OVER (ORDER BY rev) AS cumc,
               SUM(rc) OVER (ORDER BY rev) AS cumrc
        FROM pv
    ), tot AS (SELECT SUM(c) AS n, SUM(rc) AS total_cents FROM pv),
    grid(decile) AS (
        SELECT unnest(range(1, {AN.LORENZ_DECILES} + 1))
    ), picks AS (
        SELECT decile, cumc, c, rcent, cumrc, n, total_cents,
               CAST(ceil(decile * n / {AN.LORENZ_DECILES}) AS BIGINT) AS pos
        FROM cum CROSS JOIN tot CROSS JOIN grid
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(pos AS BIGINT) AS n_customers,
           ROUND((cumrc - rcent * (cumc - pos)) / 100.0, 4) AS cum_revenue,
           ROUND(CAST(cumrc - rcent * (cumc - pos) AS DOUBLE) / total_cents,
                 6) AS cum_share
    FROM picks WHERE cumc >= pos AND cumc - c < pos
    ORDER BY decile
"""

ORACLE_SQL["x339_overdispersion"] = """
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS x FROM events GROUP BY 1
    ), agg AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS ss
        FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND(s / n, 6) AS mean_events,
           ROUND((ss - s * s / n) / (n - 1), 6) AS var_events,
           ROUND(((ss - s * s / n) / (n - 1)) / (s / n), 6)
               AS dispersion_index,
           ROUND(CASE WHEN (ss - s * s / n) / (n - 1) > s / n
                      THEN (s / n) * (s / n)
                           / ((ss - s * s / n) / (n - 1) - s / n)
                      END, 6) AS nb_size_r
    FROM agg
"""


# ---------------------------------------------------------------------------
# wave 69 (round 6): CUPED, diff-in-diff, off-policy IPS
# ---------------------------------------------------------------------------

ORACLE_SQL["x340_cuped_adjustment"] = f"""
    WITH per_cust AS MATERIALIZED (
        SELECT o_custkey,
               CAST(SUM(CAST(CASE WHEN o_orderdate < '{ST.CUPED_SPLIT_DATE}'
                             THEN o_totalprice ELSE 0 END
                             AS DECIMAL(38,6))) AS DOUBLE) AS x,
               CAST(SUM(CAST(CASE WHEN o_orderdate >= '{ST.CUPED_SPLIT_DATE}'
                             THEN o_totalprice ELSE 0 END
                             AS DECIMAL(38,6))) AS DOUBLE) AS y
        FROM orders GROUP BY 1
    ), cust AS (
        SELECT x, y,
               CASE WHEN substr(sha256(concat(CAST(o_custkey AS VARCHAR),
                                              '{ST.CUPED_SALT}')), 1, 1) < '8'
                    THEN 'treatment' ELSE 'control' END AS arm
        FROM per_cust
    ), pooled AS (
        SELECT n, sx / n AS mean_x_all,
               (sxy - sx * sy / n) / (sxx - sx * sx / n) AS theta,
               (sxy - sx * sy / n) * (sxy - sx * sy / n)
                   / ((sxx - sx * sx / n) * (syy - sy * sy / n)) AS rho2
        FROM (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy
            FROM cust)
    ), per_arm AS (
        SELECT arm, COUNT(*) AS n_arm,
               CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx_a,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy_a
        FROM cust GROUP BY arm
    )
    SELECT arm, CAST(n_arm AS BIGINT) AS n_customers,
           ROUND(sy_a / n_arm, 6) AS mean_post,
           ROUND(sx_a / n_arm, 6) AS mean_pre,
           ROUND(theta, 6) AS theta,
           ROUND(sy_a / n_arm - theta * (sx_a / n_arm - mean_x_all), 6)
               AS adjusted_mean,
           ROUND(1.0 - rho2, 6) AS var_ratio
    FROM per_arm CROSS JOIN pooled
    ORDER BY arm
"""

ORACLE_SQL["x341_diff_in_diff"] = f"""
    WITH cells AS (
        SELECT r_name = '{ST.DID_REGION}' AS treated,
               o_orderdate >= '{ST.DID_SPLIT_DATE}' AS post,
               COUNT(*) AS n_i,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s_i,
               CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,6)))
                    AS DOUBLE) AS ss_i
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
    ), agg AS (
        SELECT CAST(SUM(n_i) AS BIGINT) AS n_orders,
               CAST(SUM(CAST((CASE WHEN treated THEN 1.0 ELSE -1.0 END
                              * CASE WHEN post THEN 1.0 ELSE -1.0 END)
                             * (s_i / n_i) AS DECIMAL(38,18))) AS DOUBLE)
                   AS did,
               CAST(SUM(CAST(((ss_i - s_i * s_i / n_i) / (n_i - 1)) / n_i
                             AS DECIMAL(38,18))) AS DOUBLE) AS var_did,
               MAX(CASE WHEN treated AND post THEN s_i / n_i END) AS t_post,
               MAX(CASE WHEN treated AND NOT post THEN s_i / n_i END) AS t_pre,
               MAX(CASE WHEN NOT treated AND post THEN s_i / n_i END)
                   AS c_post,
               MAX(CASE WHEN NOT treated AND NOT post THEN s_i / n_i END)
                   AS c_pre
        FROM cells
    )
    SELECT n_orders,
           ROUND(t_pre, 6) AS treated_pre, ROUND(t_post, 6) AS treated_post,
           ROUND(c_pre, 6) AS control_pre, ROUND(c_post, 6) AS control_post,
           ROUND(did, 6) AS did, ROUND(sqrt(var_did), 6) AS se,
           ROUND(did / sqrt(var_did), 6) AS t_stat
    FROM agg
"""

_IPS_V_SQL = "(strpos('0123456789abcdef', substr(h8, 1, 1)) - 1)"
for _i in range(2, 9):
    _IPS_V_SQL = (
        f"({_IPS_V_SQL} * 16"
        f" + (strpos('0123456789abcdef', substr(h8, {_i}, 1)) - 1))"
    )
ORACLE_SQL["x342_ips_estimator"] = f"""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS r
        FROM orders GROUP BY 1
    ), base AS (
        SELECT c_mktsegment, COALESCE(r, 0.0) AS r,
               substr(sha256(concat(CAST(c_custkey AS VARCHAR),
                                    '{ST.IPS_SALT}')), 1, 8) AS h8,
               CASE WHEN c_mktsegment = '{ST.IPS_SEGMENT}'
                    THEN {ST.IPS_SEG_P!r} ELSE {ST.IPS_BASE_P!r} END
                   AS p_a_true
        FROM customer LEFT JOIN rev ON c_custkey = o_custkey
    ), logged AS (
        SELECT c_mktsegment, r, p_a_true,
               ((CAST({_IPS_V_SQL} AS BIGINT) + 0.5) / 4294967296.0)
                   < p_a_true AS a
        FROM base
    ), scored AS (
        SELECT r,
               CASE WHEN (c_mktsegment = 'AUTOMOBILE') = a THEN 1.0
                    ELSE 0.0 END
               / CASE WHEN a THEN p_a_true ELSE 1.0 - p_a_true END AS w
        FROM logged
    ), agg AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(w * r AS DECIMAL(38,6))) AS DOUBLE) AS swr,
               CAST(SUM(CAST(LEAST(w, CAST('{ST.IPS_CLIP}' AS DOUBLE)) * r
                             AS DECIMAL(38,6))) AS DOUBLE) AS swr_clip,
               CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS sw,
               CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE) AS sww
        FROM scored
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           ROUND(swr / n, 6) AS v_ips,
           ROUND(swr_clip / n, 6) AS v_clipped,
           ROUND(swr / sw, 6) AS v_snips,
           ROUND(sw * sw / sww, 6) AS effective_n
    FROM agg
"""


# ---------------------------------------------------------------------------
# wave 70 (round 6): streaming windowed top-k
# ---------------------------------------------------------------------------

ORACLE_SQL["x343_stream_window_topk"] = """
    -- same finalization predicate as x36 (append-mode watermark),
    -- then the per-window leaderboard on the finalized relation
    WITH wm AS (
        SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS w
        FROM events
    ), agg AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                   AS total_value
        FROM events
        GROUP BY 1, 2
    ), fin AS (
        SELECT agg.* FROM agg, wm
        WHERE agg.window_start + INTERVAL 1 HOUR <= wm.w
    ), rk AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                     ORDER BY n_events DESC, event_type)
                      AS rk
        FROM fin
    )
    SELECT window_start, CAST(rk AS BIGINT) AS rk, event_type,
           CAST(n_events AS BIGINT) AS n_events, total_value
    FROM rk WHERE rk <= 3
    ORDER BY window_start, rk
"""


# ---------------------------------------------------------------------------
# wave 71 (round 6): kNN classifier evaluation
# ---------------------------------------------------------------------------

ORACLE_SQL["x344_knn_eval"] = f"""
    WITH probes AS (
        SELECT vec_id AS query_id, embedding AS qe, label AS true_label
        FROM embeddings WHERE vec_id < {S.KNN_EVAL_PROBES}
    ), train AS (
        SELECT * FROM embeddings WHERE vec_id >= {S.KNN_EVAL_PROBES}
    ), topk AS (
        SELECT query_id, n.vec_id AS neighbor_id, n.label AS nb_label,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY list_cosine_similarity(CAST(qe AS DOUBLE[]),
                                                   CAST(n.embedding
                                                        AS DOUBLE[])) DESC,
                            n.vec_id ASC) AS rnk
        FROM probes q CROSS JOIN train n
    ), votes AS (
        SELECT query_id, nb_label, COUNT(*) AS c
        FROM topk WHERE rnk <= {S.KNN_EVAL_K}
        GROUP BY 1, 2
    ), pred AS (
        SELECT query_id, nb_label AS pred FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY c DESC, nb_label) AS r
            FROM votes
        ) WHERE r = 1
    )
    SELECT true_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN pred = true_label THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           ROUND(SUM(CASE WHEN pred = true_label THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
    FROM probes JOIN pred USING (query_id)
    GROUP BY true_label
    ORDER BY label
"""


# ---------------------------------------------------------------------------
# wave 72 (round 6): QTE, power analysis, bandit posteriors
# ---------------------------------------------------------------------------

ORACLE_SQL["x345_quantile_treatment_effect"] = f"""
    WITH pop AS MATERIALIZED (
        SELECT CASE WHEN substr(sha256(concat(CAST(o_orderkey AS VARCHAR),
                                              '{ST.QTE_SALT}')), 1, 1) < '8'
                    THEN 'treatment' ELSE 'control' END AS g,
               o_totalprice AS v
        FROM orders
    ), per_val AS (SELECT g, v, COUNT(*) AS c FROM pop GROUP BY 1, 2),
    cum AS (
        SELECT g, v, c, SUM(c) OVER (PARTITION BY g ORDER BY v) AS cumc
        FROM per_val
    ), ng AS (SELECT g, SUM(c) AS n_g FROM per_val GROUP BY g),
    grid(q) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                       (CAST(0.75 AS DOUBLE))),
    picks AS (
        SELECT g, v, q, n_g, cumc, c,
               CAST(ceil(q * n_g) AS BIGINT) AS pos
        FROM cum JOIN ng USING (g) CROSS JOIN grid
    ), wide AS (
        SELECT q,
               MAX(CASE WHEN g = 'treatment' THEN v END) AS t_v,
               MAX(CASE WHEN g = 'control' THEN v END) AS c_v,
               MAX(CASE WHEN g = 'treatment' THEN n_g END) AS n_t,
               MAX(CASE WHEN g = 'control' THEN n_g END) AS n_c
        FROM picks WHERE cumc >= pos AND cumc - c < pos
        GROUP BY q
    )
    SELECT ROUND(q, 2) AS quantile,
           CAST(n_t AS BIGINT) AS n_treatment,
           CAST(n_c AS BIGINT) AS n_control,
           ROUND(t_v, 6) AS treatment_value,
           ROUND(c_v, 6) AS control_value,
           ROUND(t_v - c_v, 6) AS qte
    FROM wide ORDER BY quantile
"""

_MDE_Z = f"CAST({ST.MDE_Z_ALPHA + ST.MDE_Z_BETA!r} AS DOUBLE)"
_MDE_T = f"CAST({ST.MDE_REL_TARGET!r} AS DOUBLE)"
ORACLE_SQL["x346_power_mde"] = f"""
    WITH sample AS (
        SELECT c_mktsegment = '{ST.TTEST_SEG_A}' AS is_a,
               o_totalprice AS v
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment IN ('{ST.TTEST_SEG_A}', '{ST.TTEST_SEG_B}')
    ), agg AS (
        SELECT COUNT(CASE WHEN is_a THEN 1 END) AS n_a,
               COUNT(CASE WHEN NOT is_a THEN 1 END) AS n_b,
               COUNT(*) AS n,
               CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS ss
        FROM sample
    ), d AS (
        SELECT n_a, n_b,
               s / n AS mean,
               (ss - s * s / n) / (n - 1) AS var
        FROM agg
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND(mean, 6) AS mean_value,
           ROUND(sqrt(var), 6) AS sd,
           ROUND({_MDE_Z} * sqrt(var * (1.0 / n_a + 1.0 / n_b)), 6)
               AS mde_abs,
           ROUND({_MDE_Z} * sqrt(var * (1.0 / n_a + 1.0 / n_b)) / mean, 6)
               AS mde_rel,
           CAST(ceil(2.0 * {_MDE_Z} * {_MDE_Z} * var
                     / (({_MDE_T} * mean) * ({_MDE_T} * mean))) AS BIGINT)
               AS n_per_arm_for_5pct
    FROM d
"""

_BANDIT_Z = f"CAST({ST.BANDIT_Z95!r} AS DOUBLE)"
ORACLE_SQL["x347_bandit_posteriors"] = f"""
    WITH per AS (
        SELECT o_orderpriority AS arm, COUNT(*) AS n,
               SUM(CASE WHEN o_totalprice > {ST.BANDIT_SUCCESS_PRICE!r}
                   THEN 1 ELSE 0 END) AS x
        FROM orders GROUP BY 1
    ), post AS (
        SELECT arm, n, x,
               (x + 1.0) / (n + 2.0) AS pm,
               sqrt(((x + 1.0) / (n + 2.0))
                    * (1.0 - (x + 1.0) / (n + 2.0)) / (n + 3.0)) AS psd
        FROM per
    )
    SELECT arm, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS n_success,
           ROUND(pm, 6) AS post_mean,
           ROUND(pm - {_BANDIT_Z} * psd, 6) AS ci_lo,
           ROUND(pm + {_BANDIT_Z} * psd, 6) AS ci_hi,
           CAST(ROW_NUMBER() OVER (ORDER BY pm DESC, arm) AS BIGINT)
               AS post_rank
    FROM post ORDER BY post_rank
"""


# ---------------------------------------------------------------------------
# wave 73 (round 6): classical diagnostics — χ² GOF, Jarque-Bera, Grubbs,
# Durbin-Watson, Ljung-Box
# ---------------------------------------------------------------------------

ORACLE_SQL["x348_chisq_gof"] = """
    WITH per AS (
        SELECT isodow(CAST(o_orderdate AS DATE)) AS dow,
               COUNT(*) AS observed
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT SUM(observed) AS n,
               SUM(CAST(observed AS DECIMAL(38,0)) * observed) AS s2
        FROM per
    )
    SELECT CAST(dow AS INT) AS dow,
           CAST(observed AS BIGINT) AS observed,
           ROUND(n / 7.0, 6) AS expected,
           ROUND((observed - n / 7.0) * (observed - n / 7.0)
                 / (n / 7.0), 6) AS contrib,
           ROUND(7.0 * CAST(s2 AS DOUBLE) / n - n, 6) AS chi2_stat
    FROM per CROSS JOIN tot
    ORDER BY dow
"""

ORACLE_SQL["x349_jarque_bera"] = f"""
    WITH agg AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(w * w AS DECIMAL(38,6))) AS DOUBLE) AS s2,
               CAST(SUM(CAST(w * w * w AS DECIMAL(38,6))) AS DOUBLE) AS s3,
               CAST(SUM(CAST(w * w * w * w AS DECIMAL(38,6))) AS DOUBLE)
                   AS s4
        FROM (SELECT o_totalprice / CAST({ST.JB_SCALE} AS DOUBLE) AS w
              FROM orders)
    ), mom AS (
        SELECT n, s1 / n AS m,
               s2 / n - (s1 / n) * (s1 / n) AS m2,
               s3 / n - 3.0 * (s1 / n) * s2 / n
                   + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
               s4 / n - 4.0 * (s1 / n) * s3 / n
                   + 6.0 * (s1 / n) * (s1 / n) * s2 / n
                   - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        FROM agg
    ), sk AS (
        SELECT n, m, m2, m3 / sqrt(m2 * m2 * m2) AS skew,
               m4 / (m2 * m2) - 3.0 AS exkurt
        FROM mom
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(m * {ST.JB_SCALE}, 6) AS mean_value,
           ROUND(sqrt(m2) * {ST.JB_SCALE}, 6) AS sd_value,
           ROUND(skew, 6) AS skewness,
           ROUND(exkurt, 6) AS excess_kurtosis,
           ROUND(n / 6.0 * (skew * skew + exkurt * exkurt / 4.0), 6)
               AS jb_stat
    FROM sk
"""

ORACLE_SQL["x350_grubbs_test"] = """
    WITH per AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), g AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(rev * rev AS DECIMAL(38,6))) AS DOUBLE) AS ss
        FROM per
    ), st AS (
        SELECT n, s / n AS mean,
               sqrt((ss - s * s / n) / (n - 1)) AS sd
        FROM g
    )
    SELECT CAST(o_custkey AS BIGINT) AS suspect_custkey,
           ROUND(rev, 6) AS suspect_revenue,
           CAST(n AS BIGINT) AS n_customers,
           ROUND(mean, 6) AS mean_revenue,
           ROUND(sd, 6) AS sd_revenue,
           ROUND(abs(rev - mean) / sd, 6) AS g_stat
    FROM per CROSS JOIN st
    ORDER BY g_stat DESC, suspect_custkey
    LIMIT 1
"""

ORACLE_SQL["x351_durbin_watson"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS y,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS DOUBLE) AS t
        FROM orders GROUP BY 1, 3
    ), fit AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(t AS DECIMAL(38,6))) AS DOUBLE) AS st,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(t * t AS DECIMAL(38,6))) AS DOUBLE) AS stt,
               CAST(SUM(CAST(t * y AS DECIMAL(38,6))) AS DOUBLE) AS sty
        FROM daily
    ), co AS (
        SELECT n, (sty - st * sy / n) / (stt - st * st / n) AS slope,
               sy / n AS ybar, st / n AS tbar
        FROM fit
    ), resid AS (
        SELECT d, n, y - (ybar + slope * (t - tbar)) AS e
        FROM daily CROSS JOIN co
    ), diff AS (
        SELECT n, e * e AS e2,
               e - lag(e, 1) OVER (ORDER BY d) AS de
        FROM resid
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(CAST(de * de AS DECIMAL(38,6))) AS DOUBLE)
                 / CAST(SUM(CAST(e2 AS DECIMAL(38,6))) AS DOUBLE), 6)
               AS dw_stat
    FROM diff
"""

ORACLE_SQL["x352_ljung_box"] = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), g AS (
        SELECT CAST(SUM(CAST(rev AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                   AS mean,
               COUNT(*) AS n_days
        FROM daily
    ), dev AS (
        SELECT d, n_days, rev - mean AS dev FROM daily CROSS JOIN g
    ), denom AS (
        SELECT CAST(SUM(CAST(dev * dev AS DECIMAL(38,6))) AS DOUBLE) AS ss,
               MAX(n_days) AS n_days
        FROM dev
    ), lags AS (
        SELECT CAST(unnest(range(1, {ST.LJUNG_BOX_MAX_LAG} + 1)) AS INT)
                   AS lag
    ), pairs AS (
        SELECT l.lag, a.dev * b.dev AS p
        FROM dev a CROSS JOIN lags l
        JOIN dev b ON b.d = a.d + l.lag * INTERVAL 1 DAY
    ), acf AS (
        SELECT lag, MIN(n_days) AS n_days,
               CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) / MIN(ss)
                   AS rho
        FROM pairs CROSS JOIN denom
        GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag,
           CAST(n_days AS BIGINT) AS n_days,
           ROUND(rho, 6) AS acf,
           ROUND(SUM(n_days * (n_days + 2.0) * rho * rho
                     / (n_days - lag))
                 OVER (ORDER BY lag
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW), 6) AS q_cum
    FROM acf
    ORDER BY lag
"""


# ---------------------------------------------------------------------------
# wave 74 (round 6): Good-Turing smoothing, Chow break, Pettitt
# changepoint, Kaplan-Meier survival
# ---------------------------------------------------------------------------

ORACLE_SQL["x353_good_turing"] = f"""
    WITH per_tok AS (
        SELECT tok, COUNT(*) AS r
        FROM (SELECT unnest(list_filter(
                         regexp_split_to_array(lower(text), '[^a-z]+'),
                         t -> len(t) > 0)) AS tok
              FROM documents)
        GROUP BY tok
    ), nr AS (
        SELECT r, COUNT(*) AS n_r FROM per_tok GROUP BY r
    ), low AS (
        SELECT r, n_r FROM nr ORDER BY r LIMIT {T.GT_MAX_R}
    ), tot AS (
        SELECT SUM(CAST(r AS DECIMAL(38,0)) * n_r) AS n_tok,
               SUM(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS n1
        FROM nr
    )
    SELECT CAST(a.r AS INT) AS r,
           CAST(a.n_r AS BIGINT) AS n_r,
           CAST(COALESCE(b.n_r, 0) AS BIGINT) AS n_r_next,
           ROUND((a.r + 1.0) * COALESCE(b.n_r, 0) / a.n_r, 6) AS r_star,
           ROUND((a.r + 1.0) * COALESCE(b.n_r, 0) / a.n_r
                 / CAST(n_tok AS DOUBLE), 12) AS p_gt,
           ROUND(n1 / CAST(n_tok AS DOUBLE), 12) AS p0_unseen
    FROM low a
    LEFT JOIN nr b ON b.r = a.r + 1
    CROSS JOIN tot
    ORDER BY r
"""

ORACLE_SQL["x354_chow_test"] = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) >= DATE '{ST.CHOW_BREAK}' AS post,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS DOUBLE) AS t,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS y
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ), regs AS (
        SELECT post, COUNT(*) AS n,
               CAST(SUM(CAST(t AS DECIMAL(38,6))) AS DOUBLE) AS st,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(t * t AS DECIMAL(38,6))) AS DOUBLE) AS stt,
               CAST(SUM(CAST(t * y AS DECIMAL(38,6))) AS DOUBLE) AS sty,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM daily GROUP BY post
    ), split AS (
        SELECT SUM(n) AS n,
               SUM(CASE WHEN NOT post THEN n ELSE 0 END) AS n_pre,
               SUM(CASE WHEN post THEN n ELSE 0 END) AS n_post,
               SUM(syy - sy * sy / n
                   - (sty - st * sy / n) * (sty - st * sy / n)
                     / (stt - st * st / n)) AS ssr_split
        FROM regs
    ), pooled AS (
        SELECT syy - sy * sy / n
               - (sty - st * sy / n) * (sty - st * sy / n)
                 / (stt - st * st / n) AS ssr_pooled
        FROM (SELECT SUM(n) AS n, SUM(st) AS st, SUM(sy) AS sy,
                     SUM(stt) AS stt, SUM(sty) AS sty, SUM(syy) AS syy
              FROM regs)
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(n_pre AS BIGINT) AS n_pre,
           CAST(n_post AS BIGINT) AS n_post,
           ROUND(ssr_split, 3) AS ssr_split,
           ROUND(ssr_pooled, 3) AS ssr_pooled,
           ROUND((ssr_pooled - ssr_split) / 2.0
                 / (ssr_split / (n - 4.0)), 6) AS f_stat
    FROM split CROSS JOIN pooled
"""

ORACLE_SQL["x355_pettitt_test"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), ranked AS (
        SELECT d, ROW_NUMBER() OVER (ORDER BY rev, d) AS rk
        FROM daily
    ), u AS (
        SELECT d, COUNT(*) OVER () AS n,
               2 * SUM(rk) OVER (ORDER BY d
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)
               - ROW_NUMBER() OVER (ORDER BY d)
                 * (COUNT(*) OVER () + 1) AS u_t
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           d AS change_day,
           CAST(u_t AS BIGINT) AS u_stat,
           CAST(abs(u_t) AS BIGINT) AS k_stat,
           ROUND(LEAST(1.0,
                 exp(-6.0 * CAST(abs(u_t) AS DOUBLE) * abs(u_t)
                     / (CAST(n AS DOUBLE) * n * n
                        + CAST(n AS DOUBLE) * n)) * 2.0), 6) AS p_approx
    FROM u
    ORDER BY abs(u_t) DESC, d
    LIMIT 1
"""

ORACLE_SQL["x356_kaplan_meier"] = f"""
    WITH purch AS (
        SELECT DISTINCT o_custkey AS c, CAST(o_orderdate AS DATE) AS d
        FROM orders
    ), spans AS (
        SELECT CASE WHEN nxt IS NOT NULL
                    THEN date_diff('day', d, nxt)
                    ELSE date_diff('day', d, DATE '{ST.KM_CENSOR_DATE}')
               END AS gap,
               CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
        FROM (SELECT d, lead(d) OVER (PARTITION BY c ORDER BY d) AS nxt
              FROM purch)
    ), dist AS (
        SELECT gap, SUM(event) AS d_i, SUM(1 - event) AS c_i
        FROM spans GROUP BY gap
    ), at_risk AS (
        SELECT gap, d_i, c_i,
               SUM(d_i + c_i) OVER ()
               - COALESCE(SUM(d_i + c_i) OVER (
                     ORDER BY gap
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS n_risk
        FROM dist
    ), surv AS (
        SELECT gap, d_i, c_i, n_risk,
               exp(CAST(SUM(CAST(CASE WHEN d_i < n_risk
                          THEN ln(1.0 - CAST(d_i AS DOUBLE) / n_risk)
                          ELSE -1.0e6 END AS DECIMAL(38,12)))
                   OVER (ORDER BY gap
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS DOUBLE)) AS s
        FROM at_risk
    )
    SELECT CAST(gap AS INT) AS gap_days,
           CAST(n_risk AS BIGINT) AS n_at_risk,
           CAST(d_i AS BIGINT) AS n_events,
           CAST(c_i AS BIGINT) AS n_censored,
           ROUND(s, 6) AS survival
    FROM surv
    WHERE d_i > 0 AND gap <= {ST.KM_MAX_DAYS}
    ORDER BY gap_days
"""


# ---------------------------------------------------------------------------
# wave 75 (round 6): Heaps' law, repetition audit, Mann-Kendall
# ---------------------------------------------------------------------------

ORACLE_SQL["x357_heaps_law"] = f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), mx AS (
        SELECT MAX(doc_id) + 1 AS hi FROM documents
    ), tpb AS (
        SELECT floor(doc_id * {T.HEAPS_BUCKETS} / hi) AS bucket,
               SUM(len(toks)) AS b_toks
        FROM toks CROSS JOIN mx GROUP BY 1
    ), vpb AS (
        SELECT floor(first_doc * {T.HEAPS_BUCKETS} / hi) AS bucket,
               COUNT(*) AS b_vocab
        FROM (SELECT tok, MIN(doc_id) AS first_doc
              FROM (SELECT doc_id, unnest(toks) AS tok FROM toks)
              GROUP BY tok)
        CROSS JOIN mx GROUP BY 1
    ), pts AS (
        SELECT bucket, n_cum, v_cum,
               ln(CAST(n_cum AS DOUBLE)) AS lx,
               ln(CAST(v_cum AS DOUBLE)) AS ly
        FROM (SELECT t.bucket,
                     SUM(t.b_toks) OVER (ORDER BY t.bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS n_cum,
                     SUM(COALESCE(v.b_vocab, 0)) OVER (ORDER BY t.bucket
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS v_cum
              FROM tpb t LEFT JOIN vpb v ON v.bucket = t.bucket)
        WHERE n_cum > 0 AND v_cum > 0
    ), fit AS (
        SELECT (sxy - sx * sy / k) / (sxx - sx * sx / k) AS beta,
               sx, sy, k
        FROM (SELECT COUNT(*) AS k,
                     CAST(SUM(CAST(lx AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                     CAST(SUM(CAST(ly AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                     CAST(SUM(CAST(lx * lx AS DECIMAL(38,6))) AS DOUBLE)
                         AS sxx,
                     CAST(SUM(CAST(lx * ly AS DECIMAL(38,6))) AS DOUBLE)
                         AS sxy
              FROM pts)
    )
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(n_cum AS BIGINT) AS n_tokens_cum,
           CAST(v_cum AS BIGINT) AS vocab_cum,
           ROUND(beta, 6) AS beta,
           ROUND(exp(sy / k - beta * sx / k), 6) AS k_coef
    FROM pts CROSS JOIN fit
    ORDER BY bucket
"""

ORACLE_SQL["x358_repetition_audit"] = f"""
    WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                   t -> len(t) > 0) AS toks
        FROM documents
    ), counts AS (
        SELECT doc_id, sh, COUNT(*) AS c FROM (
            SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
            FROM toks)
        GROUP BY doc_id, sh
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_trigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS max_repeat,
           ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END)
                 / CAST(SUM(c) AS DOUBLE), 6) AS dup_frac,
           CAST(ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END)
                      / CAST(SUM(c) AS DOUBLE), 6)
                > {T.REPETITION_THRESHOLD} AS BIGINT) AS flagged
    FROM counts
    GROUP BY doc_id
    ORDER BY doc_id
"""

ORACLE_SQL["x359_mann_kendall"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), s AS (
        SELECT SUM(CAST(sign(b.rev - a.rev) AS BIGINT)) AS s
        FROM daily a JOIN daily b ON b.d > a.d
    ), nr AS (SELECT COUNT(*) AS n FROM daily)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(s AS BIGINT) AS s_stat,
           ROUND(CAST(n AS DOUBLE) * (n - 1.0) * (2.0 * n + 5.0) / 18.0,
                 3) AS var_s,
           ROUND(CASE
                   WHEN s > 0 THEN (s - 1.0)
                        / sqrt(CAST(n AS DOUBLE) * (n - 1.0)
                               * (2.0 * n + 5.0) / 18.0)
                   WHEN s < 0 THEN (s + 1.0)
                        / sqrt(CAST(n AS DOUBLE) * (n - 1.0)
                               * (2.0 * n + 5.0) / 18.0)
                   ELSE 0.0
                 END, 6) AS z_score,
           CAST(sign(s) AS INT) AS trend_sign
    FROM s CROSS JOIN nr
"""


# ---------------------------------------------------------------------------
# wave 76 (round 6): FD audit, seasonal backtest, info-gain ranking
# ---------------------------------------------------------------------------

_FD_BLOCKS = "\n    UNION ALL ".join(
    f"""SELECT '{label}' AS candidate,
               COUNT(*) AS n_keys,
               SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_violating,
               MAX(nd) AS max_fanout
        FROM (SELECT COUNT(DISTINCT {dep}) AS nd FROM {table} GROUP BY {det})"""
    for label, table, det, dep in C.FD_CANDIDATES
)
ORACLE_SQL["x360_fd_audit"] = f"""
    WITH audits AS (
        {_FD_BLOCKS}
    )
    SELECT candidate,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_violating AS BIGINT) AS n_violating,
           CAST(max_fanout AS BIGINT) AS max_fanout,
           ROUND(n_violating / CAST(n_keys AS DOUBLE), 6) AS violation_rate,
           CAST(n_violating = 0 AS BIGINT) AS holds
    FROM audits
    ORDER BY candidate
"""

ORACLE_SQL["x361_seasonal_backtest"] = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY 1
    ), lagged AS (
        SELECT rev,
               lag(rev, 1) OVER (ORDER BY d) AS p1,
               lag(rev, {ST.SEASONAL_LAG}) OVER (ORDER BY d) AS p7
        FROM daily
    ), agg AS (
        SELECT COUNT(*) AS n_eval,
               CAST(SUM(CAST(abs(rev - p1) AS DECIMAL(38,6))) AS DOUBLE)
                   AS ae1,
               CAST(SUM(CAST(abs(rev - p7) AS DECIMAL(38,6))) AS DOUBLE)
                   AS ae7
        FROM lagged WHERE p7 IS NOT NULL
    )
    SELECT CAST(n_eval AS BIGINT) AS n_eval,
           ROUND(ae1 / n_eval, 3) AS mae_naive1,
           ROUND(ae7 / n_eval, 3) AS mae_seasonal7,
           ROUND((ae7 / n_eval) / (ae1 / n_eval), 6) AS mase,
           ROUND((1.0 - (ae7 / n_eval) / (ae1 / n_eval)) * 100.0, 6)
               AS improvement_pct
    FROM agg
"""

_IG_FEATS = (("dow", "dow"), ("month", "mon"), ("segment", "seg"))
_IG_BLOCKS = "\n        UNION ALL ".join(
    f"""SELECT '{name}' AS feature,
               (SELECT COUNT(DISTINCT CAST({col} AS VARCHAR)) FROM base)
                   AS n_values,
               (SELECT CAST(SUM(CAST((c / CAST(n AS DOUBLE))
                        * ln(cf / CAST(c AS DOUBLE)) AS DECIMAL(38,12)))
                        AS DOUBLE)
                FROM (SELECT CAST({col} AS VARCHAR) AS fv, label,
                             SUM(c) AS c
                      FROM base GROUP BY 1, 2) cells
                JOIN (SELECT CAST({col} AS VARCHAR) AS fv, SUM(c) AS cf
                      FROM base GROUP BY 1) marg USING (fv)
                CROSS JOIN tot) AS h_cond,
               (SELECT CAST(SUM(CAST((cf / CAST(n AS DOUBLE))
                        * ln(n / CAST(cf AS DOUBLE)) AS DECIMAL(38,12)))
                        AS DOUBLE)
                FROM (SELECT CAST({col} AS VARCHAR) AS fv, SUM(c) AS cf
                      FROM base GROUP BY 1) marg
                CROSS JOIN tot) AS h_feat"""
    for name, col in _IG_FEATS
)
ORACLE_SQL["x362_infogain_ranking"] = f"""
    WITH base AS (
        SELECT date_part('dow', CAST(o_orderdate AS DATE)) AS dow,
               date_part('month', CAST(o_orderdate AS DATE)) AS mon,
               c_mktsegment AS seg,
               o_orderpriority AS label,
               COUNT(*) AS c
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2, 3, 4
    ), tot AS (SELECT SUM(c) AS n FROM base),
    hl AS (
        SELECT CAST(SUM(CAST((cl / CAST(n AS DOUBLE))
                 * ln(n / CAST(cl AS DOUBLE)) AS DECIMAL(38,12)))
                 AS DOUBLE) AS h_label
        FROM (SELECT label, SUM(c) AS cl FROM base GROUP BY 1)
        CROSS JOIN tot
    ), per_feat AS (
        {_IG_BLOCKS}
    )
    SELECT feature,
           CAST(n_values AS BIGINT) AS n_values,
           ROUND(h_label, 6) AS h_label,
           ROUND(h_cond, 6) AS h_cond,
           ROUND(h_label - h_cond, 6) AS info_gain,
           ROUND((h_label - h_cond) / h_feat, 6) AS gain_ratio,
           CAST(ROW_NUMBER() OVER (
               ORDER BY ROUND(h_label - h_cond, 6) DESC, feature)
               AS BIGINT) AS rank
    FROM per_feat CROSS JOIN hl
    ORDER BY rank
"""


# ---------------------------------------------------------------------------
# wave 77 (round 6): conformal interval, energy distance, PSI, log-rank
# ---------------------------------------------------------------------------

ORACLE_SQL["x363_conformal_interval"] = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(o_orderdate AS DATE) >= DATE '{ST.CONFORMAL_SPLIT}'
                   AS held_out,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS DOUBLE) AS t,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS y
        FROM orders GROUP BY 1, 2, 3
    ), fit AS (
        SELECT n, (sty - st * sy / n) / (stt - st * st / n) AS slope,
               sy / n AS ybar, st / n AS tbar
        FROM (SELECT COUNT(*) AS n,
                     CAST(SUM(CAST(t AS DECIMAL(38,6))) AS DOUBLE) AS st,
                     CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
                     CAST(SUM(CAST(t * t AS DECIMAL(38,6))) AS DOUBLE)
                         AS stt,
                     CAST(SUM(CAST(t * y AS DECIMAL(38,6))) AS DOUBLE)
                         AS sty
              FROM daily WHERE NOT held_out)
    ), calib_r AS (
        SELECT n, abs(y - (ybar + slope * (t - tbar))) AS r, d
        FROM daily CROSS JOIN fit WHERE NOT held_out
    ), qhat AS (
        SELECT n AS n_calib, r AS q_hat
        FROM (SELECT n, r, d,
                     ROW_NUMBER() OVER (ORDER BY r, d) AS rk
              FROM calib_r)
        WHERE rk = LEAST(CAST(CEIL((n + 1)
                         * CAST({1.0 - ST.CONFORMAL_ALPHA} AS DOUBLE))
                         AS BIGINT), n)
    )
    SELECT CAST(n_calib AS BIGINT) AS n_calib,
           CAST(COUNT(*) AS BIGINT) AS n_eval,
           ROUND(MAX(q_hat), 3) AS q_hat,
           CAST({1.0 - ST.CONFORMAL_ALPHA} AS DOUBLE) AS target_coverage,
           ROUND(SUM(CASE WHEN abs(y - (ybar + slope * (t - tbar)))
                               <= q_hat THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS empirical_coverage
    FROM daily CROSS JOIN fit CROSS JOIN qhat
    WHERE held_out
    GROUP BY n_calib
"""

ORACLE_SQL["x364_energy_distance"] = f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) >= DATE '{ST.ENERGY_SPLIT}'
                   AS post,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS rev
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ), x AS (SELECT rev AS vx FROM daily WHERE NOT post),
    y AS (SELECT rev AS vy FROM daily WHERE post),
    xy AS (
        SELECT CAST(SUM(CAST(abs(vx - vy) AS DECIMAL(38,6))) AS DOUBLE)
                   AS sxy,
               COUNT(*) AS sxy_n
        FROM x CROSS JOIN y
    ), xx AS (
        SELECT CAST(SUM(CAST(abs(a.vx - b.vx) AS DECIMAL(38,6))) AS DOUBLE)
                   AS sxx,
               COUNT(*) AS sxx_n
        FROM x a CROSS JOIN x b
    ), yy AS (
        SELECT CAST(SUM(CAST(abs(a.vy - b.vy) AS DECIMAL(38,6))) AS DOUBLE)
                   AS syy,
               COUNT(*) AS syy_n
        FROM y a CROSS JOIN y b
    ), nx AS (SELECT COUNT(*) AS n_pre FROM x),
    ny AS (SELECT COUNT(*) AS n_post FROM y)
    SELECT CAST(n_pre AS BIGINT) AS n_pre,
           CAST(n_post AS BIGINT) AS n_post,
           ROUND(sxy / sxy_n, 3) AS mean_cross_dist,
           ROUND(sxx / sxx_n, 3) AS mean_within_pre,
           ROUND(syy / syy_n, 3) AS mean_within_post,
           ROUND(2.0 * sxy / sxy_n - sxx / sxx_n - syy / syy_n, 3)
               AS energy_dist
    FROM xy CROSS JOIN xx CROSS JOIN yy CROSS JOIN nx CROSS JOIN ny
"""

ORACLE_SQL["x365_psi_drift"] = f"""
    WITH cells AS (
        SELECT CAST(o_orderdate AS DATE) >= DATE '{ST.PSI_SPLIT}' AS post,
               CAST(floor(log10(o_totalprice)
                          * {ST.PSI_BINS_PER_DECADE}) AS BIGINT) AS bin,
               COUNT(*) AS c
        FROM orders GROUP BY 1, 2
    ), tot AS (
        SELECT SUM(CASE WHEN NOT post THEN c ELSE 0 END) AS nb,
               SUM(CASE WHEN post THEN c ELSE 0 END) AS nc
        FROM cells
    ), joined AS (
        SELECT COALESCE(b.bin, u.bin) AS bin,
               COALESCE(b.c, 0) AS cb,
               COALESCE(u.c, 0) AS cc,
               GREATEST(COALESCE(b.c, 0) / CAST(nb AS DOUBLE),
                        CAST({ST.PSI_EPS} AS DOUBLE)) AS p,
               GREATEST(COALESCE(u.c, 0) / CAST(nc AS DOUBLE),
                        CAST({ST.PSI_EPS} AS DOUBLE)) AS q
        FROM (SELECT bin, c FROM cells WHERE NOT post) b
        FULL OUTER JOIN (SELECT bin, c FROM cells WHERE post) u
            ON b.bin = u.bin
        CROSS JOIN tot
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(cb AS BIGINT) AS n_baseline,
           CAST(cc AS BIGINT) AS n_current,
           ROUND((p - q) * ln(p / q), 9) AS contrib,
           ROUND(CAST(SUM(CAST((p - q) * ln(p / q) AS DECIMAL(38,12)))
                      OVER () AS DOUBLE), 6) AS psi
    FROM joined
    ORDER BY bin
"""

ORACLE_SQL["x366_logrank_test"] = f"""
    WITH asia AS (
        SELECT n_nationkey AS nk
        FROM nation JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{ST.LOGRANK_REGION}'
    ), cust AS (
        SELECT c_custkey AS c,
               CAST(nk IS NOT NULL AS INT) AS g
        FROM customer LEFT JOIN asia ON c_nationkey = nk
    ), purch AS (
        SELECT DISTINCT o.o_custkey AS c, CAST(o_orderdate AS DATE) AS d, g
        FROM orders o JOIN cust ON o.o_custkey = cust.c
    ), spans AS (
        SELECT g,
               CASE WHEN nxt IS NOT NULL THEN date_diff('day', d, nxt)
                    ELSE date_diff('day', d, DATE '{ST.KM_CENSOR_DATE}')
               END AS gap,
               CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
        FROM (SELECT g, d, lead(d) OVER (PARTITION BY c ORDER BY d) AS nxt
              FROM purch)
    ), dist AS (
        SELECT gap,
               SUM(CASE WHEN g = 1 THEN event ELSE 0 END) AS d1,
               SUM(CASE WHEN g = 0 THEN event ELSE 0 END) AS d0,
               SUM(CASE WHEN g = 1 THEN 1 - event ELSE 0 END) AS c1,
               SUM(CASE WHEN g = 0 THEN 1 - event ELSE 0 END) AS c0
        FROM spans GROUP BY gap
    ), at_risk AS (
        SELECT gap, d1, d0,
               SUM(d1 + c1) OVER ()
               - COALESCE(SUM(d1 + c1) OVER (ORDER BY gap
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS n1,
               SUM(d0 + c0) OVER ()
               - COALESCE(SUM(d0 + c0) OVER (ORDER BY gap
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS n0
        FROM dist
    ), terms AS (
        SELECT d1, d0, n1, n0,
               (d1 + d0) * n1 / CAST(n1 + n0 AS DOUBLE) AS e1,
               CASE WHEN n1 + n0 > 1 THEN
                    (d1 + d0) * (n1 / CAST(n1 + n0 AS DOUBLE))
                    * (1.0 - n1 / CAST(n1 + n0 AS DOUBLE))
                    * (n1 + n0 - d1 - d0)
                    / CAST(n1 + n0 - 1 AS DOUBLE)
               ELSE 0.0 END AS v
        FROM at_risk WHERE d1 + d0 > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times,
           CAST(SUM(d1) AS BIGINT) AS o1,
           ROUND(CAST(SUM(CAST(e1 AS DECIMAL(38,12))) AS DOUBLE), 6) AS e1,
           ROUND(CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE), 6)
               AS var1,
           ROUND((SUM(d1) - CAST(SUM(CAST(e1 AS DECIMAL(38,12)))
                                 AS DOUBLE))
                 / sqrt(CAST(SUM(CAST(v AS DECIMAL(38,12))) AS DOUBLE)),
                 6) AS z_score
    FROM terms
"""


# ---------------------------------------------------------------------------
# wave 78 (round 6): lakehouse write-audit-publish
# ---------------------------------------------------------------------------

ORACLE_SQL["x367_wap_publish"] = f"""
    WITH raw AS (
        SELECT * FROM orders WHERE o_orderkey % 4 = 3
    ), clean AS (
        SELECT * FROM raw
        WHERE o_totalprice > 0
          AND o_totalprice < {LH.WAP_PRICE_CAP}
          AND o_orderstatus IN ('F', 'O', 'P')
    ), finalt AS (
        SELECT COUNT(*) AS final_rows,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS final_revenue
        FROM (SELECT o_totalprice FROM orders WHERE o_orderkey % 4 < 3
              UNION ALL SELECT o_totalprice FROM clean)
    ), counts AS (
        SELECT (SELECT COUNT(*) FROM raw) AS n_staged_raw,
               (SELECT COUNT(*) FROM clean) AS n_published
    ), rules AS (
        SELECT 'positive_price' AS rule,
               (SELECT COUNT(*) FROM raw
                WHERE NOT COALESCE(o_totalprice > 0, FALSE))
                   AS n_violations
        UNION ALL
        SELECT 'price_cap',
               (SELECT COUNT(*) FROM raw
                WHERE NOT COALESCE(o_totalprice < {LH.WAP_PRICE_CAP},
                                   FALSE))
        UNION ALL
        SELECT 'status_domain',
               (SELECT COUNT(*) FROM raw
                WHERE NOT COALESCE(o_orderstatus IN ('F', 'O', 'P'),
                                   FALSE))
    )
    SELECT rule,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(n_staged_raw AS BIGINT) AS n_staged_raw,
           CAST(n_published AS BIGINT) AS n_published,
           CAST(final_rows AS BIGINT) AS final_rows,
           ROUND(final_revenue, 2) AS final_revenue
    FROM rules CROSS JOIN counts CROSS JOIN finalt
    ORDER BY rule
"""


# ---------------------------------------------------------------------------
# wave 79 (round 6): join-MV IVM, Horvitz-Thompson, sequential monitoring
# ---------------------------------------------------------------------------

ORACLE_SQL["x368_join_mv_ivm"] = """
    WITH facts_v2 AS (
        SELECT o_custkey,
               CASE WHEN o_orderkey % 16 = 9 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderkey % 4 < 3 AND o_orderkey % 16 <> 2
        UNION ALL
        SELECT o_custkey, o_totalprice AS price
        FROM orders WHERE o_orderkey % 4 = 3
    ), dim_v2 AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 7 THEN 'MOVED'
                    ELSE c_mktsegment END AS seg
        FROM customer
    )
    SELECT seg AS c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE), 2)
               AS total_price
    FROM facts_v2 JOIN dim_v2 ON o_custkey = c_custkey
    GROUP BY seg
    ORDER BY c_mktsegment
"""

ORACLE_SQL["x369_horvitz_thompson"] = f"""
    WITH t AS (
        SELECT o_totalprice,
               substr(sha256(CAST(o_orderkey AS VARCHAR) || ':ht'), 1, 4)
                   AS u,
               CAST(floor(GREATEST({C.HT_PI_FLOOR},
                          LEAST(1.0, o_totalprice
                                / CAST({C.HT_PRICE_SCALE} AS DOUBLE)))
                          * 65536.0) AS INTEGER) - 1 AS ti
        FROM orders
    ), d AS (
        SELECT o_totalprice,
               (ti + 1) / CAST(65536.0 AS DOUBLE) AS pi,
               (u <= printf('%04x', ti)) AS inc
        FROM t
    ), agg AS (
        SELECT COUNT(*) AS n_pop,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                   AS true_total,
               SUM(CASE WHEN inc THEN 1 ELSE 0 END) AS n_sample,
               CAST(SUM(CAST(CASE WHEN inc THEN o_totalprice / pi
                                  ELSE 0.0 END AS DECIMAL(38,6)))
                    AS DOUBLE) AS ht_total,
               CAST(SUM(CAST(CASE WHEN inc THEN
                                  (1.0 - pi) / (pi * pi)
                                  * o_totalprice * o_totalprice
                                  ELSE 0.0 END AS DECIMAL(38,6)))
                    AS DOUBLE) AS var_ht
        FROM d
    )
    SELECT CAST(n_pop AS BIGINT) AS n_pop,
           CAST(n_sample AS BIGINT) AS n_sample,
           ROUND(ht_total, 2) AS ht_total,
           ROUND(true_total, 2) AS true_total,
           ROUND((ht_total - true_total) / true_total * 100.0, 6)
               AS rel_err_pct,
           ROUND(sqrt(var_ht), 2) AS se_ht
    FROM agg
"""

_SEQ_BUCKET = (
    "CASE "
    + " ".join(
        f"WHEN CAST(o_orderdate AS DATE) < DATE '{d}' THEN {i + 1}"
        for i, d in enumerate(ST.SEQ_LOOKS)
    )
    + " ELSE NULL END"
)
_OBF_ROWS = "\n        UNION ALL ".join(
    f"SELECT {i + 1} AS look, CAST({z} AS DOUBLE) AS obf_bound"
    for i, z in enumerate(ST.OBF_BOUNDS)
)
ORACLE_SQL["x370_sequential_monitoring"] = f"""
    WITH per AS (
        SELECT look, a, COUNT(*) AS n,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS s,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS ss
        FROM (SELECT {_SEQ_BUCKET} AS look,
                     CASE WHEN substr(sha256(CAST(o_orderkey AS VARCHAR)
                                             || '{ST.SEQ_SALT}'), 1, 1)
                               < '8' THEN 1 ELSE 0 END AS a,
                     o_totalprice AS y
              FROM orders)
        WHERE look IS NOT NULL
        GROUP BY look, a
    ), cum AS (
        SELECT look, a,
               SUM(n) OVER w AS n,
               CAST(SUM(CAST(s AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s,
               CAST(SUM(CAST(ss AS DECIMAL(38,6))) OVER w AS DOUBLE) AS ss
        FROM per
        WINDOW w AS (PARTITION BY a ORDER BY look
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), bounds AS (
        {_OBF_ROWS}
    ), j AS (
        SELECT x.look, x.n AS n_a, x.s AS s_a, x.ss AS ss_a,
               y.n AS n_b, y.s AS s_b, y.ss AS ss_b, obf_bound
        FROM (SELECT * FROM cum WHERE a = 1) x
        JOIN (SELECT * FROM cum WHERE a = 0) y USING (look)
        JOIN bounds USING (look)
    )
    SELECT CAST(look AS INT) AS look,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           ROUND((s_a / n_a - s_b / n_b)
                 / sqrt(((ss_a - s_a * s_a / n_a) / (n_a - 1.0)) / n_a
                        + ((ss_b - s_b * s_b / n_b) / (n_b - 1.0)) / n_b),
                 6) AS z_score,
           obf_bound,
           CAST(abs((s_a / n_a - s_b / n_b)
                / sqrt(((ss_a - s_a * s_a / n_a) / (n_a - 1.0)) / n_a
                       + ((ss_b - s_b * s_b / n_b) / (n_b - 1.0)) / n_b))
                > obf_bound AS BIGINT) AS crossed
    FROM j
    ORDER BY look
"""


# ---------------------------------------------------------------------------
# wave 80 (round 6): streaming PSI drift monitor
# ---------------------------------------------------------------------------

ORACLE_SQL["x371_stream_psi_drift"] = f"""
    -- x36/x343 append-mode finalization predicate, then batch PSI
    WITH wm AS (
        SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS w
        FROM events
    ), agg AS (
        SELECT time_bucket(INTERVAL '1 day', ts) AS ws,
               CAST(floor(log10(value) * {_PSI_B}) AS BIGINT) AS bin,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ), fin AS (
        SELECT agg.* FROM agg, wm WHERE ws + INTERVAL 1 DAY <= wm.w
    ), bd AS (SELECT min(ws) AS b FROM fin),
    base AS (SELECT bin, n AS cb FROM fin, bd WHERE ws = b),
    nb AS (SELECT SUM(cb) AS nb FROM base),
    cur AS (SELECT ws AS w, bin, n AS cc FROM fin),
    nc AS (SELECT w, SUM(cc) AS nc FROM cur GROUP BY 1),
    keys AS (
        SELECT w, bin
        FROM (SELECT DISTINCT w FROM cur) CROSS JOIN
             (SELECT bin FROM base)
        UNION
        SELECT w, bin FROM cur
    ), j AS (
        SELECT k.w,
               GREATEST(COALESCE(cb, 0) / CAST(nb AS DOUBLE),
                        CAST({_PSI_E} AS DOUBLE)) AS p,
               GREATEST(COALESCE(cc, 0) / CAST(nc AS DOUBLE),
                        CAST({_PSI_E} AS DOUBLE)) AS q
        FROM keys k
        LEFT JOIN base USING (bin)
        LEFT JOIN cur ON cur.w = k.w AND cur.bin = k.bin
        JOIN nc ON nc.w = k.w
        CROSS JOIN nb
    ), psis AS (
        SELECT w AS window_start,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               ROUND(CAST(SUM(CAST((p - q) * ln(p / q)
                                   AS DECIMAL(38,12))) AS DOUBLE), 6)
                   AS psi
        FROM j GROUP BY w
    )
    SELECT window_start, n_bins, psi,
           CAST(psi > 0.25 AS BIGINT) AS drift_alert
    FROM psis
    ORDER BY window_start
"""

# wave 81 (round 7): Mann-Whitney U, McNemar, Kendall tau-b, PR-AUC

ORACLE_SQL["x372_mann_whitney"] = f"""
    WITH per_val AS (
        SELECT o_totalprice AS val,
               COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS t_a,
               COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS t_b
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        GROUP BY 1
    ), cum AS (
        SELECT t_a, t_b,
               SUM(t_b) OVER (ORDER BY val) AS cb
        FROM per_val
    ), agg AS (
        SELECT CAST(SUM(CAST(t_a * (2 * (cb - t_b) + t_b)
                             AS DECIMAL(38,6))) AS DOUBLE) AS u2,
               CAST(SUM(t_a) AS BIGINT) AS n_a,
               CAST(SUM(t_b) AS BIGINT) AS n_b,
               CAST(SUM(CAST((t_a + t_b) * (t_a + t_b) * (t_a + t_b)
                             - (t_a + t_b) AS DECIMAL(38,6)))
                    AS DOUBLE) AS tie3
        FROM cum
    ), z AS (
        SELECT n_a, n_b, u2 / 2.0 AS u,
               CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0 AS mu,
               CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
               * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1.0
                  - tie3 / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                            * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                               - 1.0))) AS var
        FROM agg
    )
    SELECT n_a, n_b,
           ROUND(u, 1) AS u_stat,
           ROUND((u - mu) / sqrt(var), 6) AS z_score,
           abs((u - mu) / sqrt(var)) > {ST.MW_Z_CRIT_5!r} AS reject_5pct
    FROM z
"""

ORACLE_SQL["x373_mcnemar_test"] = f"""
    WITH d AS (
        SELECT len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                               t -> len(t) > 0)) AS n_tok,
               len(regexp_replace(text, '[^A-Za-z]', '', 'g')) / len(text)
                   AS ar,
               n_chars
        FROM documents WHERE len(text) > 0
    ), lab AS (
        SELECT (n_tok >= {ST.KAPPA_A_KEEP_TOK}
                AND ar >= {ST.KAPPA_A_KEEP_AR!r}) AS keep_a,
               (n_chars >= {ST.KAPPA_B_KEEP_CHARS}) AS keep_b
        FROM d
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(CASE WHEN keep_a AND NOT keep_b THEN 1 END)
                    AS BIGINT) AS b_disc,
               CAST(COUNT(CASE WHEN NOT keep_a AND keep_b THEN 1 END)
                    AS BIGINT) AS c_disc
        FROM lab
    )
    SELECT n_docs, b_disc, c_disc,
           ROUND((CAST(abs(b_disc - c_disc) AS DOUBLE) - 1.0)
                 * (CAST(abs(b_disc - c_disc) AS DOUBLE) - 1.0)
                 / CAST(b_disc + c_disc AS DOUBLE), 6) AS chi2_cc,
           (CAST(abs(b_disc - c_disc) AS DOUBLE) - 1.0)
           * (CAST(abs(b_disc - c_disc) AS DOUBLE) - 1.0)
           / CAST(b_disc + c_disc AS DOUBLE) > {ST.MCN_CHI2_CRIT_5!r}
               AS reject_5pct
    FROM agg
"""

ORACLE_SQL["x374_kendall_tau_daily"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               COUNT(*) AS x,
               SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS y
        FROM orders GROUP BY 1
    ), pairs AS (
        SELECT CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
                               OR (a.x > b.x AND a.y > b.y)
                             THEN 1 ELSE 0 END) AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
                               OR (a.x > b.x AND a.y < b.y)
                             THEN 1 ELSE 0 END) AS BIGINT) AS disc,
               CAST(SUM(CASE WHEN a.x = b.x THEN 1 ELSE 0 END)
                    AS BIGINT) AS tie_x,
               CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END)
                    AS BIGINT) AS tie_y,
               CAST(COUNT(*) AS BIGINT) AS n0
        FROM daily a JOIN daily b ON a.d < b.d
    )
    SELECT n0, conc, disc, tie_x, tie_y,
           ROUND(CAST(conc - disc AS DOUBLE)
                 / sqrt(CAST(n0 - tie_x AS DOUBLE)
                        * CAST(n0 - tie_y AS DOUBLE)), 6) AS tau_b
    FROM pairs
"""

ORACLE_SQL["x375_pr_auc"] = """
    WITH per_val AS (
        SELECT o_totalprice AS val,
               COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS pos,
               COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS neg
        FROM orders
        WHERE o_orderstatus IN ('F', 'O')
        GROUP BY 1
    ), cum AS (
        SELECT pos, neg,
               SUM(pos) OVER (ORDER BY val DESC) AS cpos,
               SUM(neg) OVER (ORDER BY val DESC) AS cneg
        FROM per_val
    ), agg AS (
        SELECT CAST(SUM(CAST(pos * (CAST(cpos AS DOUBLE)
                                    / CAST(cpos + cneg AS DOUBLE))
                             AS DECIMAL(38,6))) AS DOUBLE) AS ap_num,
               CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(SUM(neg) AS BIGINT) AS n_neg
        FROM cum
    )
    SELECT n_pos, n_neg,
           ROUND(ap_num / CAST(n_pos AS DOUBLE), 6) AS avg_precision,
           ROUND(n_pos / CAST(n_pos + n_neg AS DOUBLE), 6) AS baseline,
           ROUND(ap_num / CAST(n_pos AS DOUBLE)
                 - n_pos / CAST(n_pos + n_neg AS DOUBLE), 6) AS lift
    FROM agg
"""

# wave 82 (round 7): ridge regression, k-center coreset, personalized PR

ORACLE_SQL["x376_ridge_regression"] = f"""
    WITH feats AS (
        SELECT len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                               t -> len(t) > 0)) AS q,
               len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS d,
               n_chars AS y
        FROM documents WHERE len(text) > 0
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(q AS DECIMAL(38,6))) AS DOUBLE) AS sq,
               CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE) AS sd,
               CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(q * q AS DECIMAL(38,6))) AS DOUBLE) AS sqq,
               CAST(SUM(CAST(q * d AS DECIMAL(38,6))) AS DOUBLE) AS sqd,
               CAST(SUM(CAST(d * d AS DECIMAL(38,6))) AS DOUBLE) AS sdd,
               CAST(SUM(CAST(q * y AS DECIMAL(38,6))) AS DOUBLE) AS sqy,
               CAST(SUM(CAST(d * y AS DECIMAL(38,6))) AS DOUBLE) AS sdy,
               CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
        FROM feats
    ), p AS (
        SELECT *, CAST(n AS DOUBLE) AS nd,
               sqq + {ST.RIDGE_LAMBDA!r} AS a11,
               sdd + {ST.RIDGE_LAMBDA!r} AS a22
        FROM s
    ), cr AS (
        SELECT *,
               nd * (a11 * a22 - sqd * sqd)
               - sq * (sq * a22 - sqd * sd)
               + sd * (sq * sqd - a11 * sd) AS det
        FROM p
    ), bb AS (
        SELECT *,
               (sy * (a11 * a22 - sqd * sqd)
                - sq * (sqy * a22 - sqd * sdy)
                + sd * (sqy * sqd - a11 * sdy)) / det AS b0,
               (nd * (sqy * a22 - sqd * sdy)
                - sy * (sq * a22 - sqd * sd)
                + sd * (sq * sdy - sqy * sd)) / det AS b1,
               (nd * (a11 * sdy - sqy * sqd)
                - sq * (sq * sdy - sqy * sd)
                + sy * (sq * sqd - a11 * sd)) / det AS b2
        FROM cr
    ), fit AS (
        SELECT *,
               syy - 2.0 * (b0 * sy + b1 * sqy + b2 * sdy)
               + (b0 * b0 * nd + b1 * b1 * sqq + b2 * b2 * sdd
                  + 2.0 * (b0 * b1 * sq + b0 * b2 * sd + b1 * b2 * sqd))
                   AS sse,
               syy - sy * sy / nd AS sst
        FROM bb
    )
    SELECT n,
           ROUND(b0, 6) AS coef_intercept,
           ROUND(b1, 6) AS coef_tokens,
           ROUND(b2, 6) AS coef_alpha,
           ROUND(1.0 - sse / sst, 6) AS r2
    FROM fit
"""


def _kcenter_oracle(k: int = S.KCENTER_K) -> str:
    ctes = [
        """e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), p1 AS MATERIALIZED (
        SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1
    )"""
    ]
    for j in range(2, k + 1):
        terms = ", ".join(
            f"1.0 - list_cosine_similarity(e.v, (SELECT v FROM p{i}))"
            for i in range(1, j)
        )
        dexpr = f"least({terms})" if j > 2 else terms
        ctes.append(
            f"""p{j} AS MATERIALIZED (
        SELECT e.vec_id, e.v, {dexpr} AS d
        FROM e ORDER BY d DESC, e.vec_id ASC LIMIT 1
    )"""
        )
    picks = "\n    UNION ALL\n    ".join(
        f"SELECT {j} AS sel_rank, (SELECT vec_id FROM p{j}) AS vec_id,"
        f" (SELECT ROUND(d, 6) FROM p{j}) AS d_min"
        for j in range(2, k + 1)
    )
    return f"""
    WITH {', '.join(ctes)}
    SELECT CAST(1 AS INT) AS sel_rank,
           (SELECT vec_id FROM p1) AS vec_id,
           CAST({S.KCENTER_SEED_SENTINEL!r} AS DOUBLE) AS d_min
    UNION ALL
    {picks}
    ORDER BY sel_rank
"""


ORACLE_SQL["x377_kcenter_coreset"] = _kcenter_oracle()


def _ppr_oracle(
    damping: float = G.PR_DAMPING,
    n_iter: int = G.PR_ITERS,
    nation: int = G.PPR_SEED_NATION,
) -> str:
    """x378's chained-CTE replay: x143's dangling machinery with the
    uniform teleport replaced by the seed distribution s (and dangling
    mass returned to s)."""
    t = repr(1.0 - damping)
    rounds = []
    for i in range(1, n_iter + 1):
        rounds.append(f"""dg{i} AS MATERIALIZED (
        SELECT CAST(COALESCE(SUM(CAST(p.rank AS DECIMAL(38,18))),
                             CAST(0 AS DECIMAL(38,18))) AS DOUBLE) AS dm
        FROM pr{i - 1} p LEFT JOIN outd od ON od.u = p.node
        WHERE od.u IS NULL
    ), pr{i} AS MATERIALIZED (
        SELECT sw.node,
               CAST({t} AS DOUBLE) * sw.s
               + CAST({damping!r} AS DOUBLE)
                 * (COALESCE(CAST(SUM(CAST(p.rank / od.deg AS DECIMAL(38,18)))
                                  AS DOUBLE), CAST(0 AS DOUBLE))
                    + dg{i}.dm * sw.s) AS rank
        FROM sw
        CROSS JOIN dg{i}
        LEFT JOIN edges e ON e.v = sw.node
        LEFT JOIN pr{i - 1} p ON p.node = e.u
        LEFT JOIN outd od ON od.u = e.u
        GROUP BY sw.node, sw.s, dg{i}.dm
    )""")
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey AS u,
               l_suppkey + {G.SUPPLIER_NODE_OFFSET} AS v
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    nodes AS (SELECT u AS node FROM edges UNION SELECT v FROM edges),
    outd AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    sn AS MATERIALIZED (
        SELECT n.node FROM nodes n
        JOIN (SELECT DISTINCT c_custkey AS node FROM customer
              WHERE c_nationkey = {nation}) s ON s.node = n.node
    ),
    ns AS (SELECT COUNT(*) AS ns FROM sn),
    sw AS MATERIALIZED (
        SELECT n.node,
               CASE WHEN s.node IS NOT NULL
                    THEN CAST(1.0 AS DOUBLE) / ns.ns
                    ELSE CAST(0 AS DOUBLE) END AS s
        FROM nodes n LEFT JOIN sn s ON s.node = n.node CROSS JOIN ns
    ),
    pr0 AS (SELECT node, s AS rank FROM sw),
    {rounds_sql},
    top AS (
        SELECT node, rank FROM pr{n_iter}
        ORDER BY rank DESC, node ASC LIMIT 25
    )
    SELECT node, ROUND(rank, 6) AS rank
    FROM top
    ORDER BY rank DESC, node ASC
"""


ORACLE_SQL["x378_personalized_pagerank"] = _ppr_oracle()

# wave 83 (round 7): CV ridge, seasonal decomposition, isotonic PAVA

_CV_V_SQL = "(strpos('0123456789abcdef', substr(h8, 1, 1)) - 1)"
for _i in range(2, 9):
    _CV_V_SQL = (
        f"({_CV_V_SQL} * 16"
        f" + (strpos('0123456789abcdef', substr(h8, {_i}, 1)) - 1))"
    )
ORACLE_SQL["x379_cv_ridge"] = f"""
    WITH feats0 AS (
        SELECT substr(sha256(concat(CAST(doc_id AS VARCHAR),
                                    '{ST.CV_SALT}')), 1, 8) AS h8,
               len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                               t -> len(t) > 0)) AS q,
               len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS d,
               n_chars AS y
        FROM documents WHERE len(text) > 0
    ), feats AS (
        SELECT CAST({_CV_V_SQL} AS BIGINT) % {ST.CV_FOLDS} AS fold,
               q, d, y
        FROM feats0
    ), per_fold AS (
        SELECT fold,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(q AS DECIMAL(38,6))) AS sq,
               SUM(CAST(d AS DECIMAL(38,6))) AS sd,
               SUM(CAST(y AS DECIMAL(38,6))) AS sy,
               SUM(CAST(q * q AS DECIMAL(38,6))) AS sqq,
               SUM(CAST(q * d AS DECIMAL(38,6))) AS sqd,
               SUM(CAST(d * d AS DECIMAL(38,6))) AS sdd,
               SUM(CAST(q * y AS DECIMAL(38,6))) AS sqy,
               SUM(CAST(d * y AS DECIMAL(38,6))) AS sdy,
               SUM(CAST(y * y AS DECIMAL(38,6))) AS syy
        FROM feats GROUP BY fold
    ), tot AS (
        SELECT SUM(n) AS t_n, SUM(sq) AS t_sq, SUM(sd) AS t_sd,
               SUM(sy) AS t_sy, SUM(sqq) AS t_sqq, SUM(sqd) AS t_sqd,
               SUM(sdd) AS t_sdd, SUM(sqy) AS t_sqy, SUM(sdy) AS t_sdy,
               SUM(syy) AS t_syy
        FROM per_fold
    ), tr AS (
        SELECT fold, n,
               CAST(t_n - n AS DOUBLE) AS nn,
               CAST(t_sq - sq AS DOUBLE) AS nsq,
               CAST(t_sd - sd AS DOUBLE) AS nsd,
               CAST(t_sy - sy AS DOUBLE) AS nsy,
               CAST(t_sqq - sqq AS DOUBLE) + {ST.RIDGE_LAMBDA!r} AS a11,
               CAST(t_sqd - sqd AS DOUBLE) AS nsqd,
               CAST(t_sdd - sdd AS DOUBLE) + {ST.RIDGE_LAMBDA!r} AS a22,
               CAST(t_sqy - sqy AS DOUBLE) AS nsqy,
               CAST(t_sdy - sdy AS DOUBLE) AS nsdy,
               CAST(n AS DOUBLE) AS hn,
               CAST(sq AS DOUBLE) AS hsq, CAST(sd AS DOUBLE) AS hsd,
               CAST(sqd AS DOUBLE) AS hsqd,
               CAST(sy AS DOUBLE) AS hsy, CAST(sqy AS DOUBLE) AS hsqy,
               CAST(sdy AS DOUBLE) AS hsdy,
               CAST(sqq AS DOUBLE) AS hsqq, CAST(sdd AS DOUBLE) AS hsdd,
               CAST(syy AS DOUBLE) AS hsyy
        FROM per_fold CROSS JOIN tot
    ), cr AS (
        SELECT *,
               nn * (a11 * a22 - nsqd * nsqd)
               - nsq * (nsq * a22 - nsqd * nsd)
               + nsd * (nsq * nsqd - a11 * nsd) AS det
        FROM tr
    ), bb AS (
        SELECT *,
               (nsy * (a11 * a22 - nsqd * nsqd)
                - nsq * (nsqy * a22 - nsqd * nsdy)
                + nsd * (nsqy * nsqd - a11 * nsdy)) / det AS b0,
               (nn * (nsqy * a22 - nsqd * nsdy)
                - nsy * (nsq * a22 - nsqd * nsd)
                + nsd * (nsq * nsdy - nsqy * nsd)) / det AS b1,
               (nn * (a11 * nsdy - nsqy * nsqd)
                - nsq * (nsq * nsdy - nsqy * nsd)
                + nsy * (nsq * nsqd - a11 * nsd)) / det AS b2
        FROM cr
    ), fit AS (
        SELECT fold, n, b1, b2,
               hsyy - 2.0 * (b0 * hsy + b1 * hsqy + b2 * hsdy)
               + (b0 * b0 * hn + b1 * b1 * hsqq + b2 * b2 * hsdd
                  + 2.0 * (b0 * b1 * hsq + b0 * b2 * hsd
                           + b1 * b2 * hsqd)) AS sse,
               hsyy - hsy * hsy / hn AS sst
        FROM bb
    )
    SELECT CAST(fold AS INT) AS fold, n AS n_test,
           ROUND(b1, 6) AS coef_tokens,
           ROUND(b2, 6) AS coef_alpha,
           ROUND(1.0 - sse / sst, 6) AS r2_holdout
    FROM fit ORDER BY fold
"""

ORACLE_SQL["x380_seasonal_decomposition"] = """
    WITH daily AS (
        SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS d,
               CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0)))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ), win AS (
        SELECT d, cents,
               SUM(cents) OVER w AS win_cents,
               COUNT(*) OVER w AS win_n,
               MIN(d) OVER w AS d_lo,
               MAX(d) OVER w AS d_hi
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), ratios AS (
        SELECT d % 7 AS dow,
               CAST(cents * 7 AS DOUBLE) / CAST(win_cents AS DOUBLE)
                   AS ratio
        FROM win
        WHERE win_n = 7 AND d_hi - d_lo = 6
    )
    SELECT dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(CAST(ratio AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 6) AS seasonal_index
    FROM ratios GROUP BY dow ORDER BY dow
"""

ORACLE_SQL["x381_isotonic_regression"] = """
    WITH daily AS (
        SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS d,
               CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0)))
                    AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1
    ), pre AS (
        SELECT d, cents, cnt,
               SUM(cents) OVER (ORDER BY d) AS pc,
               SUM(cnt) OVER (ORDER BY d) AS pn,
               row_number() OVER (ORDER BY d) AS i
        FROM daily
    ), intervals AS (
        SELECT a.i AS j,
               CAST(b.pc - a.pc + a.cents AS DOUBLE)
               / CAST(b.pn - a.pn + a.cnt AS DOUBLE) AS mean_jk
        FROM pre a JOIN pre b ON a.i <= b.i
    ), mins AS (
        SELECT j, MIN(mean_jk) AS m_j FROM intervals GROUP BY j
    ), fit AS (
        SELECT p.d,
               CAST(p.cents AS DOUBLE) / CAST(p.cnt AS DOUBLE) AS y,
               MAX(m.m_j) OVER (ORDER BY p.i
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS f
        FROM pre p JOIN mins m ON p.i = m.j
    )
    SELECT d,
           ROUND(y / 100.0, 6) AS daily_mean,
           ROUND(f / 100.0, 6) AS isotonic_fit
    FROM fit ORDER BY d
"""

# wave 84 (round 7): SemDeDup, tokenizer fertility, embedding outliers

ORACLE_SQL["x382_semdedup"] = f"""
    WITH kk AS (
        SELECT GREATEST({CL.KMEANS_K},
                        CAST(CEIL(COUNT(*) /
                                  CAST({CL.TARGET_CLUSTER_ROWS} AS DOUBLE))
                             AS BIGINT)) AS k
        FROM embeddings
    ), mm AS (
        -- exact integer ceil(sqrt(k)): floor(sqrt) + correction, so a
        -- float sqrt landing a hair off the true root cannot change m
        -- (mirrors clustering.semdedup_supers, which uses isqrt)
        SELECT CASE WHEN m0 * m0 >= k THEN m0 ELSE m0 + 1 END AS m
        FROM (SELECT k, CAST(FLOOR(SQRT(CAST(k AS DOUBLE))) AS BIGINT)
                         AS m0 FROM kk)
    ), c AS (
        SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS ce
        FROM embeddings WHERE vec_id BETWEEN 1 AND (SELECT k FROM kk)
    ), sup AS (
        SELECT centroid_id AS super_id, ce AS se
        FROM c WHERE centroid_id <= (SELECT m FROM mm)
    ), v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
    ), cmap AS (
        -- each of the k centroids routes to its nearest super-centroid
        SELECT centroid_id, super_id, ce FROM (
            SELECT c.centroid_id, s.super_id, c.ce,
                   row_number() OVER (
                       PARTITION BY c.centroid_id
                       ORDER BY list_sum(list_transform(ce,
                           (x, i) -> (x - se[i]) * (x - se[i]))), s.super_id
                   ) AS rn
            FROM c CROSS JOIN sup s
        ) WHERE rn = 1
    ), vsup AS (
        -- coarse route: each vector to its nearest super-centroid
        SELECT vec_id, ve, super_id FROM (
            SELECT v.vec_id, v.ve, s.super_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_sum(list_transform(ve,
                           (x, i) -> (x - se[i]) * (x - se[i]))), s.super_id
                   ) AS rn
            FROM v CROSS JOIN sup s
        ) WHERE rn = 1
    ), r AS (
        -- fine route: nearest centroid within the super-cluster only
        SELECT vec_id, centroid_id,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY list_sum(list_transform(ve,
                       (x, i) -> (x - ce[i]) * (x - ce[i]))), centroid_id
               ) AS rn
        FROM vsup JOIN cmap USING (super_id)
    ), asg AS (
        SELECT vec_id, centroid_id,
               CAST((row_number() OVER (PARTITION BY centroid_id
                                        ORDER BY vec_id) - 1)
                    // {D.SEMDEDUP_CLUSTER_CAP} AS INTEGER) AS sub
        FROM r WHERE rn = 1
    ), drops AS (
        SELECT DISTINCT b.vec_id AS dropped_id
        FROM asg a
        JOIN asg b ON a.centroid_id = b.centroid_id
                  AND a.sub = b.sub AND a.vec_id < b.vec_id
        JOIN v va ON va.vec_id = a.vec_id
        JOIN v vb ON vb.vec_id = b.vec_id
        WHERE list_cosine_similarity(va.ve, vb.ve)
              >= {D.SEMDEDUP_TAU!r}
    )
    SELECT asg.centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(dr.dropped_id) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COUNT(dr.dropped_id) AS BIGINT) AS n_kept
    FROM asg LEFT JOIN drops dr ON dr.dropped_id = asg.vec_id
    GROUP BY asg.centroid_id
    ORDER BY asg.centroid_id
"""

ORACLE_SQL["x383_tokenizer_fertility"] = f"""
    WITH per AS (
        SELECT source,
               CAST(len(regexp_extract_all(text,
                        '{C.BPE_REGEX.replace("'", "''")}'))
                    AS BIGINT) AS n_bpe,
               CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z]+'),
                                    t -> len(t) > 0)) AS BIGINT) AS n_words,
               CAST(n_chars AS BIGINT) AS nc
        FROM documents WHERE len(text) > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe,
           ROUND(SUM(n_bpe) / CAST(SUM(n_words) AS DOUBLE), 6) AS fertility,
           ROUND(SUM(nc) / CAST(SUM(n_bpe) AS DOUBLE), 6) AS chars_per_token
    FROM per GROUP BY source ORDER BY source
"""

ORACLE_SQL["x384_embedding_outliers"] = f"""
    WITH vals AS MATERIALIZED (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ), stats AS MATERIALIZED (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mu,
               CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                   AS ex2
        FROM vals GROUP BY 1, 2
    ), z2 AS (
        SELECT vals.vec_id, vals.label,
               CAST(SUM(CAST((v - mu) * (v - mu) / (ex2 - mu * mu)
                             AS DECIMAL(38,6))) AS DOUBLE) AS z2
        FROM vals JOIN stats
          ON stats.label = vals.label AND stats.pos = vals.pos
        GROUP BY 1, 2
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN z2 > {CL.MAHA_CRIT_99!r} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           ROUND(SUM(CASE WHEN z2 > {CL.MAHA_CRIT_99!r} THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS outlier_rate,
           ROUND(MAX(z2), 6) AS max_z2
    FROM z2 GROUP BY label ORDER BY label
"""

# wave 85 (round 7): recursive CTE, column stats census, Page-Hinkley

ORACLE_SQL["x385_recursive_cte"] = f"""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT s.s_nationkey AS u, c.c_nationkey AS v
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey
    ),
    reach (node, hops) AS (
        SELECT CAST(MIN(u) AS INT) AS node, 0 AS hops FROM edges
        UNION ALL
        SELECT e.v AS node, r.hops + 1 AS hops
        FROM reach r JOIN edges e ON e.u = r.node
        WHERE r.hops < {RX.RCTE_MAX_HOPS}
    )
    SELECT n.n_name,
           CAST(MIN(r.hops) AS BIGINT) AS min_hops
    FROM reach r JOIN nation n ON n.n_nationkey = r.node
    GROUP BY n.n_name
    ORDER BY min_hops, n_name
"""

_CSTAT_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]
ORACLE_SQL["x386_column_stats"] = "\n    UNION ALL\n    ".join(
    f"""SELECT '{c}' AS column_name,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv,
           ROUND(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS null_frac,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM orders"""
    for c in _CSTAT_COLS
) + "\n    ORDER BY column_name"

ORACLE_SQL["x387_page_hinkley"] = f"""
    WITH daily AS (
        SELECT (CAST(o_orderdate AS DATE) - DATE '1970-01-01') AS d,
               CAST(SUM(CAST(o_totalprice * 100 AS DECIMAL(38,0)))
                    AS BIGINT) AS cents,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1
    ), run AS (
        SELECT d,
               CAST(cents AS DOUBLE) / CAST(cnt AS DOUBLE)
               - CAST(SUM(cents) OVER (ORDER BY d) AS DOUBLE)
                 / CAST(SUM(cnt) OVER (ORDER BY d) AS DOUBLE)
               - {ST.PH_DELTA_CENTS!r} AS resid
        FROM daily
    ), cum0 AS (
        SELECT d,
               CAST(SUM(CAST(resid AS DECIMAL(38,6)))
                    OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS DOUBLE) AS u
        FROM run
    ), cum AS (
        SELECT d, u,
               u - MIN(u) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS ph
        FROM cum0
    ), fin AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days, MAX(ph) AS mph FROM cum
    )
    SELECT n_days,
           ROUND(mph / 100.0, 6) AS ph_max,
           (SELECT CAST(MAX(d) AS BIGINT) FROM cum
            WHERE ph = (SELECT mph FROM fin)) AS changepoint_day,
           mph > {ST.PH_LAMBDA_CENTS!r} AS drift_alarm
    FROM fin
"""

# wave 86 (round 7): GDPR cascade, capture-recapture, two-proportion test

ORACLE_SQL["x388_gdpr_cascade"] = f"""
    WITH c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS before,
               CAST(COUNT(CASE WHEN c_custkey % {LH.GDPR_FORGET_MOD} = 7
                           THEN 1 END) AS BIGINT) AS deleted
        FROM customer
    ), o AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS before,
               CAST(COUNT(CASE WHEN o_custkey % {LH.GDPR_FORGET_MOD} = 7
                           THEN 1 END) AS BIGINT) AS deleted
        FROM orders
    ), orphans AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        WHERE o_custkey % {LH.GDPR_FORGET_MOD} <> 7
          AND o_custkey NOT IN (
              SELECT c_custkey FROM customer
              WHERE c_custkey % {LH.GDPR_FORGET_MOD} <> 7)
    )
    SELECT 'customer' AS table_name, before AS rows_before,
           deleted AS rows_deleted,
           CAST(before - deleted AS BIGINT) AS rows_after,
           CAST(0 AS BIGINT) AS orphan_orders
    FROM c
    UNION ALL
    SELECT 'orders', before, deleted, CAST(before - deleted AS BIGINT),
           (SELECT n FROM orphans)
    FROM o
    ORDER BY table_name
"""

_CRC_HALF = (D.SIG_K // D.SIG_BAND_ROWS) // 2
_CRC_BANDS_A = "\n        UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, "
    + " || '|' || ".join(
        f"sig_{b * D.SIG_BAND_ROWS + r}" for r in range(D.SIG_BAND_ROWS)
    )
    + " AS band_key FROM sigs"
    for b in range(_CRC_HALF)
)
_CRC_BANDS_B = "\n        UNION ALL ".join(
    f"SELECT doc_id, {b} AS band_id, "
    + " || '|' || ".join(
        f"sig_{b * D.SIG_BAND_ROWS + r}" for r in range(D.SIG_BAND_ROWS)
    )
    + " AS band_key FROM sigs"
    for b in range(_CRC_HALF, 2 * _CRC_HALF)
)
ORACLE_SQL["x389_capture_recapture"] = f"""
    WITH {_SIG_CTES},
    sigs AS (
        SELECT doc_id, {_SIG_MINS}
        FROM shingles GROUP BY doc_id
    ),
    ba AS ({_CRC_BANDS_A}),
    bb AS ({_CRC_BANDS_B}),
    ca AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM ba a JOIN ba b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    cb AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM bb a JOIN bb b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    u AS (
        SELECT COALESCE(ca.da, cb.da) AS da, COALESCE(ca.db, cb.db) AS db,
               (ca.da IS NOT NULL) AS in_a, (cb.da IS NOT NULL) AS in_b
        FROM ca FULL OUTER JOIN cb
          ON ca.da = cb.da AND ca.db = cb.db
    ),
    agg AS (
        SELECT CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)
                    AS BIGINT) AS m_both,
               CAST(COUNT(*) AS BIGINT) AS n_union
        FROM u
    )
    SELECT n_a, n_b, m_both, n_union,
           ROUND(CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE)
                 / CAST(m_both + 1 AS DOUBLE) - 1.0, 6) AS n_est,
           ROUND(CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE)
                 / CAST(m_both + 1 AS DOUBLE) - 1.0
                 - CAST(n_union AS DOUBLE), 6) AS est_missed
    FROM agg
"""

ORACLE_SQL["x390_two_proportion_test"] = f"""
    WITH agg AS (
        SELECT CAST(COUNT(CASE WHEN o_orderpriority = '1-URGENT'
                           THEN 1 END) AS BIGINT) AS n_a,
               CAST(COUNT(CASE WHEN o_orderpriority = '1-URGENT'
                            AND l_returnflag = 'R' THEN 1 END)
                    AS BIGINT) AS k_a,
               CAST(COUNT(CASE WHEN o_orderpriority = '5-LOW'
                           THEN 1 END) AS BIGINT) AS n_b,
               CAST(COUNT(CASE WHEN o_orderpriority = '5-LOW'
                            AND l_returnflag = 'R' THEN 1 END)
                    AS BIGINT) AS k_b
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), p AS (
        SELECT n_a, n_b,
               CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p1,
               CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p2,
               (CAST(k_a AS DOUBLE) + CAST(k_b AS DOUBLE))
               / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp,
               CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
               {ST.WILSON_Z!r} * {ST.WILSON_Z!r} AS zz
        FROM agg
    ), zc AS (
        SELECT *,
               (p1 - p2) / sqrt(pp * (1.0 - pp)
                                * (1.0 / na + 1.0 / nb)) AS z
        FROM p
    )
    SELECT n_a, n_b,
           ROUND(p1, 6) AS rate_urgent,
           ROUND(p2, 6) AS rate_low,
           ROUND(z, 6) AS z_score,
           ROUND((p1 + zz / (2.0 * na)
                  - {ST.WILSON_Z!r} * sqrt(p1 * (1.0 - p1) / na
                                           + zz / (4.0 * na * na)))
                 / (1.0 + zz / na), 6) AS ci_lo_urgent,
           ROUND((p1 + zz / (2.0 * na)
                  + {ST.WILSON_Z!r} * sqrt(p1 * (1.0 - p1) / na
                                           + zz / (4.0 * na * na)))
                 / (1.0 + zz / na), 6) AS ci_hi_urgent,
           ROUND((p2 + zz / (2.0 * nb)
                  - {ST.WILSON_Z!r} * sqrt(p2 * (1.0 - p2) / nb
                                           + zz / (4.0 * nb * nb)))
                 / (1.0 + zz / nb), 6) AS ci_lo_low,
           ROUND((p2 + zz / (2.0 * nb)
                  + {ST.WILSON_Z!r} * sqrt(p2 * (1.0 - p2) / nb
                                           + zz / (4.0 * nb * nb)))
                 / (1.0 + zz / nb), 6) AS ci_hi_low,
           abs(z) > {ST.WILSON_Z!r} AS reject_5pct
    FROM zc
"""

# wave 87 (round 7): leakage-safe split, NDCG@5


def _hexpoly8(col: str) -> str:
    s = f"(strpos('0123456789abcdef', substr({col}, 1, 1)) - 1)"
    for i in range(2, 9):
        s = f"({s} * 16 + (strpos('0123456789abcdef', substr({col}, {i}, 1)) - 1))"
    return s


ORACLE_SQL["x391_leakage_safe_split"] = f"""
    WITH RECURSIVE {_NEARDUP_CC_CTES},
    cl AS (SELECT node AS doc_id, MIN(r) AS cluster_id
           FROM reach GROUP BY node),
    rep AS (
        SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS rep
        FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
    ), hs AS (
        SELECT doc_id,
               substr(sha256(concat(CAST(rep AS VARCHAR),
                                    '{C.LSPLIT_SALT}')), 1, 8) AS hc,
               substr(sha256(concat(CAST(doc_id AS VARCHAR),
                                    '{C.LSPLIT_SALT}')), 1, 8) AS hn
        FROM rep
    ), spl AS (
        SELECT doc_id,
               (CAST({_hexpoly8('hc')} AS BIGINT) % 10
                < {C.LSPLIT_TRAIN_OF_10}) AS trc,
               (CAST({_hexpoly8('hn')} AS BIGINT) % 10
                < {C.LSPLIT_TRAIN_OF_10}) AS trn
        FROM hs
    ), counts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN trc THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_train
        FROM spl
    ), aud AS (
        SELECT CAST(SUM(CASE WHEN a.trc <> b.trc THEN 1 ELSE 0 END)
                    AS BIGINT) AS straddle_cluster,
               CAST(SUM(CASE WHEN a.trn <> b.trn THEN 1 ELSE 0 END)
                    AS BIGINT) AS straddle_naive,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs p
        JOIN spl a ON a.doc_id = p.doc_a
        JOIN spl b ON b.doc_id = p.doc_b
    )
    SELECT n_docs, n_train,
           CAST(n_docs - n_train AS BIGINT) AS n_test,
           n_pairs, straddle_cluster, straddle_naive
    FROM counts CROSS JOIN aud
"""

_NDCG_LIST = "[" + ", ".join(repr(v) for v in S.NDCG_IDCG) + "]"
ORACLE_SQL["x392_ndcg_at_k"] = f"""
    WITH knn AS ({ORACLE_SQL["x3_knn_cosine"]}),
    ranked AS (
        SELECT k.query_id,
               row_number() OVER (PARTITION BY k.query_id
                                  ORDER BY k.similarity DESC,
                                           k.neighbor_id ASC) AS rnk,
               CASE WHEN eq.label = en.label THEN 1 ELSE 0 END AS rel
        FROM knn k
        JOIN embeddings eq ON eq.vec_id = k.query_id
        JOIN embeddings en ON en.vec_id = k.neighbor_id
    ), per_q AS (
        SELECT query_id,
               CAST(SUM(rel) AS BIGINT) AS n_relevant,
               CAST(SUM(CAST(CAST(rel AS DOUBLE)
                             / log2(CAST(rnk AS DOUBLE) + 1.0)
                             AS DECIMAL(38,6))) AS DOUBLE) AS dcg
        FROM ranked GROUP BY query_id
    )
    SELECT query_id, n_relevant,
           ROUND(dcg, 6) AS dcg,
           ROUND(CASE WHEN n_relevant > 0
                      THEN dcg / list_extract(
                               CAST({_NDCG_LIST} AS DOUBLE[]),
                               CAST(n_relevant AS INT) + 1)
                      ELSE 0.0 END, 6) AS ndcg
    FROM per_q ORDER BY query_id
"""

# wave 88 (round 7): streaming Page-Hinkley, correlation matrix, retention

ORACLE_SQL["x393_stream_page_hinkley"] = f"""
    -- x36/x343 append-mode finalization predicate, then batch PH
    WITH wm AS (
        SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS w
        FROM events
    ), agg AS (
        SELECT time_bucket(INTERVAL '1 day', ts) AS ws,
               SUM(CAST(value AS DECIMAL(38,6))) AS sv,
               COUNT(*) AS cnt
        FROM events GROUP BY 1
    ), fin AS (
        SELECT agg.* FROM agg, wm WHERE ws + INTERVAL 1 DAY <= wm.w
    ), run AS (
        SELECT ws,
               CAST(sv AS DOUBLE) / CAST(cnt AS DOUBLE)
               - CAST(SUM(sv) OVER (ORDER BY ws) AS DOUBLE)
                 / CAST(SUM(cnt) OVER (ORDER BY ws) AS DOUBLE)
               - {SE.STREAM_PH_DELTA!r} AS resid
        FROM fin
    ), cum0 AS (
        SELECT ws,
               CAST(SUM(CAST(resid AS DECIMAL(38,6)))
                    OVER (ORDER BY ws ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS DOUBLE) AS u
        FROM run
    ), cum AS (
        SELECT ws, u,
               u - MIN(u) OVER (ORDER BY ws ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW) AS ph
        FROM cum0
    ), f2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days, MAX(ph) AS mph FROM cum
    )
    SELECT n_days,
           ROUND(mph, 6) AS ph_max,
           (SELECT CAST(MAX(ws) AS DATE) FROM cum
            WHERE ph = (SELECT mph FROM f2)) AS changepoint_day,
           mph > {SE.STREAM_PH_LAMBDA!r} AS drift_alarm
    FROM f2
"""


def _corr_matrix_oracle() -> str:
    cols = list(AN.CORR_COLS)
    stats = ["CAST(COUNT(*) AS BIGINT) AS _n"]
    for c in cols:
        stats.append(
            f"CAST(SUM(CAST({c} AS DECIMAL(38,6))) AS DOUBLE) AS s_{c}"
        )
        stats.append(
            f"CAST(SUM(CAST({c} * {c} AS DECIMAL(38,6))) AS DOUBLE) AS ss_{c}"
        )
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            stats.append(
                f"CAST(SUM(CAST({a} * {b} AS DECIMAL(38,6))) AS DOUBLE)"
                f" AS sx_{a}_{b}"
            )
            pairs.append((a, b))
    branches = "\n    UNION ALL\n    ".join(
        f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
           ROUND((CAST(_n AS DOUBLE) * sx_{a}_{b} - s_{a} * s_{b})
                 / sqrt((CAST(_n AS DOUBLE) * ss_{a} - s_{a} * s_{a})
                        * (CAST(_n AS DOUBLE) * ss_{b} - s_{b} * s_{b})), 6)
               AS pearson_r
    FROM wide"""
        for a, b in pairs
    )
    return f"""
    WITH wide AS MATERIALIZED (
        SELECT {', '.join(stats)}
        FROM lineitem
    )
    {branches}
    ORDER BY col_a, col_b
"""


ORACLE_SQL["x394_correlation_matrix"] = _corr_matrix_oracle()

ORACLE_SQL["x395_retention_triangle"] = f"""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(floor((CAST(ts AS DATE) - DATE '1970-01-01') / 7)
                    AS BIGINT) AS wk
        FROM events
    ), coh AS (
        SELECT user_id, MIN(wk) AS cw FROM uw GROUP BY 1
    ), sizes AS (
        SELECT cw, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM coh GROUP BY 1
    ), aged AS (
        SELECT c.cw, uw.wk - c.cw AS age,
               CAST(COUNT(*) AS BIGINT) AS n_active
        FROM uw JOIN coh c USING (user_id)
        WHERE uw.wk - c.cw BETWEEN 1 AND {AN.RETENTION_MAX_AGE_WEEKS}
        GROUP BY 1, 2
    )
    SELECT aged.cw AS cohort_week,
           CAST(age AS BIGINT) AS age_weeks,
           n_active, cohort_size,
           ROUND(n_active / CAST(cohort_size AS DOUBLE), 6) AS retention
    FROM aged JOIN sizes ON sizes.cw = aged.cw
    ORDER BY cohort_week, age_weeks
"""

# wave 89 (round 7): SCD2 point-in-time lookup, meta-analysis

ORACLE_SQL["x396_scd2_pit_lookup"] = f"""
    WITH dim AS ({ORACLE_SQL["x239_scd2_history"]}),
    probes AS (
        SELECT user_id,
               CAST(MIN(CAST(ts AS DATE))
                    + CAST(floor((MAX(CAST(ts AS DATE))
                                  - MIN(CAST(ts AS DATE))) / 2)
                           AS INT) AS TIMESTAMP) AS probe_ts
        FROM events GROUP BY user_id
    )
    SELECT d.user_id, p.probe_ts,
           d.state AS state_at_probe,
           d.version
    FROM dim d JOIN probes p ON p.user_id = d.user_id
    WHERE d.valid_from <= p.probe_ts
      AND (d.valid_to IS NULL OR p.probe_ts < d.valid_to)
    ORDER BY d.user_id
"""

ORACLE_SQL["x397_meta_analysis"] = """
    WITH rows0 AS (
        SELECT n_regionkey AS region,
               o_orderpriority = '1-URGENT' AS is_a,
               o_totalprice AS y
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), per AS (
        SELECT region,
               COUNT(CASE WHEN is_a THEN 1 END) AS n_a,
               CAST(SUM(CAST(CASE WHEN is_a THEN y END AS DECIMAL(38,6)))
                    AS DOUBLE) AS s_a,
               CAST(SUM(CAST(CASE WHEN is_a THEN y * y END
                             AS DECIMAL(38,6))) AS DOUBLE) AS ss_a,
               COUNT(CASE WHEN NOT is_a THEN 1 END) AS n_b,
               CAST(SUM(CAST(CASE WHEN NOT is_a THEN y END
                             AS DECIMAL(38,6))) AS DOUBLE) AS s_b,
               CAST(SUM(CAST(CASE WHEN NOT is_a THEN y * y END
                             AS DECIMAL(38,6))) AS DOUBLE) AS ss_b
        FROM rows0 GROUP BY region
    ), eff AS (
        SELECT region,
               s_a / CAST(n_a AS DOUBLE) - s_b / CAST(n_b AS DOUBLE) AS e,
               (ss_a - s_a * s_a / CAST(n_a AS DOUBLE))
                   / (CAST(n_a AS DOUBLE) - 1.0) / CAST(n_a AS DOUBLE)
               + (ss_b - s_b * s_b / CAST(n_b AS DOUBLE))
                   / (CAST(n_b AS DOUBLE) - 1.0) / CAST(n_b AS DOUBLE) AS v
        FROM per
        WHERE n_a >= 2 AND n_b >= 2
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k_regions,
               CAST(SUM(CAST(CAST(1.0 AS DOUBLE) / v AS DECIMAL(38,30)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(e / v AS DECIMAL(38,30))) AS DOUBLE) AS swe,
               CAST(SUM(CAST(e * e / v AS DECIMAL(38,30))) AS DOUBLE) AS swee
        FROM eff
    )
    SELECT k_regions,
           ROUND(swe / sw, 6) AS pooled_effect,
           ROUND(sqrt(1.0 / sw), 6) AS pooled_se,
           ROUND(swee - swe * swe / sw, 6) AS q_stat,
           ROUND(GREATEST(CAST(0 AS DOUBLE),
                          (swee - swe * swe / sw
                           - CAST(k_regions - 1 AS DOUBLE))
                          / (swee - swe * swe / sw)), 6) AS i2
    FROM agg
"""

# wave 90 (round 7): Neyman allocation, robust location, dedup dividend

ORACLE_SQL["x398_neyman_allocation"] = f"""
    WITH per AS (
        SELECT source, COUNT(*) AS n_rows,
               CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(n_chars * n_chars AS DECIMAL(38,6)))
                    AS DOUBLE) AS s2
        FROM documents GROUP BY source
    ), scored AS (
        SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
               sqrt((s2 - s1 * s1 / CAST(n_rows AS DOUBLE))
                    / (CAST(n_rows AS DOUBLE) - 1.0)) AS s_h,
               CAST(n_rows AS DOUBLE)
               * sqrt((s2 - s1 * s1 / CAST(n_rows AS DOUBLE))
                      / (CAST(n_rows AS DOUBLE) - 1.0)) AS w
        FROM per
    ), tot AS (
        SELECT CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS sw,
               CAST(SUM(n_rows) AS DOUBLE) AS n_all
        FROM scored
    )
    SELECT source, n_rows,
           ROUND(s_h, 6) AS s_h,
           CAST(floor(CAST({C.NEYMAN_BUDGET} AS DOUBLE) * w / sw + 0.5)
                AS BIGINT) AS n_neyman,
           CAST(floor(CAST({C.NEYMAN_BUDGET} AS DOUBLE) * n_rows / n_all
                      + 0.5) AS BIGINT) AS n_proportional
    FROM scored CROSS JOIN tot
    ORDER BY source
"""

ORACLE_SQL["x399_robust_location"] = f"""
    WITH med AS (
        SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS med
        FROM orders
    ), dev AS (
        SELECT med, abs(CAST(o_totalprice AS DOUBLE) - med) AS ad
        FROM orders CROSS JOIN med
    ), mad AS (
        SELECT quantile_cont(ad, 0.5) AS mad, MAX(med) AS med FROM dev
    ), census AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN ad > {ST.MAD_Z_CUT!r}
                                       * {ST.MAD_CONSISTENCY!r}
                                       * mad.mad
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_robust_outliers
        FROM dev CROSS JOIN mad
    )
    SELECT n,
           ROUND(med, 6) AS median,
           ROUND(mad, 6) AS mad,
           ROUND(mad * {ST.MAD_CONSISTENCY!r}, 6) AS mad_scaled,
           n_robust_outliers
    FROM census CROSS JOIN mad
"""

ORACLE_SQL["x400_dedup_dividend"] = """
    WITH g AS (
        SELECT sha256(text) AS h, COUNT(*) AS cnt,
               MIN(CAST(n_chars AS BIGINT)) AS nc
        FROM documents GROUP BY 1
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_unique_texts,
               CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_groups,
               CAST(SUM(cnt - 1) AS BIGINT) AS n_redundant_docs,
               CAST(SUM((cnt - 1) * nc) AS BIGINT) AS chars_saved,
               CAST(SUM(cnt * nc) AS BIGINT) AS chars_total
        FROM g
    )
    SELECT n_unique_texts, n_dup_groups, n_redundant_docs,
           chars_saved, chars_total,
           ROUND(chars_saved / CAST(chars_total AS DOUBLE), 6)
               AS savings_frac
    FROM agg
"""

# wave 91 (round 7): distinct-count IVM, hard-negative mining

ORACLE_SQL["x401_distinct_ivm"] = """
    WITH facts_v2 AS (
        SELECT o_custkey FROM orders
        WHERE o_orderkey % 4 < 3 AND o_orderkey % 16 <> 2
        UNION ALL
        SELECT o_custkey FROM orders WHERE o_orderkey % 4 = 3
    )
    SELECT c_mktsegment,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
               AS n_distinct_customers
    FROM facts_v2 JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""

ORACLE_SQL["x402_hard_negatives"] = """
    SELECT query_id, neighbor_id, negative_label,
           ROUND(similarity, 6) AS similarity
    FROM (
        SELECT q.vec_id AS query_id,
               n.vec_id AS neighbor_id,
               n.label AS negative_label,
               list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(n.embedding AS DOUBLE[]))
                   AS similarity,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(
                                CAST(q.embedding AS DOUBLE[]),
                                CAST(n.embedding AS DOUBLE[])) DESC,
                            n.vec_id ASC) AS rnk
        FROM embeddings q
        JOIN embeddings n
          ON n.vec_id <> q.vec_id AND n.label <> q.label
        WHERE q.vec_id BETWEEN 1 AND 5
    ) t
    WHERE rnk <= 3
    ORDER BY query_id, similarity DESC, neighbor_id
"""

# wave 92 (round 7): Shapley attribution, expectation suite


def _shapley_oracle() -> str:
    chans = AN.SHAPLEY_CHANNELS
    vcols = ", ".join(
        f"""COALESCE(MAX(CASE WHEN mask = {m}
                          THEN k / CAST(n AS DOUBLE) END),
                 CAST(0 AS DOUBLE)) AS v{m}"""
        for m in range(8)
    )
    branches = []
    for i, c in enumerate(chans):
        bit = 1 << i
        terms = []
        for s in range(8):
            if s & bit:
                continue
            w = AN.SHAPLEY_W[bin(s).count("1")]
            terms.append(f"{w!r} * (v{s | bit} - v{s})")
        phi = " + ".join(terms)
        branches.append(
            f"SELECT '{c}' AS channel,"
            f" ROUND(CAST(0 AS DOUBLE) + {phi}, 6) AS shapley_credit"
            " FROM vrow"
        )
    union = "\n    UNION ALL\n    ".join(branches)
    exposures = ",\n               ".join(
        f"MAX(CASE WHEN event_type = '{c}' THEN 1 ELSE 0 END) AS c{i}"
        for i, c in enumerate(chans)
    )
    return f"""
    WITH per_user AS (
        SELECT user_id,
               {exposures},
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id
    ), cells AS (
        SELECT c0 + 2 * c1 + 4 * c2 AS mask,
               COUNT(*) AS n, SUM(conv) AS k
        FROM per_user GROUP BY 1
    ), vrow AS (
        SELECT {vcols}
        FROM cells
    )
    {union}
    ORDER BY channel
"""


ORACLE_SQL["x403_shapley_attribution"] = _shapley_oracle()

ORACLE_SQL["x404_expectation_suite"] = f"""
    WITH wide AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS ndv_key,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS null_cust,
               CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
               CAST(MIN(CAST(o_orderdate AS DATE)) AS VARCHAR) AS min_date,
               CAST(MAX(CAST(o_orderdate AS DATE)) AS VARCHAR) AS max_date
        FROM orders
    ), orphans AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans
        FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    )
    SELECT 'row_count_positive' AS expectation,
           CAST(n AS VARCHAR) AS observed, n > 0 AS passed FROM wide
    UNION ALL
    SELECT 'orderkey_unique', CAST(ndv_key AS VARCHAR), ndv_key = n
    FROM wide
    UNION ALL
    SELECT 'custkey_not_null', CAST(null_cust AS VARCHAR), null_cust = 0
    FROM wide
    UNION ALL
    SELECT 'totalprice_positive', CAST(min_price AS VARCHAR),
           min_price > 0.0 FROM wide
    UNION ALL
    SELECT 'orderdate_in_range', min_date || '..' || max_date,
           min_date >= '{RX.EXPECT_DATE_LO}'
           AND max_date <= '{RX.EXPECT_DATE_HI}' FROM wide
    UNION ALL
    SELECT 'custkey_ref_integrity', CAST(n_orphans AS VARCHAR),
           n_orphans = 0 FROM orphans
    ORDER BY expectation
"""

# wave 93 (round 7): exponential GOF, cluster size spectrum

ORACLE_SQL["x405_exponential_gof"] = f"""
    WITH gaps0 AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP))
               - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                     PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
        FROM events
    ), gaps AS (
        SELECT gap_us FROM gaps0 WHERE gap_us IS NOT NULL AND gap_us > 0
    ), per_gap AS (
        SELECT gap_us AS g, COUNT(*) AS cnt FROM gaps GROUP BY 1
    ), cum AS (
        SELECT g, cnt, SUM(cnt) OVER (ORDER BY g) AS ccnt FROM per_gap
    ), lam AS (
        SELECT CAST(COUNT(*) AS DOUBLE)
               / CAST(SUM(CAST(gap_us AS DECIMAL(38,6))) AS DOUBLE) AS lam,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM gaps
    ), scored AS (
        SELECT n,
               abs(ccnt / CAST(n AS DOUBLE)
                   - (1.0 - exp(-lam * CAST(g AS DOUBLE)))) AS d_hi,
               abs((ccnt - cnt) / CAST(n AS DOUBLE)
                   - (1.0 - exp(-lam * CAST(g AS DOUBLE)))) AS d_lo
        FROM cum CROSS JOIN lam
    ), d AS (
        SELECT MAX(n) AS n, MAX(GREATEST(d_hi, d_lo)) AS d_stat FROM scored
    )
    SELECT d.n,
           ROUND(CAST(1000000.0 AS DOUBLE) * lam.lam, 6) AS lambda_per_sec,
           ROUND(d_stat, 6) AS d_stat,
           ROUND({ST.KS_C_05!r} / sqrt(CAST(d.n AS DOUBLE)), 6)
               AS crit_5pct,
           d_stat > {ST.KS_C_05!r} / sqrt(CAST(d.n AS DOUBLE))
               AS reject_5pct
    FROM d CROSS JOIN lam
"""

ORACLE_SQL["x406_cluster_size_spectrum"] = f"""
    WITH RECURSIVE {_NEARDUP_CC_CTES},
    cl AS (SELECT node AS doc_id, MIN(r) AS cluster_id
           FROM reach GROUP BY node),
    reps AS (
        SELECT COALESCE(cl.cluster_id, d.doc_id) AS rep
        FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
    ),
    csizes AS (SELECT rep, COUNT(*) AS size FROM reps GROUP BY 1),
    spec AS (
        SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters
        FROM csizes GROUP BY 1
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS k,
               CAST(SUM(CAST(ln(CAST(size AS DOUBLE)) AS DECIMAL(38,6)))
                    AS DOUBLE) AS sx,
               CAST(SUM(CAST(ln(CAST(n_clusters AS DOUBLE))
                             AS DECIMAL(38,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(ln(CAST(size AS DOUBLE))
                             * ln(CAST(n_clusters AS DOUBLE))
                             AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(ln(CAST(size AS DOUBLE))
                             * ln(CAST(size AS DOUBLE))
                             AS DECIMAL(38,6))) AS DOUBLE) AS sxx
        FROM spec
    )
    SELECT CAST(size AS BIGINT) AS cluster_size, n_clusters,
           ROUND(CASE WHEN k > 1.0
                      THEN (k * sxy - sx * sy) / (k * sxx - sx * sx)
                      ELSE CAST(0 AS DOUBLE) END, 6) AS loglog_slope
    FROM spec CROSS JOIN fit
    ORDER BY cluster_size
"""

# wave 94 (round 7): BY FDR, join-fanout audit

_BY_THR_SQL = "(VALUES " + ", ".join(
    f"({i}, CAST({t!r} AS DOUBLE))" for i, t in ST.BY_Z_THRESHOLDS.items()
) + ")"
ORACLE_SQL["x407_fdr_by"] = f"""
    WITH per_nation AS (
        SELECT n_name,
               COUNT(*) AS n_i,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s_i,
               CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,6)))
                    AS DOUBLE) AS ss_i
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    ), tot AS (
        SELECT SUM(n_i) AS n_all,
               CAST(SUM(CAST(s_i AS DECIMAL(38,6))) AS DOUBLE) AS s_all,
               CAST(SUM(CAST(ss_i AS DECIMAL(38,6))) AS DOUBLE) AS ss_all
        FROM per_nation
    ), z AS (
        SELECT n_name, n_i,
               (s_i / CAST(n_i AS DOUBLE)
                - (s_all - s_i) / CAST(n_all - n_i AS DOUBLE))
               / sqrt(
                   ((ss_i - s_i * s_i / CAST(n_i AS DOUBLE))
                    / (CAST(n_i AS DOUBLE) - 1)) / CAST(n_i AS DOUBLE)
                   + (((ss_all - ss_i)
                       - (s_all - s_i) * (s_all - s_i)
                         / CAST(n_all - n_i AS DOUBLE))
                      / (CAST(n_all - n_i AS DOUBLE) - 1))
                     / CAST(n_all - n_i AS DOUBLE)
                 ) AS zv
        FROM per_nation CROSS JOIN tot
    ), ranked AS (
        SELECT n_name, zv,
               ROW_NUMBER() OVER (ORDER BY abs(zv) DESC, n_name) AS rnk
        FROM z
    ), tbh(i, t) AS (SELECT * FROM {_FDR_THR_SQL}),
    tby(i, t) AS (SELECT * FROM {_BY_THR_SQL}),
    thr AS (
        SELECT ranked.*, tbh.t AS thr_bh, tby.t AS thr_by
        FROM ranked
        JOIN tbh ON tbh.i = ranked.rnk
        JOIN tby ON tby.i = ranked.rnk
    ), sel AS (
        SELECT *,
               MAX(CASE WHEN abs(zv) >= thr_bh THEN rnk END) OVER ()
                   AS istar_bh,
               MAX(CASE WHEN abs(zv) >= thr_by THEN rnk END) OVER ()
                   AS istar_by
        FROM thr
    )
    SELECT n_name,
           ROUND(zv, 6) AS z_stat,
           CAST(rnk AS BIGINT) AS rank,
           rnk <= COALESCE(istar_bh, 0) AS rejected_bh,
           rnk <= COALESCE(istar_by, 0) AS rejected_by
    FROM sel ORDER BY rank
"""

ORACLE_SQL["x408_fanout_audit"] = """
    WITH per_key AS (
        SELECT l_orderkey, COUNT(*) AS fanout FROM lineitem GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MIN(fanout) AS BIGINT) AS min_fanout,
           ROUND(quantile_cont(CAST(fanout AS DOUBLE), 0.5), 6)
               AS p50_fanout,
           ROUND(quantile_cont(CAST(fanout AS DOUBLE), 0.99), 6)
               AS p99_fanout,
           CAST(MAX(fanout) AS BIGINT) AS max_fanout,
           ROUND(CAST(SUM(CAST(fanout AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_fanout,
           ROUND(CAST(MAX(fanout) AS DOUBLE)
                 / (CAST(SUM(CAST(fanout AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(*)), 6) AS hot_key_ratio
    FROM per_key
"""


# ---------------------------------------------------------------------------
# wave 95 (round 8): AIPW registered under a unique id (was dead code
# sharing x372 with mann_whitney — round-7 ADVICE)
# ---------------------------------------------------------------------------

ORACLE_SQL["x409_doubly_robust"] = f"""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS r
        FROM orders GROUP BY 1
    ), base AS (
        SELECT c_mktsegment, COALESCE(r, 0.0) AS r,
               substr(sha256(concat(CAST(c_custkey AS VARCHAR),
                                    '{ST.IPS_SALT}')), 1, 8) AS h8,
               CASE WHEN c_mktsegment = '{ST.IPS_SEGMENT}'
                    THEN {ST.IPS_SEG_P!r} ELSE {ST.IPS_BASE_P!r} END
                   AS p_a_true
        FROM customer LEFT JOIN rev ON c_custkey = o_custkey
    ), logged AS (
        SELECT c_mktsegment, r, p_a_true,
               ((CAST({_IPS_V_SQL} AS BIGINT) + 0.5) / 4294967296.0)
                   < p_a_true AS a,
               c_mktsegment = '{ST.AIPW_TARGET_SEGMENT}' AS pi_a
        FROM base
    ), lg AS (
        SELECT *,
               CASE WHEN a THEN p_a_true ELSE 1.0 - p_a_true END AS mu
        FROM logged
    ), q AS (
        SELECT c_mktsegment AS q_seg, a AS qa,
               CAST(SUM(CAST(r AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS q
        FROM lg GROUP BY 1, 2
    ), scored AS (
        SELECT COALESCE(q.q, 0.0) AS q_pi, lg.r, lg.mu,
               lg.a = lg.pi_a AS match
        FROM lg LEFT JOIN q
          ON lg.c_mktsegment = q.q_seg AND lg.pi_a = q.qa
    ), agg AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(q_pi AS DECIMAL(38,6))) AS DOUBLE) AS s_dm,
               CAST(SUM(CAST(CASE WHEN match THEN (r - q_pi) / mu
                                  ELSE 0.0 END AS DECIMAL(38,6)))
                    AS DOUBLE) AS s_corr,
               CAST(SUM(CAST(CASE WHEN match THEN r / mu
                                  ELSE 0.0 END AS DECIMAL(38,6)))
                    AS DOUBLE) AS s_ips
        FROM scored
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(s_dm / n, 4) AS v_dm,
           ROUND(s_ips / n, 4) AS v_ips,
           ROUND((s_dm + s_corr) / n, 4) AS v_aipw
    FROM agg
"""


# ---------------------------------------------------------------------------
# wave 96 (round 8): SQLite connector — partitioned Arrow reads, real
# filter pushdown (pushFilters -> WHERE), two-phase parallel writes
# ---------------------------------------------------------------------------

ORACLE_SQL["x410_sqlite_roundtrip"] = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE),
                 2) AS total_value
    FROM orders
    WHERE o_totalprice > 200000.0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# wave 97 (round 8): SQLite streaming surfaces — rowid-watermark reads
# (restart-safe) and the exactly-once per-epoch stream sink
# ---------------------------------------------------------------------------

ORACLE_SQL["x411_sqlite_stream_ingest"] = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE),
                 2) AS total_value
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

ORACLE_SQL["x412_sqlite_stream_sink"] = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE),
                 4) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# wave 98 (round 8): query-option reads — the aggregate runs inside
# SQLite, Spark receives the answer relation
# ---------------------------------------------------------------------------

ORACLE_SQL["x413_sqlite_query_option"] = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0,
                 2) AS total_value
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# wave 99 (round 9): real PNG decode via the stdlib codec — the
# multimodal plug-point upgraded from deterministic fake to a working
# codec for one format (zlib inflate + per-scanline unfilter,
# functions/png.py); the oracle recomputes every decode result from
# media_id arithmetic without touching the payload bytes
# ---------------------------------------------------------------------------

ORACLE_SQL["x414_png_decode"] = f"""
    WITH m AS (
        SELECT media_id
        FROM read_parquet('{MM.PNG_FIXTURE_PATH}/*.parquet')
    ), c AS (
        SELECT media_id,
               4 + media_id % 13 AS width,
               3 + media_id % 7 AS height,
               (media_id * 37) % 251 AS v,
               media_id % 5 AS cts
        FROM m
    ), grid AS (
        SELECT c.*, t.x FROM c CROSS JOIN range(16) t(x)
        WHERE t.x < c.width
    ), lum AS (
        -- one scanline's exact integer luma; rows are identical so
        -- the image total is height * row_luma (generator docstring:
        -- tools/make_png_fixture.py)
        SELECT media_id, SUM(CASE
               WHEN cts IN (0, 3) THEN (v + 3*x) % 256
               WHEN cts = 2 THEN (v + 5*(((v + 3*x) % 256) % 16)) % 256
               ELSE (299*((v + 3*x) % 256) + 587*((v + 3*x + 85) % 256)
                     + 114*((v + 3*x + 170) % 256)) // 1000
             END) AS row_luma
        FROM grid GROUP BY media_id
    )
    SELECT c.media_id,
           CAST(c.width AS INT) AS width,
           CAST(c.height AS INT) AS height,
           CAST(CASE c.cts WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 3
                           WHEN 3 THEN 2 ELSE 4 END AS INT) AS channels,
           CAST(8 AS INT) AS bit_depth,
           CAST(c.width * c.height AS BIGINT) AS n_pixels,
           CAST(c.height * l.row_luma AS BIGINT) AS luma_total
    FROM c JOIN lum l USING (media_id) ORDER BY c.media_id
"""


# ---------------------------------------------------------------------------
# wave 99 (cont.): BOUND oracles for the sketch family (round-8
# verdict ask #7) — x26/x284 now emit engine-portable exact columns
# plus in-plan error-contract flags; DuckDB recomputes the exact
# columns and pins every flag TRUE, so these CORRECTNESS rows fail
# when a sketch's error contract breaks, not just when it crashes
# ---------------------------------------------------------------------------

_X26_PS = ", ".join(f"CAST({p} AS DOUBLE)" for p in SK.QUANTILE_PS)

ORACLE_SQL["x26_approx_quantiles"] = f"""
    SELECT o_orderstatus, p,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           TRUE AS rank_err_ok
    FROM orders CROSS JOIN (SELECT UNNEST([{_X26_PS}]) AS p) t
    GROUP BY o_orderstatus, p
    ORDER BY o_orderstatus, p
"""

ORACLE_SQL["x284_sketch_intersection"] = """
    WITH v AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'view'),
         p AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'purchase')
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase,
           CAST((SELECT COUNT(*) FROM v JOIN p USING (user_id)) AS BIGINT)
               AS exact_intersection,
           TRUE AS seg_est_ok,
           TRUE AS union_le_sum,
           TRUE AS inter_rel_err_ok
"""

ORACLE_SQL["x260_hll_sketch_union"] = """
    SELECT event_type,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
               AS n_day_sketches,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS union_rel_err_ok
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# wave 100 (round 9): real WAV decode via the stdlib codec — the
# multimodal plug-point's second real format, this time AUDIO (RIFF
# chunk walk + PCM unpack, functions/wav.py); the oracle recomputes
# every decode result — framing AND exact integer amplitude sums —
# from media_id arithmetic without touching the payload bytes
# (generator contract: tools/make_wav_fixture.py)
# ---------------------------------------------------------------------------

ORACLE_SQL["x415_wav_decode"] = f"""
    WITH m AS (
        SELECT media_id
        FROM read_parquet('{MM.WAV_FIXTURE_PATH}/*.parquet')
    ), c AS (
        SELECT media_id,
               CASE media_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
                                 WHEN 2 THEN 16000 ELSE 22050 END AS rate,
               1 + media_id % 2 AS channels,
               CASE WHEN media_id % 3 = 0 THEN 8 ELSE 16 END AS bit_depth,
               25 + (media_id * 11) % 40 AS n_frames,
               (media_id * 37) % 97 AS v
        FROM m
    ), grid AS (
        SELECT c.*, t.t, ch.ch
        FROM c CROSS JOIN range(65) t(t) CROSS JOIN range(2) ch(ch)
        WHERE t.t < c.n_frames AND ch.ch < c.channels
    ), amp AS (
        SELECT media_id,
               SUM(ABS((v + 7*t + 13*ch) % 201 - 100)) AS sum_abs,
               MAX(ABS((v + 7*t + 13*ch) % 201 - 100)) AS peak
        FROM grid GROUP BY media_id
    )
    SELECT c.media_id,
           CAST(c.rate AS INT) AS sample_rate,
           CAST(c.channels AS INT) AS channels,
           CAST(c.bit_depth AS INT) AS bit_depth,
           CAST(c.n_frames AS BIGINT) AS n_frames,
           CAST(c.n_frames * c.channels AS BIGINT) AS n_samples,
           CAST(a.sum_abs AS BIGINT) AS sum_abs,
           CAST(a.peak AS INT) AS peak,
           CAST(c.n_frames * 1000000 // c.rate AS BIGINT) AS duration_us
    FROM c JOIN amp a USING (media_id) ORDER BY c.media_id
"""


# ---------------------------------------------------------------------------
# wave 100 (cont.): streaming media decode — the WAV codec through
# Structured Streaming (4-file availableNow replay, one clip-batch per
# trigger, append to a parquet sink with a checkpoint).  Decode depends
# only on row content, never on batch boundaries, so the oracle is the
# identical media_id arithmetic as batch x415
# ---------------------------------------------------------------------------

ORACLE_SQL["x416_stream_media_decode"] = ORACLE_SQL["x415_wav_decode"]


# ---------------------------------------------------------------------------
# wave 101 (round 10): real baseline-JPEG decode — canonical-Huffman
# entropy decode + dequant + IDCT + fixed-point YCbCr->RGB via the
# stdlib codec (functions/jpeg.py).  The fixture restricts itself to
# the codec's EXACT subspace (constant-per-block samples, unity quant
# -> DC-only blocks round-trip bit-perfectly; RGB transform is integer
# fixed-point), so the oracle replays every decoded pixel from
# media_id arithmetic without touching payload bytes — see
# tools/make_jpeg_fixture.py for the parameter contract.
# ---------------------------------------------------------------------------

ORACLE_SQL["x417_jpeg_decode"] = """
    WITH m AS (SELECT range AS i FROM range(48)),
    p AS (
        SELECT i,
               1 + i % 3 AS wb,
               1 + i % 2 AS hb,
               8*(1 + i % 3) - i % 5 AS width,
               8*(1 + i % 2) - i % 3 AS height,
               (i*37) % 251 AS v,
               (i*53) % 199 AS v2,
               (i*29) % 173 AS v3,
               CASE WHEN i % 2 = 1 THEN 3 ELSE 1 END AS channels
        FROM m
    ), g AS (
        SELECT p.*, bx.range AS bx, byy.range AS byy,
               LEAST(8, width - 8*bx.range)
                 * LEAST(8, height - 8*byy.range) AS npix,
               (v + 17*bx.range + 29*byy.range) % 256 AS yv,
               ((v2 + 11*bx.range) % 256) - 128 AS cb,
               ((v3 + 7*byy.range) % 256) - 128 AS cr
        FROM p CROSS JOIN range(3) bx CROSS JOIN range(2) byy
        WHERE bx.range < wb AND byy.range < hb
    ), c AS (
        SELECT i, channels, width, height, npix,
            CASE WHEN channels = 1 THEN yv ELSE
                LEAST(255, GREATEST(0, yv + CAST(FLOOR(
                    (91881*cr + 32768) / 65536.0) AS BIGINT)))
            END AS r,
            CASE WHEN channels = 1 THEN yv ELSE
                LEAST(255, GREATEST(0, yv - CAST(FLOOR(
                    (22554*cb + 46802*cr + 32768) / 65536.0) AS BIGINT)))
            END AS g2,
            CASE WHEN channels = 1 THEN yv ELSE
                LEAST(255, GREATEST(0, yv + CAST(FLOOR(
                    (116130*cb + 32768) / 65536.0) AS BIGINT)))
            END AS b
        FROM g
    )
    SELECT CAST(i AS BIGINT) AS media_id,
           CAST(MIN(width) AS INT) AS width,
           CAST(MIN(height) AS INT) AS height,
           CAST(MIN(channels) AS INT) AS channels,
           CAST(MIN(width) * MIN(height) AS BIGINT) AS n_pixels,
           CAST(SUM(r * npix) AS BIGINT) AS sum_r,
           CAST(SUM(g2 * npix) AS BIGINT) AS sum_g,
           CAST(SUM(b * npix) AS BIGINT) AS sum_b
    FROM c GROUP BY i ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# wave 101 (cont.): real VIDEO decode — uncompressed RIFF-AVI (BI_RGB
# DIB frames) via the stdlib codec (functions/avi.py), one row per
# frame.  Frames round-trip bit-exactly (no quantization), so the
# oracle replays every decoded pixel from (media_id, frame_idx)
# arithmetic — see tools/make_avi_fixture.py for the contract.  With
# this, all four media kinds decode real bytes from the stdlib.
# ---------------------------------------------------------------------------

ORACLE_SQL["x418_avi_decode"] = """
    WITH m AS (SELECT range AS i FROM range(48)),
    p AS (
        SELECT i,
               4 + i % 9 AS w,
               3 + i % 5 AS h,
               2 + i % 4 AS nf,
               CASE i % 3 WHEN 0 THEN 10 WHEN 1 THEN 24 ELSE 30 END AS rate
        FROM m
    ), f AS (
        SELECT p.*, t.range AS t
        FROM p CROSS JOIN range(5) t
        WHERE t.range < nf
    )
    SELECT CAST(i AS BIGINT) AS media_id,
           CAST(t AS INT) AS frame_idx,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(nf AS INT) AS n_frames,
           CAST(nf * 1000000 // rate AS BIGINT) AS duration_us,
           CAST((((i*37) % 251 + 7*t)  % 256) * w * h AS BIGINT) AS sum_r,
           CAST((((i*53) % 199 + 11*t) % 256) * w * h AS BIGINT) AS sum_g,
           CAST((((i*29) % 173 + 13*t) % 256) * w * h AS BIGINT) AS sum_b
    FROM f ORDER BY media_id, frame_idx
"""


# ---------------------------------------------------------------------------
# wave 102 (round 11): real COMPRESSED-video decode — Motion-JPEG in
# AVI, composing the two round-10 codecs: functions/avi.py's RIFF
# container walk dispatches each '00dc' chunk into functions/jpeg.py's
# baseline-JPEG entropy decoder.  Frames are confined to the JPEG
# exact subspace (DC-only blocks, unity quantization), so the x417
# per-pixel oracle arithmetic carries over verbatim with per-frame
# offsets — see tools/make_mjpeg_fixture.py for the contract.  The
# strict-mode raise now covers only inter-frame codecs (h264/mp4).
# ---------------------------------------------------------------------------

ORACLE_SQL["x419_mjpeg_decode"] = """
    WITH m AS (SELECT range AS i FROM range(48)),
    p AS (
        SELECT i,
               1 + i % 3 AS wb,
               1 + i % 2 AS hb,
               8*(1 + i % 3) - i % 5 AS width,
               8*(1 + i % 2) - i % 3 AS height,
               2 + i % 3 AS nf,
               CASE i % 3 WHEN 0 THEN 10 WHEN 1 THEN 24 ELSE 30 END AS rate,
               (i*37) % 251 AS v,
               (i*53) % 199 AS v2,
               (i*29) % 173 AS v3,
               CASE WHEN i % 2 = 1 THEN 3 ELSE 1 END AS channels
        FROM m
    ), f AS (
        SELECT p.*, t.range AS t
        FROM p CROSS JOIN range(4) t
        WHERE t.range < nf
    ), g AS (
        SELECT f.*, bx.range AS bx, byy.range AS byy,
               LEAST(8, width - 8*bx.range)
                 * LEAST(8, height - 8*byy.range) AS npix,
               (v + 17*bx.range + 29*byy.range + 19*t) % 256 AS yv,
               ((v2 + 11*bx.range + 5*t) % 256) - 128 AS cb,
               ((v3 + 7*byy.range + 3*t) % 256) - 128 AS cr
        FROM f CROSS JOIN range(3) bx CROSS JOIN range(2) byy
        WHERE bx.range < wb AND byy.range < hb
    ), c AS (
        SELECT i, t, width, height, nf, rate, npix,
            CASE WHEN channels = 1 THEN yv ELSE
                LEAST(255, GREATEST(0, yv + CAST(FLOOR(
                    (91881*cr + 32768) / 65536.0) AS BIGINT)))
            END AS r,
            CASE WHEN channels = 1 THEN yv ELSE
                LEAST(255, GREATEST(0, yv - CAST(FLOOR(
                    (22554*cb + 46802*cr + 32768) / 65536.0) AS BIGINT)))
            END AS g2,
            CASE WHEN channels = 1 THEN yv ELSE
                LEAST(255, GREATEST(0, yv + CAST(FLOOR(
                    (116130*cb + 32768) / 65536.0) AS BIGINT)))
            END AS b
        FROM g
    )
    SELECT CAST(i AS BIGINT) AS media_id,
           CAST(t AS INT) AS frame_idx,
           CAST(MIN(width) AS INT) AS width,
           CAST(MIN(height) AS INT) AS height,
           CAST(MIN(nf) AS INT) AS n_frames,
           CAST(MIN(nf) * 1000000 // MIN(rate) AS BIGINT) AS duration_us,
           CAST(SUM(r * npix) AS BIGINT) AS sum_r,
           CAST(SUM(g2 * npix) AS BIGINT) AS sum_g,
           CAST(SUM(b * npix) AS BIGINT) AS sum_b
    FROM c GROUP BY i, t ORDER BY media_id, frame_idx
"""

# ---------------------------------------------------------------------------
# wave 104 (round 12): the end-to-end training-data pipeline composed
# as ONE lazy plan (round-11 verdict ask #7) — dedup (x1/x200 rule) →
# benchmark decontamination (x52 rule) → quality gate (x200
# composite) → sharded sequence packing (x48 rule) → per-shard
# manifest with survivorship fingerprint.  Oracle-replayed end-to-end
# in DuckDB: the whole five-stage chain is exact SQL.
# ---------------------------------------------------------------------------


def _x421_oracle() -> str:
    from go_mapreduce_spark.operators.curation import (
        DECON_FLAG_FRAC,
        DECON_HOLDOUT_MOD,
        PACK_BUDGET,
        PACK_SHARDS,
        PIPE_QUALITY_MIN,
    )
    from go_mapreduce_spark.operators.text import EN_STOPWORDS

    sw = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
    return f"""
    WITH surv AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY sha256(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
        ) WHERE rn = 1
    ), bench AS (
        SELECT DISTINCT sh FROM (
            SELECT unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                   AS sh
            FROM (SELECT list_filter(
                             regexp_split_to_array(lower(text), '[^a-z]+'),
                             t -> len(t) > 0) AS toks
                  FROM documents
                  WHERE doc_id % {DECON_HOLDOUT_MOD} = 0))
    ), train_sh AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                   AS sh
            FROM (SELECT doc_id,
                         list_filter(
                             regexp_split_to_array(lower(text), '[^a-z]+'),
                             t -> len(t) > 0) AS toks
                  FROM surv WHERE doc_id % {DECON_HOLDOUT_MOD} <> 0))
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM train_sh GROUP BY doc_id
    ), hits AS (
        SELECT doc_id, COUNT(*) AS n_hit
        FROM train_sh JOIN bench USING (sh) GROUP BY doc_id
    ), flags AS (
        SELECT s.doc_id, s.text,
               CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / COALESCE(z.n_sh, 1)
                   < {DECON_FLAG_FRAC} AS clean
        FROM surv s
        LEFT JOIN sizes z ON z.doc_id = s.doc_id
        LEFT JOIN hits h ON h.doc_id = s.doc_id
        WHERE s.doc_id % {DECON_HOLDOUT_MOD} <> 0
    ), q AS (
        SELECT doc_id, text, clean,
               clean AND
               ROUND(0.4*(CASE WHEN tl > 0 THEN CAST(al AS DOUBLE)/tl
                              ELSE 0.0 END)
                  + 0.3*(CASE WHEN nt > 0 THEN CAST(swc AS DOUBLE)/nt
                              ELSE 0.0 END)
                  + 0.3*least(1.0, CAST(nt AS DOUBLE)/50), 6)
                  >= {PIPE_QUALITY_MIN} AS admitted
        FROM (
            SELECT doc_id, text, clean,
                   len(text) AS tl,
                   len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS al,
                   len(ltoks) AS nt,
                   len(list_filter(ltoks, x -> list_contains({sw}, x))) AS swc
            FROM (SELECT doc_id, text, clean,
                         list_filter(
                             regexp_split_to_array(lower(text), '[^a-z]+'),
                             x -> len(x) > 0) AS ltoks
                  FROM flags))
    ), sized AS (
        SELECT doc_id,
               doc_id % {PACK_SHARDS} AS shard_id,
               clean, admitted,
               CASE WHEN admitted THEN
                   CAST(len(list_filter(
                            regexp_split_to_array(text, '[^A-Za-z]+'),
                            t -> len(t) > 0)) AS BIGINT)
               ELSE 0 END AS adm_tokens,
               CASE WHEN admitted THEN
                   CAST(CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)
                                                   || ':x421'), 1, 8) AS BIGINT)
                        AS DECIMAL(38,0))
               ELSE 0 END AS fp
        FROM q
    ), packed AS (
        SELECT shard_id, clean, admitted, adm_tokens, fp,
               CASE WHEN admitted THEN
                   CAST(FLOOR(CAST(COALESCE(
                       SUM(adm_tokens) OVER (PARTITION BY shard_id
                            ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING),
                       0) AS BIGINT) / {PACK_BUDGET}) AS BIGINT)
               END AS bin_id
        FROM sized
    )
    SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(SUM(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_admitted,
           CAST(SUM(adm_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins,
           CAST(SUM(fp) AS BIGINT) AS fingerprint
    FROM packed GROUP BY shard_id ORDER BY shard_id
"""


ORACLE_SQL["x421_training_pipeline"] = _x421_oracle()
