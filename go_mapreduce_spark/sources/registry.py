"""Table sources for the fixture star schema.

The reference supports exactly one source — a single line-oriented
text file split into nMap byte-balanced chunks (reference
mapreduce/mapreduce.go:74-112).  Spark's file sources generalize that:
splits fall out of ``spark.sql.files.maxPartitionBytes`` and block
boundaries, and Parquet additionally gives column pruning + predicate
pushdown, which matter far more at 100 TB than split parity.

``load_table`` is intentionally a thin ``spark.read.parquet`` — the
point is to keep the scan declarative so Catalyst can push filters
and prune columns into the scan node (verify via
``plans.explain.scan_report``).
"""

from __future__ import annotations

import os
import stat as stat_mod

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that are always small relative to facts; queries
# broadcast these explicitly so the 100 TB plan never sort-merge-joins
# a 5-row region table against a shuffled fact table.
SMALL_DIMS = frozenset({"region", "nation", "supplier", "customer", "part"})


# Footer-schema memo.  A bare ``spark.read.parquet(path)`` runs a
# driver-side footer job on EVERY call (~70 ms measured at sf0.1, vs
# ~15 ms when the schema is supplied), and the engine builds each
# query plan from fresh ``load_table`` calls — across a 432-query
# bench that re-inference is pure fixed overhead.  Memoize the
# inferred StructType per (absolute path, mtime_ns, size): metadata
# only, never rows, and a regenerated fixture invalidates by key, so
# every query still computes from the parquet inputs.  This is the
# same role a catalog/metastore plays on a real deployment.
_SCHEMA_MEMO: dict = {}

# Per-session state lives as attributes ON the SparkSession object
# (round-13, closing the round-12 advice): keying a module-level dict
# on ``id(spark)`` is unsound — after a session is garbage-collected a
# NEW session can reuse the same id and would silently inherit the
# dead session's DataFrame handles and skip the mandatory conf setup.
# An attribute is tied to the live object itself (no id reuse), and
# the memo is freed with the session (no process-lifetime leak of
# dead-session plan handles).
_CONF_SENTINEL = "_gms_confs_applied"

# Lazy-DataFrame-handle memo (round-12, guide §7.3 plan-build cost /
# §5 driver work).  Even with the schema supplied, building the reader
# DataFrame costs ~60–100 ms of driver-side Py4J + file-listing per
# call, and the first ``df.rdd`` conversion (spread_for_fanout's
# partition probe) another ~200 ms; every query rebuilds its base
# tables through here, so across a 432-query bench this is tens of
# seconds of pure fixed overhead.  Memoize the analyzed-plan HANDLE
# per (abspath, mtime_ns, size) in a dict stored on the session: a
# DataFrame is an immutable lazy plan — NO rows, no computed results
# are held, and every action against it still scans the parquet
# inputs; PySpark additionally caches ``_lazy_rdd`` on the object, so
# the partition probe is paid once per file instead of once per query.
# A regenerated fixture invalidates by mtime/size key; a new session
# (the external driver builds its own) starts with an empty memo.
_DF_MEMO_ATTR = "_gms_df_memo"


def _session_df_memo(spark: SparkSession) -> dict:
    memo = getattr(spark, _DF_MEMO_ATTR, None)
    if memo is None:
        memo = {}
        setattr(spark, _DF_MEMO_ATTR, memo)
    return memo


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # The engine must work with ANY caller-provided SparkSession (the
    # correctness driver builds its own), so the two confs results
    # depend on are set here at runtime, not only in session.py:
    # - nanosAsLong: events.ts is parquet TIMESTAMP(NANOS), which
    #   Spark otherwise refuses to read (PARQUET_TYPE_ILLEGAL);
    # - UTC session tz: timestamps must collect as UTC to match the
    #   (tz-naive, UTC-stored) DuckDB oracle values.
    if not getattr(spark, _CONF_SENTINEL, False):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        setattr(spark, _CONF_SENTINEL, True)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = None
    try:
        st = os.stat(path)
        # memoize only regular single-file layouts: a directory-style
        # <name>.parquet can have part files rewritten in place
        # without bumping the directory's mtime, so its key would go
        # stale — let it fall through to fresh inference every call
        if stat_mod.S_ISREG(st.st_mode):
            key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        pass  # missing/unstattable (e.g. globbed layout); infer below
    df_memo = _session_df_memo(spark)
    if key is not None:
        memo_df = df_memo.get(key)
        if memo_df is not None:
            return memo_df
    schema = _SCHEMA_MEMO.get(key) if key is not None else None
    if schema is None:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_MEMO[key] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # parquet TIMESTAMP(NANOS) read as raw int64 (see session.py);
        # truncate to µs exactly as DuckDB's parquet reader does.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Normalize any TIMESTAMP_NTZ column (parquet isAdjustedToUTC=false,
    # e.g. a testdata generation that stamps µs-naive timestamps) to
    # session-tz TIMESTAMP.  Under the UTC session tz the cast is
    # instant-preserving and wall values stay equal to what DuckDB's
    # naive reader sees, while downstream instant functions
    # (unix_micros, window, watermarks) get the LTZ type they require.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    if key is not None:
        df_memo[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """CSV source.  An explicit ``schema`` DDL string is strongly
    preferred at scale: schema inference costs a full extra pass over
    the data, and inferred types drift between files.  With a schema,
    the reader parses straight into typed columns and, unlike JSON,
    skips fields the query never selects (column pruning works)."""
    reader = (
        spark.read.option("sep", sep).option("header", str(header).lower())
    )
    if schema:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """JSON-lines source; same explicit-schema discipline as CSV
    (inference reads everything once before the query even starts).
    Corrupt records surface in ``_corrupt_record`` rather than
    failing the scan (PERMISSIVE default) — audit that column in
    ingest jobs."""
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — columnar like parquet (pushdown + pruning apply);
    included so warehouse-resident ORC tables can feed the same
    queries without conversion."""
    return spark.read.orc(path)
