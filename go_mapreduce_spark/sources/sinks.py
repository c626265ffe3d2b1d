"""Sinks: the reference's output formats plus the engine's real ones.

Reference surface (SURVEY.md §2.A): a globally key-sorted single TSV
file (Merge + R9, mapreduce/mapreduce.go:229-266) and JSON
intermediates (subsumed by Spark's internal shuffle).  Engine surface:
parquet (columnar, partitioned — the 100 TB default), CSV/TSV, JSON.

Scale rules:
- ``partition_by`` on parquet gives partition pruning to every
  downstream reader; choose low-cardinality columns.
- The single-file sorted TSV exists for reference parity: one
  shuffle into one partition, sorted there, serializes through one
  task — exactly as bottlenecked as the reference's single-process
  Merge, and flagged as such.  ``write_sorted_tsv`` (sharded) is the
  scalable variant: globally ordered across shards via range
  partitioning, one file per range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from go_mapreduce_spark import scratch


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    sep: str = ",",
    header: bool = True,
    mode: str = "overwrite",
) -> None:
    df.write.mode(mode).option("sep", sep).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 16,
    path: str | None = None,
    sort_by: str | None = None,
) -> None:
    """Persist as a bucketed (and optionally sort-within-bucket) table.

    Bucketing is THE shuffle eliminator for repeated big-big joins:
    two tables bucketed on the same key with the same bucket count
    join with zero Exchange — each task reads matching bucket files
    from both sides.  At 100 TB, bucket the fact tables on their
    primary join key at write time and every downstream join/agg on
    that key skips its shuffle (verified in tests/test_bucketing.py).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_sorted_tsv(
    df: DataFrame, path: str, key_cols: list[str], single_file: bool = False
) -> None:
    """Globally key-sorted TSV (reference Merge output format).

    single_file=True reproduces the reference's one-file contract:
    one shuffle into one partition, sorted within it (no range-bounds
    sampling job) — fine for result sets, wrong for datasets.  Default
    writes range-partitioned shards: shard i's keys all precede shard
    i+1's, so `cat part-*` is still globally sorted (what the
    reference's own "XXX use merge sort" TODO wanted,
    mapreduce.go:228)."""
    if single_file:
        out = df.repartition(1).sortWithinPartitions(*key_cols)
    else:
        out = df.orderBy(*key_cols)
    # escape='"' pins the quoting contract to RFC-4180 doubled quotes
    # (pyarrow's parser default) — Spark's backslash-escape default
    # would corrupt values containing tabs/quotes/newlines when the
    # shards are read back through the gms_tsv connector
    (
        out.write.mode("overwrite")
        .option("sep", "\t")
        .option("escape", '"')
        .option("header", "false")
        .csv(path)
    )


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (columnar twin of the parquet sink)."""
    df.write.mode(mode).orc(path)


def compact_parquet(
    spark,
    src_dir: str,
    dst_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files
    near ``target_file_bytes`` each; returns the file count written.

    The operational fix for the classic long-running-pipeline
    pathology (streaming sinks and fine-grained partitions emit
    thousands of KB-scale files whose open/footer overhead dominates
    scan time at 100 TB).  File count is sized from the ACTUAL source
    bytes — no row sampling, no schema-dependent guessing; parquet's
    compressed size is the best predictor of its rewritten size.
    An optional ``sort_within_by`` clusters rows within each output
    file, restoring min/max-statistics pruning (zone-map locality)
    that accumulation order destroyed.

    Compaction is a full rewrite into a NEW directory — readers of
    ``src_dir`` are never exposed to a half-written state; the caller
    swaps directories (or table pointers) once this returns.
    """
    import glob as _glob
    import os

    src_bytes = sum(
        os.path.getsize(p)
        for p in _glob.glob(os.path.join(src_dir, "**", "*.parquet"), recursive=True)
    )
    n_files = max(1, -(-src_bytes // target_file_bytes))  # ceil
    df = spark.read.parquet(src_dir)
    if sort_within_by:
        out = df.repartitionByRange(n_files, *sort_within_by).sortWithinPartitions(
            *sort_within_by
        )
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(dst_dir)
    return len(
        [p for p in _glob.glob(os.path.join(dst_dir, "*.parquet"))]
    )


def x147_jsonl_roundtrip(spark, sf_dir: str) -> DataFrame:
    """JSONL wire-format roundtrip proof: write the events fact
    columns as JSON-lines, read them back with an EXPLICIT schema (the
    production contract — ``inferSchema`` on JSON is a full extra scan
    plus type guessing), and aggregate per event type.

    The oracle computes the identical aggregate from the parquet
    table, so a hash match proves the JSONL encode→decode cycle is
    lossless for longs, doubles and strings (doubles survive via
    shortest-roundtrip rendering).  Timestamps are excluded by
    design: JSON timestamp fidelity is format-option-dependent
    (millisecond default), and shipping them as JSON is a lossy
    contract this engine does not claim — parquet is the timestamp
    carrier (sources/registry.py nanos handling).

    Scale: the JSONL write/read is a distributed narrow pass (one
    file per partition, no shuffle); only the final aggregate
    exchanges K rows.
    """
    from pyspark.sql import functions as F

    from go_mapreduce_spark.functions.numeric import dsum
    from go_mapreduce_spark.sources.registry import load_table

    path = scratch.fresh_dir("x147", sf_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    write_json(ev, path)
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).json(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(dsum(F.col("value"), "sv"), 4).alias("total_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type")
    )


def x191_orc_roundtrip(spark, sf_dir: str) -> DataFrame:
    """ORC columnar-format roundtrip proof — the second columnar
    container Spark ships natively (the warehouse-interchange format
    next to parquet): write the lineitem pricing columns as ORC
    (zlib, dictionary + RLE encodings), read them back, and compute
    the TPC-H-Q1-shaped decimal aggregate.

    The oracle computes the identical aggregate from the parquet
    table, so a hash match proves the ORC encode→decode cycle is
    lossless for longs, doubles and strings — including the
    decimal-exact sums, which would expose any value-level
    perturbation at full precision.  Timestamps ride too (ORC stores
    nanos natively).  Scale posture: narrow distributed write (one
    file per partition, no shuffle), predicate/column pushdown on
    read-back is the same DataSource V1 path parquet uses.
    """
    from pyspark.sql import functions as F

    from go_mapreduce_spark.functions.numeric import dsum
    from go_mapreduce_spark.sources.registry import load_table

    path = scratch.fresh_dir("x191", sf_dir)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_shipdate",
    )
    li.write.mode("overwrite").option("compression", "zlib").orc(path)
    back = spark.read.orc(path)
    return (
        back.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(dsum(F.col("l_quantity"), "sq"), 4).alias("sum_qty"),
            F.round(dsum(F.col("l_extendedprice"), "sp"), 4).alias(
                "sum_price"
            ),
            F.min("l_orderkey").alias("min_orderkey"),
            F.max("l_shipdate").alias("max_shipdate"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def x264_malformed_csv(spark, sf_dir: str) -> DataFrame:
    """Malformed-input hardening: read a CSV lake containing rows that
    violate the declared schema under PERMISSIVE mode with a
    ``_corrupt_record`` column — the production posture for ingesting
    third-party CSV at scale (FAILFAST aborts a 100 TB job on row one
    of vendor garbage; silent DROPMALFORMED loses data unaudited).

    The file carries a deterministic orders extract plus
    ``_N_CORRUPT`` planted garbage lines; the query quarantines the
    bad rows (count them) and aggregates the clean ones, proving (a)
    corrupt rows never reach the aggregate and (b) no clean row is
    lost — the oracle recomputes the clean side from the parquet
    table and the planted count is a constant.
    """
    import os

    from pyspark.sql import functions as F

    from go_mapreduce_spark.functions.numeric import dsum
    from go_mapreduce_spark.sources.registry import load_table

    path = scratch.fresh_dir("x264", sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    orders.coalesce(1).write.mode("overwrite").csv(path)
    part = next(
        os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".csv")
    )
    with open(part, "a") as f:
        for i in range(_N_CORRUPT):
            f.write(f"not-a-key-{i},garbage-price,\n")
    # the out-of-band append invalidates Hadoop's .crc sidecars (that
    # is the point — the file was tampered with after commit); drop
    # them so the read exercises the CSV parser, not the checksum
    for fn in os.listdir(path):
        if fn.endswith(".crc"):
            os.remove(os.path.join(path, fn))
    back = spark.read.csv(
        path,
        schema=(
            "o_orderkey BIGINT, o_totalprice DOUBLE, "
            "o_orderpriority STRING, _corrupt_record STRING"
        ),
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1))
        .cast("bigint")
        .alias("n_corrupt"),
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
        .cast("bigint")
        .alias("n_clean"),
        F.round(
            dsum(
                F.when(F.col("_corrupt_record").isNull(), F.col("o_totalprice")),
                "t",
            ),
            4,
        ).alias("clean_total"),
    )


_N_CORRUPT = 3
