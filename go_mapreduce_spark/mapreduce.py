"""Reference-parity MapReduce shim.

A semantic mirror of the reference's user-facing contract — the only
part of `darkjh/go-mapreduce` that is an API rather than runtime
plumbing.  The reference pipeline (RunSequential,
mapreduce/mapreduce.go:289-301) is:

    Split → nMap × DoMap(user Map) → hash-partition →
    nReduce × DoReduce(group, sort, user Reduce) → Merge (global sort, TSV)

Spark mapping (each reference operator R# from SURVEY.md §2.A):

    R1  Split            → sc.textFile(path, minPartitions=n_map)
    R2  DoMap            → mapPartitions(map_fn over whole split text)
    R3  FNV-hash mod R   → portable_hash partitionBy(n_reduce)
    R5  group-by-key     → groupByKey (same partitioning, no extra shuffle)
    R6  per-part key sort→ sorted() inside mapPartitions
    R7  user Reduce      → mapValues-style apply in sorted order
    R8  Merge            → one-partition shuffle + sort: the reference's
                           single Merge process (mapreduce.go:221-225)
    R9  TSV sink         → "key\\tvalue" text write

Differences deliberately NOT replicated (SURVEY.md §7.3): unbounded
in-memory grouping, silent worker-failure success, JSON shuffle files
— Spark's semantics are strictly better; parity is on results.

The user contract matches the reference exactly:
    map_fn(split_text: str) -> iterable[(key, value)]     # wc.go Map
    reduce_fn(key: str, values: list[str]) -> str         # wc.go Reduce

This shim is intentionally RDD-based and Python-callback-driven — it
exists for API parity, not speed.  The DataFrame word count
(operators/wordcount.py) is the performant path; tests assert both
produce identical results.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable

from pyspark.rdd import RDD
from pyspark.sql import DataFrame, SparkSession

MapFn = Callable[[str], Iterable[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], str]


def run_map_reduce(
    spark: SparkSession,
    input_path: str,
    map_fn: MapFn,
    reduce_fn: ReduceFn,
    n_map: int = 5,
    n_reduce: int = 3,
) -> RDD:
    """Execute the reference MapReduce pipeline; returns a globally
    key-sorted (key, value) RDD with one partition (the Merge output,
    minus the TSV formatting).

    The call is lazy: no job runs until the result is consumed, and
    then the whole pipeline is one job in which ``n_reduce`` tasks
    each run the user Reduce once per key of their partition.

    ``n_map``/``n_reduce`` mirror Job{NMap, NReduce}
    (mapreduce/job.go:5-11): static, user-declared parallelism.
    """
    from go_mapreduce_spark.session import ensure_package_on_executors

    ensure_package_on_executors(spark)
    sc = spark.sparkContext
    # R1: line-aligned splits. R2: user Map sees the whole split as
    # one string, exactly like DoMap's single read+invoke
    # (mapreduce.go:141-149).
    lines = sc.textFile(input_path, minPartitions=n_map)
    pairs = lines.mapPartitions(lambda it: map_fn("\n".join(it)))

    # R3+R5: hash partition on key, group values per key.
    grouped = pairs.groupByKey(numPartitions=n_reduce)

    # R6+R7: per-partition key sort, then user reduce in that order
    # (mapreduce.go:203-218).
    def _reduce_partition(items):
        for k, vs in sorted(items, key=lambda kv: kv[0]):
            yield (k, reduce_fn(k, list(vs)))

    reduced = grouped.mapPartitions(_reduce_partition, preservesPartitioning=True)

    # R8: Merge = one task reads every reduce output and sorts it
    # (spilling if need be), like the reference's single Merge
    # process.  Unlike sortByKey, this fires no count/sample job, so
    # the reduce above runs once.
    return reduced.repartitionAndSortWithinPartitions(1)


def write_merged_tsv(result: RDD, output_path: str) -> None:
    """R9: the reference's final sink — ``key\\tvalue`` lines, globally
    key-sorted, single file (mapreduce.go:260-263 writes one file).
    ``run_map_reduce`` already returns one partition, so coalesce(1)
    adds no stage; it only keeps the one-file contract for other
    inputs."""
    result.map(lambda kv: f"{kv[0]}\t{kv[1]}").coalesce(1).saveAsTextFile(output_path)


# ---------------------------------------------------------------------------
# the reference's example app: word count (wc.go:14-38)
# ---------------------------------------------------------------------------

_WORD_RE = re.compile(r"[^A-Za-z]+")


def wc_map(text: str) -> Iterable[tuple[str, str]]:
    """wc.go Map: split on non-letter runs, emit (word, "1").

    Pinned to ASCII letters (FIXTURES.md determinism rules; the Go
    original uses unicode.IsLetter, identical on ASCII fixtures).
    """
    for w in _WORD_RE.split(text):
        if w:
            yield (w, "1")


def wc_reduce(key: str, values: list[str]) -> str:
    """wc.go Reduce: sum of integer-parsed values, back to string."""
    return str(sum(int(v) for v in values))


def word_count(spark: SparkSession, input_path: str, n_map: int = 5, n_reduce: int = 3) -> RDD:
    return run_map_reduce(spark, input_path, wc_map, wc_reduce, n_map, n_reduce)


def word_count_df(spark: SparkSession, input_path: str) -> DataFrame:
    """Shim output as a DataFrame (word, cnt) for comparisons."""
    rdd = word_count(spark, input_path)
    return spark.createDataFrame(
        rdd.map(lambda kv: (kv[0], int(kv[1]))), "word string, cnt long"
    )
