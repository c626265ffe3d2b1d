"""Custom connector via the Python Data Source API (Spark 4.x) —
the modern extension point for "teach Spark a new format/system".

The reference's scan operator is a line-aligned file split handed to
each map task (R1, mapreduce/mapreduce.go:74-112).  This re-expresses
that contract natively: ``partitions()`` returns ONE InputPartition
per shard file (the planner schedules them like any other scan), and
``read()`` parses a whole shard with pyarrow's CSV reader and yields
Arrow RecordBatches — columnar, vectorized transfer into the JVM, not
row-at-a-time Python tuples.

Scale notes: per-file partitioning means parallelism = shard count
(the writer controls it); a production connector would also split
WITHIN large files at line boundaries exactly like the reference
does.  Column pruning stops at the source boundary for Python data
sources, and THIS reader pushes no filters (a raw text scan has no
index to exploit) — but since Spark 4.1 the API does support filter
pushdown via ``pushFilters``, which the SQLite connector
(sqlite_source.py) implements against a system that can actually use
it.  Parquet remains the primary format; this is the escape hatch
for systems Spark has no reader for.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from go_mapreduce_spark import scratch

# The TSV wire contract, pinned on BOTH sides (write with Spark's CSV
# sink, read with pyarrow): Spark's writer defaults escape embedded
# quotes with a backslash while pyarrow's parser expects RFC-4180
# doubled quotes — alphanumeric fixtures can't catch the mismatch, a
# value containing a tab/quote/newline silently round-trips wrong.
# Writers therefore set escape='"' (doubling, pyarrow's double_quote
# default) and readers allow quoted newlines.
TSV_WRITE_OPTIONS = {"sep": "\t", "escape": '"'}


def _tsv_parse_options():
    from pyarrow import csv as pacsv

    return pacsv.ParseOptions(delimiter="\t", newlines_in_values=True)


class _ShardPartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class TsvDataSource(DataSource):
    """``spark.read.format("gms_tsv")`` — headerless TSV shards under
    option ``path``, typed by the caller-provided read schema."""

    @classmethod
    def name(cls) -> str:
        return "gms_tsv"

    def schema(self):
        # A connector for untyped text needs a caller schema; default
        # to a single string column when none is given.
        return "value string"

    def reader(self, schema: StructType) -> DataSourceReader:
        return TsvReader(schema, self.options)


class TsvReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options["path"]

    def partitions(self):
        shards = sorted(
            f
            for f in os.listdir(self.path)
            if f.startswith("part-") and not f.endswith(".crc")
        )
        return [_ShardPartition(os.path.join(self.path, f)) for f in shards]

    def read(self, partition: _ShardPartition):
        import pyarrow as pa
        from pyarrow import csv as pacsv

        arrow_types = {
            "string": pa.string(),
            "long": pa.int64(),
            "bigint": pa.int64(),
            "integer": pa.int32(),
            "double": pa.float64(),
        }
        names = [f.name for f in self.schema.fields]
        types = {
            f.name: arrow_types[f.dataType.simpleString()]
            for f in self.schema.fields
        }
        if os.path.getsize(partition.path) == 0:
            return
        table = pacsv.read_csv(
            partition.path,
            read_options=pacsv.ReadOptions(column_names=names),
            parse_options=_tsv_parse_options(),
            convert_options=pacsv.ConvertOptions(column_types=types),
        )
        yield from table.to_batches()


def register_on(spark, source: type[DataSource]) -> None:
    """Register ``source`` on ``spark`` unless ``spark`` has it.

    Registrations belong to one session: a ``newSession()`` shares the
    first session's SparkContext but starts with none of its sources,
    so the check asks the session itself.  Spark refuses a name that
    the thread's ACTIVE session knows and ``spark`` does not, so
    ``spark`` is the active session for the call, and the previous one
    is active again after it."""
    if spark._jsparkSession.sessionState().dataSourceManager().dataSourceExists(source.name()):
        return
    jsession = spark._jvm.org.apache.spark.sql.classic.SparkSession
    prev = jsession.getActiveSession()
    jsession.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(source)
    finally:
        if prev.isDefined():
            jsession.setActiveSession(prev.get())
        else:
            jsession.clearActiveSession()


def register(spark) -> None:
    """Register ``gms_tsv`` on ``spark`` (:func:`register_on`)."""
    register_on(spark, TsvDataSource)


def x171_custom_source_roundtrip(spark, sf_dir: str):
    """Full wire-format loop through the custom connector: Q1's word
    counts written with the reference's sorted-TSV sink contract
    (range-partitioned shards), read BACK through ``gms_tsv`` —
    one scheduled partition per shard, Arrow-batched — and reduced to
    the top-20 tokens.  The oracle is x2's SQL over raw documents, so
    any loss in the sink→connector cycle (type round-trip, shard
    boundary, dropped/duplicated partition) hash-mismatches.
    """
    from pyspark.sql import functions as F

    from go_mapreduce_spark.operators.wordcount import word_counts
    from go_mapreduce_spark.sources.registry import load_table
    from go_mapreduce_spark.sources.sinks import write_sorted_tsv

    def build(path: str) -> None:
        docs = load_table(spark, sf_dir, "documents").select("text")
        write_sorted_tsv(word_counts(docs), path, key_cols=["word"])

    out = scratch.build_once("wc_tsv", build, sf_dir)
    register(spark)
    df = (
        spark.read.format("gms_tsv")
        .schema("word string, cnt bigint")
        .option("path", out)
        .load()
    )
    return df.orderBy(F.col("cnt").desc(), F.col("word").asc()).limit(20)


# ---------------------------------------------------------------------------
# x213: custom STREAMING source via the Python Data Source API
# ---------------------------------------------------------------------------

STREAM_FILES_PER_BATCH = 2


class _RangePartition(InputPartition):
    def __init__(self, paths: list):
        self.paths = paths


class TsvStreamDataSource(DataSource):
    """``spark.readStream.format("gms_tsv_stream")`` — serves the TSV
    shards under ``path`` as an ordered micro-batch stream: offset =
    number of files already ingested, each trigger advances by at
    most ``STREAM_FILES_PER_BATCH`` files.  The Python analogue of
    the file-stream source, demonstrating the full streaming
    extension point: monotonic offsets, offset-range partitions,
    replayable reads, checkpoint-committed progress (exactly-once on
    restart)."""

    @classmethod
    def name(cls) -> str:
        return "gms_tsv_stream"

    def schema(self):
        return "value string"

    def streamReader(self, schema: StructType):
        return TsvStreamReader(schema, self.options)


from pyspark.sql.datasource import DataSourceStreamReader


def _read_marker(path: str | None, key: str) -> int:
    if not path or not os.path.isfile(path):
        return 0
    try:
        with open(path) as fh:
            return int(json.load(fh).get(key, 0))
    except (ValueError, OSError):
        return 0


def _write_marker(path: str | None, key: str, value: int) -> None:
    if not path:
        return
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({key: value}, fh)
    os.replace(tmp, path)  # atomic: a reader never sees a torn marker


class TsvStreamReader(DataSourceStreamReader):
    """Rate-limited file-backlog stream reader.

    Restart contract: on recovery the engine calls ``latestOffset()``
    BEFORE ``partitions()``, so an advance counter that restarts at 0
    would return an offset BELOW the committed one and the next batch
    would re-read already-committed files (duplicates).  The committed
    offset is therefore made DURABLE in ``commit(end)`` via an atomic
    marker file (option ``commitMarker``; the caller scopes it to the
    checkpoint's lifetime) and a fresh reader recovers its floor from
    it lazily — ``latestOffset`` can never regress below a committed
    offset, which is what "exactly-once on restart" requires.
    """

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self.path = options["path"]
        self.marker = options.get("commitmarker") or options.get("commitMarker")

    def _files(self):
        return sorted(
            f
            for f in os.listdir(self.path)
            if f.startswith("part-") and not f.endswith(".crc")
        )

    def initialOffset(self):
        return {"index": 0}

    def latestOffset(self):
        # bounded advance: at most STREAM_FILES_PER_BATCH new files
        # per trigger, so a backlog becomes multiple micro-batches
        # (the rate-limit contract maxFilesPerTrigger provides for the
        # built-in file source)
        n = len(self._files())
        cur = getattr(self, "_last", None)
        if cur is None:
            cur = _read_marker(self.marker, "index")  # restart floor
        nxt = min(cur + STREAM_FILES_PER_BATCH, n)
        self._last = nxt
        return {"index": nxt}

    def partitions(self, start: dict, end: dict):
        # second restart guard: even markerless readers fold the
        # checkpointed start offset into the counter so latestOffset
        # continues forward after the first (regressed) empty batch
        self._last = max(getattr(self, "_last", 0) or 0, start["index"])
        if end["index"] <= start["index"]:
            return []
        files = self._files()[start["index"] : end["index"]]
        return [
            _RangePartition([os.path.join(self.path, f)]) for f in files
        ]

    def read(self, partition: _RangePartition):
        import pyarrow as pa
        from pyarrow import csv as pacsv

        arrow_types = {
            "string": pa.string(),
            "long": pa.int64(),
            "bigint": pa.int64(),
            "integer": pa.int32(),
            "double": pa.float64(),
        }
        names = [f.name for f in self._schema.fields]
        types = {
            f.name: arrow_types[f.dataType.simpleString()]
            for f in self._schema.fields
        }
        target = pa.schema([(n, types[n]) for n in names])
        for p in partition.paths:
            if os.path.getsize(p) == 0:
                continue
            table = pacsv.read_csv(
                p,
                read_options=pacsv.ReadOptions(column_names=names),
                parse_options=_tsv_parse_options(),
                convert_options=pacsv.ConvertOptions(column_types=types),
            )
            # yield Arrow batches directly (the stream-read contract
            # supports them): rows never pass through Python objects —
            # round-11 amortization, same shape as the sqlite reader
            yield from table.cast(target).to_batches()

    def commit(self, end: dict) -> None:
        # engine progress is durable in the streaming checkpoint; the
        # marker duplicates just the committed INDEX so a fresh
        # reader's latestOffset never regresses below it (see class
        # docstring)
        _write_marker(self.marker, "index", end["index"])


def register_stream(spark) -> None:
    """Register ``gms_tsv_stream`` on ``spark`` (:func:`register_on`)."""
    register_on(spark, TsvStreamDataSource)


def _drain(q, key: str, target: int, name: str) -> None:
    """Poll ``q`` every 50 ms until its source's end offset ``key``
    reaches ``target``, then stop it; raise after 120 s."""
    deadline = time.time() + 120
    try:
        while time.time() < deadline:
            p = q.lastProgress
            if p:
                srcs = p.get("sources") or []
                eo = srcs[0].get("endOffset") if srcs else None
                # the python-source offset serializes with repr-style
                # quoting — extract the value numerically
                m = re.search(key + r"\D+(\d+)", str(eo) or "")
                if m and int(m.group(1)) >= target:
                    return
            time.sleep(0.05)
        raise TimeoutError(f"{name} stream did not drain in 120s")
    finally:
        q.stop()


def x213_custom_stream_source(spark, sf_dir: str):
    """Structured Streaming through the CUSTOM Python source: the
    events table staged as sorted TSV shards, streamed shard-by-shard
    (2 files per trigger) through ``gms_tsv_stream`` into an
    APPEND-mode parquet sink — the same 100 TB backfill shape the
    rest of the streaming family uses (x36/x90: finalized rows go to
    distributed storage, driver memory stays flat) — then aggregated
    BATCH-side to per-type counts + decimal-exact totals.  The oracle
    is the closed-form batch aggregate — any dropped/duplicated file,
    offset skew, or TSV type-loss in the source hash-mismatches.

    The declared surface is the SOURCE extension point: monotonic
    offsets, bounded per-trigger advance, partition-per-file reads,
    checkpointed commits with a durable restart floor (the
    ``commitMarker`` is scoped to the checkpoint: both are recreated
    together, so the floor dies exactly when the offsets it mirrors
    do).  A processingTime trigger, NOT availableNow: the rate-limited
    latestOffset is consulted once per trigger, so the 8-shard backlog
    genuinely drains as 4 micro-batches; the loop below waits until a
    COMMITTED batch's endOffset covers every file (lastProgress
    reports only committed batches, so the parquet sink already holds
    that batch's files when we stop).
    """
    from pyspark.sql import functions as F

    from go_mapreduce_spark.sources.registry import load_table

    def build(path: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        w = (
            ev.repartitionByRange(8, "event_id")
            .sortWithinPartitions("event_id")
            .write.mode("overwrite")
        )
        for k, v in TSV_WRITE_OPTIONS.items():
            w = w.option(k, v)
        w.csv(path)

    staged = scratch.build_once("events_tsv", build, sf_dir)
    register_stream(spark)
    work = scratch.fresh_dir("x213", sf_dir)
    ckpt = os.path.join(work, "ckpt")
    out_dir = os.path.join(work, "out")
    marker = os.path.join(work, "marker.json")
    stream = (
        spark.readStream.format("gms_tsv_stream")
        .schema("event_id bigint, user_id bigint, event_type string, value double")
        .option("path", staged)
        .option("commitMarker", marker)
        .load()
    )
    n_files = len(
        [f for f in os.listdir(staged) if f.startswith("part-")]
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    _drain(q, "index", n_files, "x213")
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 4
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# x215: the lakehouse table as a STREAMING source (version offsets)
# ---------------------------------------------------------------------------


class LakehouseStreamDataSource(DataSource):
    """``spark.readStream.format("gms_lakehouse_stream")`` — consumes
    a lakehouse table's commit log as a micro-batch stream: offset =
    table VERSION, one version per trigger.  Each batch reads exactly
    the files its version INTRODUCED, by the same rule as x170's
    ``read_appends`` (``lakehouse.added_files``): ``create``,
    ``append`` and ``wap_publish`` add files, ``optimize`` adds none,
    and ``merge``/``delete`` versions are REFUSED (in-place row
    changes have no file-level provenance; those windows belong to
    ``table_changes``).  The streaming face of x170's batch
    incremental read — Delta's streaming-source contract rebuilt on
    the manifest log."""

    @classmethod
    def name(cls) -> str:
        return "gms_lakehouse_stream"

    def schema(self):
        return "value string"

    def streamReader(self, schema: StructType):
        return LakehouseStreamReader(schema, self.options)


class LakehouseStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self.root = options["path"]
        self.marker = options.get("commitmarker") or options.get("commitMarker")

    def initialOffset(self):
        return {"version": 0}

    def latestOffset(self):
        from go_mapreduce_spark.lakehouse import current_version

        cur = getattr(self, "_last", None)
        if cur is None:
            # restart floor: never regress below a committed version
            # (same duplicate-on-restart contract as TsvStreamReader)
            cur = _read_marker(self.marker, "version")
        nxt = min(cur + 1, current_version(self.root))  # 1 version/trigger
        self._last = nxt
        return {"version": nxt}

    def partitions(self, start: dict, end: dict):
        from go_mapreduce_spark.lakehouse import added_files

        self._last = max(getattr(self, "_last", 0) or 0, start["version"])
        paths = []
        for v in range(start["version"] + 1, end["version"] + 1):
            paths += added_files(self.root, v)
        if not paths:
            return []
        return [
            _RangePartition([os.path.join(self.root, p)]) for p in paths
        ]

    def read(self, partition: _RangePartition):
        import pyarrow.parquet as pq

        names = [f.name for f in self._schema.fields]
        for p in partition.paths:
            # Arrow batches straight through — no per-row Python
            # objects (round-11 amortization; parquet written by Spark
            # with this exact schema, so types line up by construction)
            yield from pq.read_table(p, columns=names).to_batches()

    def commit(self, end: dict) -> None:
        _write_marker(self.marker, "version", end["version"])


def register_lakehouse_stream(spark) -> None:
    """Register ``gms_lakehouse_stream`` on ``spark``
    (:func:`register_on`)."""
    register_on(spark, LakehouseStreamDataSource)


def x215_lakehouse_stream_source(spark, sf_dir: str):
    """Stream the append-only lakehouse demo table (x170's 3-version
    history) version-by-version through the custom source into an
    APPEND-mode parquet sink (the family's 100 TB backfill shape),
    then aggregate everything ever appended batch-side — per event
    type, count and decimal-exact total.  Three micro-batches (one
    per commit), each reading only its version's new files; the
    oracle is the closed-form aggregate over ALL events, so a skipped
    file, re-read parent file, or version-ordering error
    hash-mismatches.  The ``commitMarker`` restart floor is scoped to
    the checkpoint (both recreated together).
    """
    from pyspark.sql import functions as F

    from go_mapreduce_spark.lakehouse import ensure_append_demo

    root = ensure_append_demo(spark, sf_dir)
    register_lakehouse_stream(spark)
    work = scratch.fresh_dir("x215", sf_dir)
    ckpt = os.path.join(work, "ckpt")
    out_dir = os.path.join(work, "out")
    marker = os.path.join(work, "marker.json")
    stream = (
        spark.readStream.format("gms_lakehouse_stream")
        .schema(
            "event_id bigint, user_id bigint, event_type string, "
            "value double, dom int"
        )
        .option("path", root)
        .option("commitMarker", marker)
        .load()
    )
    from go_mapreduce_spark.lakehouse import current_version

    n_versions = current_version(root)
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    _drain(q, "version", n_versions, "x215")
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 4
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )
