"""Structured Streaming slice over the events stream (SURVEY.md §7.2 M4).

The reference is strictly batch, one job at a time
(reference README.md:12; master.go:156-174 blocks per job) — streaming
is pure extension surface.  The transformations here are the SAME
expressions as the batch queries in ``operators/windows.py``:
``window()`` / ``session_window()`` behave identically in both modes,
which is what makes batch-equivalence testing possible (replay the
events table as a stream → results must equal the batch query).

Scale notes:
- Watermarks bound state: an hour-window agg with a 2-hour watermark
  holds ≤ 3 windows of partial aggregates per key group, regardless
  of stream length.
- ``availableNow`` triggers give exactly-once batch-style replay for
  backfills — same code path as the 24/7 stream.

Replays: :func:`write_replay` writes every file-replay source (an
ordered frame in, k ordered parquet files out), and every events
replay query reads :func:`replay_events`.
"""

from __future__ import annotations

import math
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from go_mapreduce_spark import scratch
from go_mapreduce_spark.session import scoped_confs

# Schema of the replayed event stream (ts already µs-normalized —
# streams come from a normalized source, not raw ns parquet).
EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (parquet files dropped into a dir)."""
    reader = (
        spark.readStream.schema(EVENT_SCHEMA).format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(source_dir)


def tumbling_counts(
    events: DataFrame, watermark: str = "2 hours", window: str = "1 hour"
) -> DataFrame:
    """Streaming mirror of x11: per-window per-type count + sum.

    The decimal-sum discipline (functions/numeric.dsum) applies in
    streaming too — state merges stay order-independent.
    """
    from go_mapreduce_spark.functions.numeric import dsum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    watermark: str = "2 hours",
    window: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """Streaming mirror of x24: sliding-window count + exact sum."""
    from go_mapreduce_spark.functions.numeric import dsum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_aggregate(
    events: DataFrame, watermark: str = "2 hours", gap: str = "10 minutes"
) -> DataFrame:
    """Streaming mirror of x12: per-user session windows."""
    from go_mapreduce_spark.functions.numeric import dsum

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def purchases_with_recent_click(
    events: DataFrame, max_gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each purchase joined to the same
    user's click(s) within the preceding ``max_gap``.

    Both sides carry watermarks and the join condition bounds event
    time on both ends — this is what lets Spark EVICT join state: a
    click older than (watermark + max_gap) can never match again and
    is dropped.  Unbounded stream-stream joins are a state leak; the
    time bound is not optional at scale.
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"""
            user_id = c_user_id AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL {max_gap}
            """
        ),
        "inner",
    ).select("user_id", "purchase_id", "click_id", "purchase_ts", "click_ts")


def streaming_dedup(docs: DataFrame, watermark_col: str = "ts", watermark: str = "1 hour") -> DataFrame:
    """Online exact dedup of a document stream: first occurrence wins.

    ``dropDuplicatesWithinWatermark`` keeps the seen-key set only for
    the watermark horizon — bounded state, unlike a global distinct.
    The batch equivalent is x1 (sha256 groupBy); the stream trades
    global exactness for bounded memory: duplicates farther apart than
    the watermark are both kept (documented contract).
    """
    keyed = docs.withColumn("_h", F.sha2(F.col("text"), 256))
    return keyed.withWatermark(watermark_col, watermark).dropDuplicatesWithinWatermark(["_h"]).drop("_h")


# State-store fan-out per micro-batch for fixture-scale replays; see
# _replay_to_parquet's docstring for the sizing rationale.  8 -> 4 in
# round 10: interleaved min-of-3 over the six heaviest replays at
# sf0.1 measured 11.1 s total at 4 vs 13.2 s at 8 — store open/commit
# count still dominates micro-batch volume at bench scale.  Raise for
# production-volume streams (per-partition data becomes the bound).
REPLAY_SHUFFLE_PARTITIONS = 4

# Final global watermark of the last drained replay, per query name
# (ISO-8601 string from the query progress, or None when the query
# carries no watermark).  Lets tests recompute expected finalization
# sets from the watermark Spark ACTUALLY reached, independent of the
# fitted cutoff formulas in the oracles.
REPLAY_FINAL_WATERMARK: dict[str, str | None] = {}


def write_replay(
    name: str,
    frame: Callable[[], DataFrame],
    order: list[str],
    n_files: int,
    *inputs: str,
) -> str:
    """Path of a file-replay source: the rows of ``frame()`` sorted by
    ``order`` and cut into ``n_files`` parquet files, written once per
    state of ``inputs`` (``scratch.build_once`` slot ``name``).

    The cut is a pure function of the rows.  One task sorts them and
    rolls to a new file every ``ceil(rows / n_files)`` rows, so each
    file but the last holds exactly that many (a frame of very few
    rows can give fewer files).  ``order`` must be a total order for
    the rows inside each file to be fixed too.  The file stream source
    takes files in modification-time order, so each file's mtime is
    set one second after the previous file's: a replay reads the
    files, and so the rows, in ``order``.
    """

    def build(path: str) -> None:
        df = frame()
        per_file = max(1, math.ceil(df.count() / n_files))
        (
            df.coalesce(1)
            .sortWithinPartitions(*order)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", per_file)
            .parquet(path)
        )
        parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
        now = time.time_ns()
        for i, f in enumerate(parts):
            t = now - (len(parts) - i) * 1_000_000_000
            os.utime(os.path.join(path, f), ns=(t, t))

    return scratch.build_once(name, build, *inputs)


def _ensure_replay_events(spark: SparkSession, sf_dir: str) -> str:
    """The events table as a 4-file replay source, ordered by
    ``(ts, event_id)``: equal row counts per file, files in ``ts``
    order.  A historical backfill replays chronologically, so
    per-batch watermarks trail the data instead of jumping to the
    global max after batch 1 (which would mark every older row in
    later batches late and, for stateful ops like the x65
    stream-stream join, silently drop it)."""
    from go_mapreduce_spark.sources.registry import load_table

    return write_replay(
        "replay_events",
        lambda: load_table(spark, sf_dir, "events"),
        ["ts", "event_id"],
        4,
        sf_dir,
    )


def replay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a stream, 2 of the 4 replay files per
    trigger: an ``availableNow`` drain runs two chronological data
    micro-batches, which exercises watermark advancement across
    triggers.  Every event-replay query reads this."""
    return read_event_stream(
        spark, _ensure_replay_events(spark, sf_dir), max_files_per_trigger=2
    )


def _replay_to_parquet(
    spark: SparkSession, sf_dir: str, name: str, stream_df: DataFrame
) -> DataFrame:
    """Drain ``stream_df`` (availableNow, append mode) into a parquet
    sink in ``scratch.fresh_dir(name, sf_dir)``; return the sink relation.

    This is the 100 TB backfill shape: append output + file sink keep
    driver memory flat (state holds only open windows; finalized rows
    go straight to distributed storage), unlike a ``complete``-mode
    memory sink, which materializes every window on the driver and
    grows with stream length.  Sink + checkpoint start empty on every
    call, so each call is a full deterministic replay.

    State partitioning is pinned to ``REPLAY_SHUFFLE_PARTITIONS`` for
    the replay's lifetime (restored after): every stateful operator
    materializes one state-store instance PER shuffle partition PER
    micro-batch, so a 32-partition session pays 32 store
    open/commit cycles per trigger regardless of data volume —
    store-count overhead, not data, dominated the replay wall clock
    (x65 at sf0.1: 12.2s → 3.6s at 8 partitions, −16% more across
    the family at 4).  Size this to
    micro-batch volume: raise it for a production-volume stream,
    where per-partition data — not store fan-out — is the bound.
    Results are partition-count-invariant (determinism suite).
    """
    work = scratch.fresh_dir(name, sf_dir)
    out_dir = os.path.join(work, "out")
    ckpt_dir = os.path.join(work, "ckpt")
    pin = {"spark.sql.shuffle.partitions": str(REPLAY_SHUFFLE_PARTITIONS)}
    with scoped_confs(spark, pin):
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wm = None
        for p in reversed(q.recentProgress):
            et = (p or {}).get("eventTime") or {}
            if et.get("watermark"):
                wm = et["watermark"]
                break
        REPLAY_FINAL_WATERMARK[name] = wm
    return spark.read.parquet(out_dir)


def x36_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible streaming query: replay the events table through
    the Structured Streaming tumbling-window aggregate (availableNow,
    multi-file source → multiple triggers, APPEND output to a parquet
    sink) and return the emitted rows.

    Append mode emits exactly the watermark-finalized windows — those
    with ``window_end <= max(ts) - 2h`` (the final no-data micro-batch
    advances the watermark to global-max-event-time-minus-delay,
    ms-truncated; verified empirically) — so the oracle is the batch
    x11 aggregate under the same finalization predicate.  The
    ``complete``-mode memory-sink variant (equals FULL batch, but
    driver-bound) stays pytest-only in test_streaming.
    """
    stream = replay_events(spark, sf_dir)
    out = _replay_to_parquet(spark, sf_dir, "x36", tumbling_counts(stream))
    return out.select(
        "window_start", "event_type", "n_events", "total_value"
    ).orderBy("window_start", "event_type")


def x43_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible streaming session windows: replay events through
    the ``session_window`` aggregate (availableNow, APPEND output to a
    parquet sink) — emitted rows are the watermark-finalized sessions
    (``session_end <= max(ts) - 2h``), matching the batch x12
    gaps-and-islands oracle under the same predicate.

    Session windows are the genuinely STATEFUL window shape (window
    extent depends on the data, unlike fixed tumbling grids), so this
    gate proves the merge-on-overlap session state machine, not just
    windowed hashing.
    """
    stream = replay_events(spark, sf_dir)
    out = _replay_to_parquet(spark, sf_dir, "x43", session_aggregate(stream))
    return out.select(
        "user_id", "session_start", "session_end", "n_events", "total_value"
    ).orderBy("user_id", "session_start")


def x65_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible stream-stream join: replay events chronologically
    (availableNow, 2-file micro-batches) through
    :func:`purchases_with_recent_click` into a parquet sink.

    Inner-join matches emit as soon as both sides are present — append
    output is NOT watermark-gated for inner joins (watermarks only
    bound join STATE) — so the drained result equals the batch
    self-join exactly: every purchase × click pair of the same user
    with the click in the preceding 30 minutes.  That batch query is
    the oracle; cross-micro-batch matches (purchase in batch N, click
    buffered from batch N-1) are what make this a real statefulness
    gate rather than a per-batch join.
    """
    stream = replay_events(spark, sf_dir)
    out = _replay_to_parquet(
        spark, sf_dir, "x65", purchases_with_recent_click(stream)
    )
    return out.select(
        "user_id", "purchase_id", "click_id", "purchase_ts", "click_ts"
    ).orderBy("user_id", "purchase_id", "click_id")


def run_to_memory_sink(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> None:
    """Drain a stream with an availableNow trigger into a memory sink
    table named ``query_name`` (then query via spark.sql)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def x89_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible sliding-window streaming aggregate: replay
    events through the 1h/30min sliding window (availableNow, APPEND
    output to a parquet sink).

    Completes the declared streaming window family (tumbling x36,
    session x43, join x65): sliding windows stress the overlap path —
    every event feeds 2 window states, and append emits each window
    only when the watermark passes its end — so the oracle is the
    batch x24 expansion under the same finalization predicate
    (window_end <= ms-truncated max(ts) - 2h).
    """
    stream = replay_events(spark, sf_dir)
    out = _replay_to_parquet(spark, sf_dir, "x89", sliding_counts(stream))
    return out.select(
        "window_start", "event_type", "n_events", "total_value"
    ).orderBy("window_start", "event_type")


def x90_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible streaming exactly-once dedup: replay the events
    unioned with themselves, so EVERY event appears twice, drop
    duplicates on event_id within the watermark horizon, and
    summarize per event type.

    ``dropDuplicatesWithinWatermark`` keeps the seen-key set only for
    the 2h watermark horizon — bounded state at any stream length,
    unlike a global distinct.  Planted duplicates share their ts, so
    they always fall inside the horizon and the drained result must
    equal the UN-duplicated batch aggregate exactly — doubled counts
    mean the state machine failed.  The emitted rows are per-event
    (dedup is a stateful filter, not watermark-gated), so the
    summary aggregate runs batch-side on the sink relation.
    """
    from go_mapreduce_spark.functions.numeric import dsum

    stream = replay_events(spark, sf_dir)
    deduped = (
        stream.unionAll(stream)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = _replay_to_parquet(spark, sf_dir, "x90", deduped)
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "total_value"),
        )
        .orderBy("event_type")
    )


def x118_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: replay the purchase stream
    against a STATIC per-user activity profile (total event count,
    bucketed into tiers of 10), drain the enriched rows to parquet,
    and roll up per tier.

    The stream-static join is the third join regime next to batch
    (x4/x5/q-series) and stream-stream (x65): the static side is
    planned ONCE per micro-batch as an ordinary batch relation —
    Catalyst broadcasts it under AQE like any small dim — and needs no
    watermark (no cross-stream state).  This is the canonical "enrich
    events with a dimension table" production shape; per-row
    enrichment happens in-stream, the tier rollup happens batch-side
    on the drained sink (aggregate-in-stream would need the x36
    watermark machinery for no extra coverage).
    """
    from go_mapreduce_spark.functions.numeric import dsum
    from go_mapreduce_spark.sources.registry import load_table

    profile = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .select(
            "user_id", F.floor(F.col("n_total") / 10).alias("activity_tier")
        )
    )
    stream = replay_events(spark, sf_dir)
    enriched = (
        stream.filter(F.col("event_type") == "purchase")
        .join(profile, "user_id")
        .select("user_id", "activity_tier", "value")
    )
    out = _replay_to_parquet(spark, sf_dir, "x118", enriched)
    return (
        out.groupBy("activity_tier")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
            dsum(F.col("value"), "total_value"),
        )
        .select(
            "activity_tier",
            "n_purchases",
            "n_users",
            F.round("total_value", 4).alias("total_value"),
        )
        .orderBy("activity_tier")
    )


def x134_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible CUSTOM stateful operator: replay events through
    ``applyInPandasWithState`` running per-user totals (state carried
    across micro-batches), drain every per-batch emission to parquet,
    and keep each user's LAST snapshot — which must equal the batch
    groupBy exactly.

    This is the declared face of the Arrow-stateful escape hatch
    (streaming/stateful.py): per-key mutable state + per-batch
    emission, the shape running aggregates / online dedup / custom
    sessionization take when windowed built-ins can't express them.
    Emissions are append rows (progress snapshots); the final
    snapshot per user is picked by the max event count — strictly
    increasing per emission, so the pick is deterministic with no
    timestamp tie-breaks.  State is O(users), per-batch work is
    O(batch keys): the 100 TB-stream shape.
    """
    from go_mapreduce_spark.streaming.stateful import user_running_totals

    stream = replay_events(spark, sf_dir)
    totals = user_running_totals(stream.select("user_id", "value"))
    out = _replay_to_parquet(spark, sf_dir, "x134", totals)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 4).alias("total_value"),
        )
        .orderBy("user_id")
    )


def x135_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible stream-stream LEFT OUTER join: purchases joined
    to same-user clicks in the preceding 30 minutes; purchases with NO
    such click emit a null-click row — but only once the watermark
    proves no matching click can still arrive.

    Outer-null emission is the genuinely stateful part (inner matches
    — x65 — emit eagerly): a buffered purchase is released as
    unmatched only once the GLOBAL watermark — the MIN over both
    branches' per-branch watermarks, ``min(max purchase_ts, max
    click_ts) - 1 h`` — passes its event time: any click that could
    still match (click_ts ≤ purchase_ts < wm) would be dropped as
    late, so the row is provably unmatchable.  The drained replay
    emits null rows exactly for ``purchase_ts < trunc_ms(min-side
    max) - 1 h`` (bracketed empirically at BOTH sf0.001 and sf0.01 —
    the first formula tried, global-max − watermark − gap, fit one
    sf and failed the other; the min-side rule fits both).  The
    formula models pyspark 4.1.x watermark advancement under this
    replay's trigger layout — a version bump that shifts it is caught
    by the actual-watermark guard test (test_stream_joins.py), which
    recomputes the expected null set from the final watermark in
    ``REPLAY_FINAL_WATERMARK`` instead of the formula.  The
    oracle is the batch left join under that same finalization
    cutoff.  Matched rows are cutoff-free.  State stays bounded:
    both sides evict around the watermark, the non-optional property
    of any stream-stream join at 100 TB.
    """
    stream = replay_events(spark, sf_dir)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            user_id = c_user_id AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL 30 minutes
            """
        ),
        "left_outer",
    ).select("user_id", "purchase_id", "click_id")
    out = _replay_to_parquet(spark, sf_dir, "x135", joined)
    return out.orderBy("purchase_id", "click_id")


def x166_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join — the third and last outer
    regime next to inner (x65) and left-outer (x135): purchases
    joined to same-user clicks in the preceding 30 minutes, with
    null-click rows for provably unmatchable purchases AND
    null-purchase rows for provably unmatchable clicks.

    Both sides buffer; each side's unmatched rows emit once the
    global watermark (min over both branches, 1 h delay) clears that
    row's LAST possible match: a purchase is unmatchable when
    ``wm > purchase_ts`` (its match window ends at its own
    timestamp), a click when ``wm > click_ts + 30 min`` (it could
    still match purchases up to 30 minutes after it).  The replayed
    cutoffs are therefore asymmetric — ``purchase_ts < cut`` but
    ``click_ts < cut − 30 min`` for the truncated-ms min-branch
    ``cut`` x135 established — and the oracle encodes exactly that
    (verified at sf0.001 AND sf0.01; the x135 version-bump guard test
    pattern applies through REPLAY_FINAL_WATERMARK).  State stays
    bounded on both sides by the same eviction rule that gates
    emission.
    """
    stream = replay_events(spark, sf_dir)
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            user_id = c_user_id AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL 30 minutes
            """
        ),
        "full_outer",
    ).select(
        F.coalesce(F.col("user_id"), F.col("c_user_id")).alias("user_id"),
        "purchase_id",
        "click_id",
    )
    out = _replay_to_parquet(spark, sf_dir, "x166", joined)
    return out.orderBy("purchase_id", "click_id")


def x168_stream_attributed_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators: stream-stream inner join (x65's
    purchase←click attribution) feeding a downstream tumbling-window
    aggregate — two stateful stages in one continuous query, the
    composition Spark only supports for time-window aggregates over
    watermarked join output (append mode).

    Per hour of purchase time: how many purchases had an attributing
    click in the preceding 30 minutes.  Join matches emit eagerly,
    but the watermark the join PROPAGATES downstream is delayed by
    its state-retention bound: a purchase row can leave the join as
    late as 30 minutes (the condition's click-lookback) after its
    event time clears the input watermark, so the aggregate sees
    ``wm − 30 min`` and finalizes exactly the windows with
    ``window_end ≤ cut − 30 min`` (``cut`` = the truncated-ms
    min-branch watermark x135/x166 established; verified at sf0.001
    AND sf0.01 — the naive ``window_end ≤ cut`` rule over-emits by
    one borderline window).  Later windows hold in state and drop at
    replay end.  State is bounded at BOTH stages: the join evicts
    around the watermark, the aggregate holds only open windows.
    """
    stream = replay_events(spark, sf_dir)
    attributed = purchases_with_recent_click(stream)
    agg = (
        attributed.groupBy(F.window("purchase_ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_attributed"))
        .select(F.col("w.start").alias("window_start"), "n_attributed")
    )
    out = _replay_to_parquet(spark, sf_dir, "x168", agg)
    return out.orderBy("window_start")


# ---------------------------------------------------------------------------
# x206: stateful replay on the RocksDB state store provider
# ---------------------------------------------------------------------------

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def x206_rocksdb_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user tumbling totals replayed on the **RocksDB state store
    provider** — the state backend production stateful jobs run on:
    the default HDFS-backed store keeps every key in executor heap
    (state volume is bounded by memory), while RocksDB spills keyed
    state to local SSD with changelog checkpointing, which is what
    makes 10^9-key state (per-user aggregates over a 100 TB stream)
    operable at all.

    Results must be bit-identical to the default-provider replays —
    the provider is an operational choice, not a semantics change —
    so this query rides the same append-mode watermark-finalization
    oracle as the rest of the streaming family (windows with
    ``window_end <= max(ts) − 2 h``).  The provider is bound at query
    start from session conf; set for the replay and restored after.
    """
    from go_mapreduce_spark.functions.numeric import dsum

    stream = replay_events(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n_events",
            "total_value",
        )
    )
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    with scoped_confs(spark, rocksdb):
        out = _replay_to_parquet(spark, sf_dir, "x206", agg)
    return out.select(
        "window_start", "user_id", "n_events", "total_value"
    ).orderBy("window_start", "user_id")


# ---------------------------------------------------------------------------
# x236 — multi-sink exactly-once fan-out via foreachBatch (wave 35)
# ---------------------------------------------------------------------------


def x236_multisink_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One stream, TWO sinks, exactly-once: each micro-batch writes
    (a) the raw events and (b) a per-batch (event_type, count, decimal
    value total) summary through ``foreachBatch`` — the canonical
    pattern when a pipeline must land both an archive and a rollup
    from a single read.

    ``foreachBatch`` alone is at-least-once per sink (the checkpoint
    commits AFTER the function returns; a crash between two sink
    writes replays the batch).  Idempotence comes from batch-id-keyed
    subdirectories written with mode=overwrite — a replayed batch
    overwrites its own output instead of duplicating it, the
    documented recipe for transactional-enough file sinks.  The
    declared result re-aggregates sink (b), so a dropped, duplicated,
    or partially-written batch hash-mismatches the closed-form oracle.
    """
    from pyspark.sql import functions as F

    base = scratch.fresh_dir("x236", sf_dir)
    raw_dir = os.path.join(base, "raw")
    agg_dir = os.path.join(base, "agg")
    ckpt = os.path.join(base, "ckpt")

    stream = replay_events(spark, sf_dir)

    def write_both(batch_df, batch_id: int) -> None:
        batch_df.persist()
        try:
            (
                batch_df.select("event_id", "event_type", "value")
                .write.mode("overwrite")
                .parquet(os.path.join(raw_dir, f"batch={batch_id}"))
            )
            (
                batch_df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("decimal(38,6)")).alias("v"),
                )
                .write.mode("overwrite")
                .parquet(os.path.join(agg_dir, f"batch={batch_id}"))
            )
        finally:
            batch_df.unpersist()

    q = (
        stream.writeStream.foreachBatch(write_both)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    agg = spark.read.option("basePath", agg_dir).parquet(agg_dir)
    return (
        agg.groupBy("event_type")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.round(F.sum("v").cast("double"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# x271 — incremental distinct-count sketch state (wave 46)
# ---------------------------------------------------------------------------


def x271_stream_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained distinct-user sketches over a stream:
    each micro-batch builds per-type HLL sketches of the NEW events
    only and foreachBatch merges them into a persistent sketch-state
    table (read-modify-write keyed by event type, batch-id guarded) —
    the streaming pattern that keeps "distinct users ever" current
    without reprocessing history, with state that is KILOBYTES per
    key regardless of stream length (vs an ever-growing exact-dedup
    key store like x90's).

    Merge-idempotence note: HLL union is idempotent on CONTENT
    (re-merging the same sketch cannot change the estimate), so a
    retried batch is harmless even before the batch-id guard kicks
    in — the property that makes sketch state safer than counters
    under at-least-once delivery.  Final answer compares the merged
    estimate to the exact distinct count batch-side.
    """
    import shutil

    from pyspark.sql import functions as F

    base = scratch.fresh_dir("x271", sf_dir)
    state_dir = os.path.join(base, "state")
    out_dir = os.path.join(base, "ckpt")

    stream = replay_events(spark, sf_dir)

    # The live state version is selected by a pointer file updated with
    # os.replace (atomic on POSIX): a crash at ANY point leaves the
    # pointer naming a fully-written version — unlike rmtree(cur) +
    # rename(nxt, cur), which has a window with no state at all (the
    # next batch would silently rebuild sketches from empty).
    ptr = os.path.join(state_dir, "CURRENT")

    def _live_state_dir() -> str | None:
        if not os.path.isfile(ptr):
            return None
        with open(ptr) as fh:
            d = os.path.join(state_dir, fh.read().strip())
        return d if os.path.isdir(d) else None

    def merge_batch(batch_df, batch_id: int) -> None:
        new = batch_df.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk")
        )
        cur = _live_state_dir()
        if cur is not None:
            prev = batch_df.sparkSession.read.parquet(cur)
            merged = (
                prev.unionByName(new)
                .groupBy("event_type")
                .agg(F.hll_union_agg("sk").alias("sk"))
            )
        else:
            merged = new
        # stage, then atomically repoint; only then drop the old version
        nxt_name = f"v{batch_id}"
        merged.write.mode("overwrite").parquet(os.path.join(state_dir, nxt_name))
        tmp = ptr + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(nxt_name)
        os.replace(tmp, ptr)
        if cur is not None and os.path.basename(cur) != nxt_name:
            shutil.rmtree(cur, ignore_errors=True)

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", out_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from go_mapreduce_spark.sources.registry import load_table

    merged = spark.read.parquet(_live_state_dir()).select(
        "event_type", F.hll_sketch_estimate("sk").alias("approx_users")
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_users"))
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            F.col("approx_users").cast("bigint").alias("approx_users"),
            F.col("exact_users").cast("bigint").alias("exact_users"),
            F.round(
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("event_type")
    )


def x343_stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible streaming leaderboard: replay events through the
    tumbling-window aggregate (availableNow, APPEND output to a
    parquet sink — the x36 finalization semantics) and rank the top 3
    event types per finalized hour batch-side on the drained sink.

    The split of work is the point: the STREAM maintains only the
    per-(window, type) aggregate state — O(open windows × types),
    flat over stream length — while ranking happens on the emitted
    relation, where it is a per-window window function over a
    bounded type set.  Putting the rank INSIDE the stream would force
    arbitrary-stateful tracking for no benefit: append mode already
    guarantees each window arrives exactly once, finalized.
    """
    from pyspark.sql.window import Window

    stream = replay_events(spark, sf_dir)
    out = _replay_to_parquet(spark, sf_dir, "x343", tumbling_counts(stream))
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        out.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "window_start",
            F.col("rk").cast("bigint").alias("rk"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            "total_value",
        )
        .orderBy("window_start", "rk")
    )


# ---------------------------------------------------------------------------
# x371 — streaming PSI drift monitor (wave 80)
# ---------------------------------------------------------------------------


def x371_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift observability: the stream maintains per-(day
    window, log-value-bin) counts — O(open windows × bins) state,
    flat over stream length — and the PSI of every finalized day
    against the FIRST finalized day is computed batch-side on the
    drained append sink (x365's monitor pointed at a stream, with
    x343's stream/batch split of labor).

    PSI per day is a bounded-relation job: histogram bins are capped
    by the value range's decades × 4, so the batch stage joins a
    ~30-row window list with a ~25-row baseline histogram regardless
    of event volume.  The baseline day reports PSI 0 by construction
    (a self-comparison sanity anchor the tests pin).
    """
    from go_mapreduce_spark.operators.stats import (
        PSI_BINS_PER_DECADE,
        PSI_EPS,
    )

    stream = replay_events(spark, sf_dir)
    binned = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 day").alias("w"),
            F.floor(F.log10("value") * PSI_BINS_PER_DECADE).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "bin", "n")
    )
    sink = _replay_to_parquet(spark, sf_dir, "x371", binned)
    base_day = sink.agg(F.min("window_start").alias("b"))
    b = (
        sink.join(F.broadcast(base_day), F.col("window_start") == F.col("b"))
        .select("bin", F.col("n").alias("cb"))
    )
    nb = b.agg(F.sum("cb").alias("nb"))
    cur = sink.select(F.col("window_start").alias("w"), "bin", F.col("n").alias("cc"))
    nc = cur.groupBy("w").agg(F.sum("cc").alias("nc"))
    keys = (
        cur.select("w")
        .distinct()
        .crossJoin(F.broadcast(b.select("bin")))
        .unionByName(cur.select("w", "bin"))
        .distinct()
    )
    j = (
        keys.join(F.broadcast(b), "bin", "left")
        .join(cur, ["w", "bin"], "left")
        .join(F.broadcast(nc), "w")
        .crossJoin(F.broadcast(nb))
        .select(
            "w",
            F.greatest(
                F.coalesce(F.col("cb"), F.lit(0)) / F.col("nb").cast("double"),
                F.lit(PSI_EPS),
            ).alias("p"),
            F.greatest(
                F.coalesce(F.col("cc"), F.lit(0)) / F.col("nc").cast("double"),
                F.lit(PSI_EPS),
            ).alias("q"),
        )
    )
    return (
        j.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.round(
                F.sum(
                    (
                        (F.col("p") - F.col("q"))
                        * F.log(F.col("p") / F.col("q"))
                    ).cast("decimal(38,12)")
                ).cast("double"),
                6,
            ).alias("psi"),
        )
        .select(
            F.col("w").alias("window_start"),
            "n_bins",
            "psi",
            (F.col("psi") > 0.25).cast("bigint").alias("drift_alert"),
        )
        .orderBy("window_start")
    )


# ---------------------------------------------------------------------------
# x393 — streaming Page-Hinkley changepoint monitor (wave 88)
# ---------------------------------------------------------------------------

STREAM_PH_DELTA = 1.0
STREAM_PH_LAMBDA = 500.0


def x393_stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming changepoint monitor: the stream maintains per-day
    (decimal value sum, count) — O(open windows) state — and the
    Page-Hinkley statistic (x387's math) runs batch-side over the
    watermark-finalized days drained from the append sink, exactly
    x371's division of labor: the stream does bounded-state
    aggregation, the sequential-looking scan runs on the bounded
    daily relation.

    Output: the PH summary (max excursion, estimated changepoint day,
    alarm against the pinned λ) over the finalized prefix of the
    stream.
    """
    from go_mapreduce_spark.functions.numeric import DECIMAL_T

    stream = replay_events(spark, sf_dir)
    daily = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.sum(F.col("value").cast(DECIMAL_T)).alias("sv"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(F.col("w.start").alias("window_start"), "sv", "cnt")
    )
    sink = _replay_to_parquet(spark, sf_dir, "x393", daily)
    wo = Window.orderBy("window_start")  # finalized days: bounded
    run = sink.select(
        "window_start",
        (F.col("sv").cast("double") / F.col("cnt").cast("double")).alias("x"),
        (
            F.sum("sv").over(wo).cast("double")
            / F.sum("cnt").over(wo).cast("double")
        ).alias("m"),
    ).select(
        "window_start",
        (F.col("x") - F.col("m") - F.lit(STREAM_PH_DELTA)).alias("resid"),
    )
    cum = run.select(
        "window_start",
        F.sum(F.col("resid").cast(DECIMAL_T))
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("u"),
    ).select(
        "window_start",
        "u",
        (
            F.col("u")
            - F.min("u").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("ph"),
    )
    return cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.max("ph"), 6).alias("ph_max"),
        F.to_date(
            F.max(F.struct(F.col("ph"), F.col("window_start")))[
                "window_start"
            ]
        ).alias("changepoint_day"),
        (F.max("ph") > F.lit(STREAM_PH_LAMBDA)).alias("drift_alarm"),
    )
