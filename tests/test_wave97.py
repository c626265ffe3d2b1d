"""Wave-97 (round 8): SQLite streaming surfaces — rowid-watermark
incremental reads (offset recovery = no re-ingest) and the
exactly-once per-epoch stream sink (marker-table idempotence)."""

from __future__ import annotations

import os
import sqlite3

import pytest

from go_mapreduce_spark.sources import sqlite_source as SQ


@pytest.fixture()
def db(tmp_path, spark):
    SQ.register(spark)
    path = str(tmp_path / "s.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (id INTEGER, v REAL)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(i, i * 1.0) for i in range(1, 51)]
    )
    con.commit()
    con.close()
    return path


def _drain_range(r, start, end):
    ids = []
    for part in r.partitions(start, end):
        for batch in r.read(part):
            ids.extend(batch.column("id").to_pylist())
    return ids


def test_stream_reader_offsets_partitions_and_replay(db):
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("id bigint, v double")
    r = SQ.SqliteStreamReader(
        schema,
        {"path": db, "table": "t", "stream_rows_per_partition": "16"},
    )
    start = r.initialOffset()
    end = r.latestOffset()
    assert start == {"rowid": 0} and end == {"rowid": 50}
    # partition planning: ~16 rows per split, disjoint (lo, hi] cover
    parts = r.partitions(start, end)
    assert len(parts) == 4
    assert parts[0].lo == 0 and parts[-1].hi == 50
    for a, b in zip(parts, parts[1:]):
        assert a.hi == b.lo
    # per-partition Arrow reads reassemble the full range exactly once
    ids = _drain_range(r, start, end)
    assert sorted(ids) == list(range(1, 51))
    # empty range plans no partitions
    assert r.partitions(end, end) == []
    # append → only the delta is read
    con = sqlite3.connect(db)
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(i, i * 1.0) for i in range(51, 61)]
    )
    con.commit()
    con.close()
    end2 = r.latestOffset()
    assert end2 == {"rowid": 60}
    got = _drain_range(r, end, end2)
    assert sorted(got) == list(range(51, 61))
    # committed-range replay (checkpoint recovery) is deterministic
    assert _drain_range(r, end, end2) == got


def _rb(ids, vs):
    """RecordBatch in the shape the Arrow stream writer receives."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array(ids, type=pa.int64()), pa.array(vs, type=pa.float64())],
        names=["id", "v"],
    )


def test_batch_to_sqlite_rows_matches_row_path_conversions():
    """The Arrow write path must apply exactly the conversions the old
    pickled-Row path applied per value (bool→int, date/datetime→ISO
    text, None passthrough) — column-driven from the declared schema."""
    import datetime as dt

    import pyarrow as pa

    from pyspark.sql.types import (
        BooleanType,
        DateType,
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    # built field by field (not fromDDL, which needs a live
    # SparkContext) so the test runs alone, without a session
    schema = StructType(
        [
            StructField("b", BooleanType()),
            StructField("d", DateType()),
            StructField("ts", TimestampType()),
            StructField("tn", TimestampNTZType()),
            StructField("s", StringType()),
            StructField("x", DoubleType()),
        ]
    )
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([True, False, None], type=pa.bool_()),
            pa.array([dt.date(2024, 2, 29), None, dt.date(1999, 1, 1)]),
            pa.array(
                [dt.datetime(2024, 2, 29, 12, 30, 15), None, None],
                type=pa.timestamp("us"),
            ),
            # timestamp_ntz: wall-clock text as given, no tz shift
            pa.array(
                [None, dt.datetime(1995, 1, 1, 23, 59, 59, 5), dt.datetime(2024, 1, 1)],
                type=pa.timestamp("us"),
            ),
            pa.array(["a", None, "c"]),
            pa.array([1.5, float("inf"), None], type=pa.float64()),
        ],
        names=["b", "d", "ts", "tn", "s", "x"],
    )
    rows = SQ._batch_to_sqlite_rows(batch, schema)
    assert rows == [
        (1, "2024-02-29", "2024-02-29 12:30:15", None, "a", 1.5),
        (0, None, None, "1995-01-01 23:59:59.000005", None, float("inf")),
        (None, "1999-01-01", None, "2024-01-01 00:00:00", "c", None),
    ]
    # tz-AWARE timestamps (what Spark's Arrow batches actually carry)
    # must store as naive UTC text, byte-identical to the old Row path
    aware = pa.RecordBatch.from_arrays(
        [
            pa.array(
                [dt.datetime(2024, 2, 29, 12, 30, 15)],
                type=pa.timestamp("us", tz="UTC"),
            )
        ],
        names=["ts"],
    )
    assert SQ._batch_to_sqlite_rows(
        aware, StructType([StructField("ts", TimestampType())])
    ) == [("2024-02-29 12:30:15",)]
    # and it is exactly what _to_sqlite_value does value-wise
    assert rows[0][:3] == tuple(
        SQ._to_sqlite_value(v)
        for v in (True, dt.date(2024, 2, 29), dt.datetime(2024, 2, 29, 12, 30, 15))
    )


def test_stream_sink_epoch_markers_are_exactly_once(tmp_path, spark):
    from pyspark.sql.types import StructType

    SQ.register(spark)
    out = str(tmp_path / "sink.db")
    schema = StructType.fromDDL("id bigint, v double")
    w = SQ.SqliteStreamWriter(schema, {"path": out, "table": "t"}, False)
    msg = w.write(iter([_rb([1, 2], [1.0, 2.0])]))
    w.commit([msg], batchId=0)
    # a replayed epoch (same batchId) must be dropped, not re-applied
    msg2 = w.write(iter([_rb([1, 2], [1.0, 2.0])]))
    w.commit([msg2], batchId=0)
    # a NEW epoch applies
    msg3 = w.write(iter([_rb([3], [3.0])]))
    w.commit([msg3], batchId=1)
    con = sqlite3.connect(out)
    n, s = con.execute("SELECT COUNT(*), SUM(id) FROM t").fetchone()
    marks = [r[0] for r in con.execute(
        f'SELECT batch_id FROM "{SQ.SqliteStreamWriter.MARKER_TABLE}" ORDER BY 1'
    )]
    con.close()
    assert (n, s) == (3, 6)
    assert marks == [0, 1]
    # stages cleaned up in all three paths
    assert not [f for f in os.listdir(tmp_path) if ".stage-" in f]


def test_x411_stream_ingest_is_restart_safe(spark, sf_dir, duck):
    got = {
        (r.o_orderpriority, r.n_orders, r.total_value)
        for r in SQ.x411_sqlite_stream_ingest(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in duck.execute(
            """
            SELECT o_orderpriority, COUNT(*),
                   ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                              AS DOUBLE), 2)
            FROM orders GROUP BY 1
            """
        ).fetchall()
    }
    assert got == want


def test_x412_stream_sink_is_exactly_once(spark, sf_dir, duck):
    got = {
        (r.event_type, r.n_events, r.total_value)
        for r in SQ.x412_sqlite_stream_sink(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in duck.execute(
            """
            SELECT event_type, COUNT(*),
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6)))
                              AS DOUBLE), 4)
            FROM events GROUP BY 1
            """
        ).fetchall()
    }
    assert got == want
