"""Wave 100 (round 9): SQLite connector hardening from round-8 ADVICE.

- Stage merges must survive epochs/writes WIDER than SQLite's
  10-attach ceiling (SQLITE_MAX_ATTACHED default): both writers now
  collect stages through a TEMP table in chunked ATTACHes, then apply
  staging→target (+ epoch marker) in one transaction.
- The batch writer's merge is a single transaction (was one commit
  per stage — a driver crash could leave a partially merged target).
- Query-option schema sniffing: empty results raise with guidance
  (was: silently all-string, failing later as a cast error); a NULL
  in the first row no longer mistypes the column when a later sampled
  row has a value.
- The shared orders mirror is built at a unique path and atomically
  renamed into place (no build-then-marker race window).
"""

from __future__ import annotations

import os
import sqlite3

import pytest

from go_mapreduce_spark.sources import sqlite_source as SQ


def _mk_stage(path: str, table: str, rows):
    con = sqlite3.connect(path)
    con.execute(f'CREATE TABLE "{table}" (id INTEGER, v TEXT)')
    con.executemany(f'INSERT INTO "{table}" VALUES (?, ?)', rows)
    con.commit()
    con.close()
    return SQ._StageCommit(stage_path=path, n_rows=len(rows))


def _stage_fan(tmp_path, table, n_stages, rows_per=3):
    msgs = []
    nxt = 0
    for s in range(n_stages):
        rows = [(nxt + i, f"r{nxt + i}") for i in range(rows_per)]
        nxt += rows_per
        msgs.append(_mk_stage(str(tmp_path / f"stage-{s}.db"), table, rows))
    return msgs, nxt


def test_batch_commit_survives_more_stages_than_attach_limit(tmp_path, spark):
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("id bigint, v string")
    target = str(tmp_path / "target.db")
    msgs, total = _stage_fan(tmp_path, "t", n_stages=25)
    w = SQ.SqliteWriter(schema, {"path": target, "table": "t"}, overwrite=False)
    w.commit(msgs)
    con = sqlite3.connect(target)
    n, lo, hi = con.execute('SELECT COUNT(*), MIN(id), MAX(id) FROM "t"').fetchone()
    con.close()
    assert (n, lo, hi) == (total, 0, total - 1)
    # stage files cleaned up
    assert not [f for f in os.listdir(tmp_path) if f.startswith("stage-")]


def test_stream_commit_survives_wide_epoch_and_stays_idempotent(tmp_path, spark):
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("id bigint, v string")
    target = str(tmp_path / "target.db")
    w = SQ.SqliteStreamWriter(schema, {"path": target, "table": "t"}, False)
    msgs, total = _stage_fan(tmp_path, "t", n_stages=17)
    w.commit(msgs, batchId=0)
    # replaying the SAME epoch (marker present) must be a no-op even
    # with fresh stage files
    msgs2, _ = _stage_fan(tmp_path, "t", n_stages=12)
    w.commit(msgs2, batchId=0)
    con = sqlite3.connect(target)
    n = con.execute('SELECT COUNT(*) FROM "t"').fetchone()[0]
    marks = con.execute(
        f'SELECT batch_id FROM "{SQ.SqliteStreamWriter.MARKER_TABLE}"'
    ).fetchall()
    con.close()
    assert n == total
    assert marks == [(0,)]


def test_batch_commit_merge_is_single_transaction(tmp_path, monkeypatch, spark):
    """A failure while applying staging→target must leave the target
    EMPTY (previous state), not partially merged — the round-8 ADVICE
    crash window."""
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("id bigint, v string")
    target = str(tmp_path / "target.db")
    msgs, _ = _stage_fan(tmp_path, "t", n_stages=4)

    real_connect = sqlite3.connect

    class _Boom(Exception):
        pass

    class _FailingCon:
        def __init__(self, con):
            self._con = con

        def execute(self, sql, *a):
            if sql.startswith("INSERT INTO main."):
                raise _Boom()
            return self._con.execute(sql, *a)

        def __getattr__(self, name):
            return getattr(self._con, name)

    monkeypatch.setattr(
        SQ.sqlite3, "connect", lambda p: _FailingCon(real_connect(p))
    )
    w = SQ.SqliteWriter(schema, {"path": target, "table": "t"}, overwrite=False)
    with pytest.raises(_Boom):
        w.commit(msgs)
    monkeypatch.undo()
    con = sqlite3.connect(target)
    tables = {
        r[0]
        for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        ).fetchall()
    }
    # the interrupted transaction rolled back: no user table contents
    n = (
        con.execute('SELECT COUNT(*) FROM "t"').fetchone()[0]
        if "t" in tables
        else 0
    )
    con.close()
    assert n == 0


def test_query_sniff_raises_on_empty_result(tmp_path, spark):
    db = str(tmp_path / "empty.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (a INTEGER)")
    con.commit()
    con.close()
    SQ.register(spark)
    with pytest.raises(Exception, match="no rows to sniff|schema"):
        (
            spark.read.format("gms_sqlite")
            .option("path", db)
            .option("query", "SELECT a FROM t WHERE a < 0")
            .load()
            .collect()
        )


def test_query_sniff_sees_past_leading_nulls(tmp_path, spark):
    db = str(tmp_path / "nulls.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (a INTEGER, b REAL)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(None, None), (None, 1.5), (7, 2.5)],
    )
    con.commit()
    con.close()
    SQ.register(spark)
    df = (
        spark.read.format("gms_sqlite")
        .option("path", db)
        .option("query", "SELECT a, b FROM t ORDER BY rowid")
        .load()
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "bigint",
        "double",
    ]
    got = sorted(
        [(r.a, r.b) for r in df.collect()],
        key=lambda t: (t[0] is None, t[0], t[1] is None, t[1]),
    )
    assert got == [(7, 2.5), (None, 1.5), (None, None)]


def test_orders_db_built_atomically(spark, sf_dir, tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # force a fresh build
    db = SQ._ensure_orders_db(spark, sf_dir)
    got = SQ._ensure_orders_db(spark, sf_dir)
    assert got == db and os.path.isfile(db)
    # no build residue (unique build paths are renamed away or staged
    # files consumed by the writer commit)
    slot = os.path.dirname(os.path.dirname(db))
    residue = [f for f in os.listdir(slot) if f.startswith("build-")]
    assert residue == []
    assert os.listdir(os.path.dirname(db)) == ["orders.db"]
    con = sqlite3.connect(db)
    n = con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
    con.close()
    assert n > 0
