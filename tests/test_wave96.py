"""Wave-96 (round 8): SQLite connector — schema inference, rowid-range
partitioned reads, filter pushdown compilation, two-phase parallel
writes, and the full roundtrip vs the parquet truth."""

from __future__ import annotations

import os
import sqlite3

import pytest
from pyspark.sql import functions as F

from go_mapreduce_spark.sources import sqlite_source as SQ


@pytest.fixture()
def db(tmp_path, spark, sf_dir):
    SQ.register(spark)
    path = str(tmp_path / "t.db")
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE t (id INTEGER, name TEXT, score REAL, payload BLOB)"
    )
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?, ?)",
        [(i, f"n{i}", i * 0.5, bytes([i % 256])) for i in range(1, 101)],
    )
    con.commit()
    con.close()
    return path


def _read(spark, path, table="t", partitions="4"):
    return (
        spark.read.format("gms_sqlite")
        .option("path", path)
        .option("table", table)
        .option("partitions", partitions)
        .load()
    )


def test_schema_inference_and_types(spark, db):
    df = _read(spark, db)
    assert [
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    ] == [
        ("id", "bigint"),
        ("name", "string"),
        ("score", "double"),
        ("payload", "binary"),
    ]
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 100
    assert rows[7].name == "n7" and rows[7].score == 3.5
    assert rows[7].payload == bytes([7])


def test_partitioned_read_covers_all_rowids(spark, db):
    df = _read(spark, db, partitions="4")
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 100
    # partition count never exceeds the rowid span
    tiny = _read(spark, db, partitions="1000")
    assert tiny.count() == 100


def test_filter_pushdown_compiles_and_filters_in_sqlite(spark, db):
    # end-to-end: predicate classes the reader claims are absorbed by
    # the scan and still produce the right answer
    df = _read(spark, db).filter(
        (F.col("id") > 10)
        & (F.col("id") <= 20)
        & F.col("name").isNotNull()
        & F.col("score").isin(5.5, 6.0, 7.5)
    )
    got = sorted(r.id for r in df.collect())
    assert got == [11, 12, 15]
    plan = df._jdf.queryExecution().executedPlan().toString()
    # every conjunct is a supported pushdown: no residual Filter NODE
    # (the scan line always prints a "RuntimeFilters: []" attribute)
    assert " Filter " not in plan.replace("RuntimeFilters", ""), plan


def test_push_filters_unit_contract():
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL("id bigint, name string")
    r = SQ.SqliteReader(schema, {"path": "x", "table": "t"})
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        IsNull,
        StringStartsWith,
    )

    fs = [
        EqualTo(("id",), 3),
        GreaterThan(("id",), 1),
        IsNull(("name",)),
        StringStartsWith(("name",), "n"),  # unsupported → returned
        EqualTo(("a", "b"), 1),  # nested → returned
    ]
    leftover = list(r.pushFilters(fs))
    assert leftover == [fs[3], fs[4]]
    assert r._where == ['"id" = ?', '"id" > ?', '"name" IS NULL']
    assert r._params == [3, 1]


def test_parallel_write_two_phase_commit(spark, tmp_path):
    SQ.register(spark)
    out = str(tmp_path / "w.db")
    df = spark.range(0, 1000, 1, 8).selectExpr(
        "id", "CAST(id * 2 AS DOUBLE) AS dbl", "CONCAT('v', id) AS s"
    )
    df.write.format("gms_sqlite").mode("overwrite").option("path", out).option(
        "table", "w"
    ).save()
    con = sqlite3.connect(out)
    n, s = con.execute("SELECT COUNT(*), SUM(id) FROM w").fetchone()
    con.close()
    assert (n, s) == (1000, 499500)
    # no staging files left behind
    assert not [f for f in os.listdir(tmp_path) if ".stage-" in f]
    # overwrite replaces, append adds
    df.limit(10).write.format("gms_sqlite").mode("overwrite").option(
        "path", out
    ).option("table", "w").save()
    assert _read(spark, out, table="w").count() == 10
    df.limit(5).write.format("gms_sqlite").mode("append").option(
        "path", out
    ).option("table", "w").save()
    assert _read(spark, out, table="w").count() == 15


def test_x410_roundtrip_matches_parquet(spark, sf_dir, duck, tmp_path, monkeypatch):
    import tempfile

    # an empty temp dir forces a fresh parallel write of the mirror
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    got = {
        (r.o_orderpriority, r.n_orders, r.total_value)
        for r in SQ.x410_sqlite_roundtrip(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in duck.execute(
            """
            SELECT o_orderpriority, COUNT(*),
                   ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                              AS DOUBLE), 2)
            FROM orders WHERE o_totalprice > 200000.0
            GROUP BY 1
            """
        ).fetchall()
    }
    assert got == want
