"""Sink round-trip tests (reference Merge/TSV parity + engine formats)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from go_mapreduce_spark.sources.registry import load_table
from go_mapreduce_spark.sources.sinks import (
    write_csv,
    write_json,
    write_parquet,
    write_sorted_tsv,
)
from tests.conftest import run_counted


def test_parquet_roundtrip_partitioned(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_pq")
    write_parquet(orders, out, partition_by=["o_orderstatus"])
    # partition dirs exist → downstream partition pruning works
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == orders.count()
    a = {r.o_orderkey for r in orders.select("o_orderkey").collect()}
    b = {r.o_orderkey for r in back.select("o_orderkey").collect()}
    assert a == b


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    cdir, jdir = str(tmp_path / "csv"), str(tmp_path / "json")
    write_csv(region, cdir)
    write_json(region, jdir)
    assert spark.read.option("header", "true").csv(cdir).count() == region.count()
    assert spark.read.json(jdir).count() == region.count()


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    """ORC source/sink parity (second columnar format)."""
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_orc")
    nation.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_sorted_tsv_single_file(spark, sf_dir, tmp_path):
    wc = (
        load_table(spark, sf_dir, "region")
        .select(F.col("r_name").alias("k"), F.col("r_regionkey").cast("string").alias("v"))
    )
    out = str(tmp_path / "tsv1")
    write_sorted_tsv(wc, out, ["k"], single_file=True)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1
    lines = open(os.path.join(out, parts[0])).read().splitlines()
    keys = [ln.split("\t")[0] for ln in lines]
    assert keys == sorted(keys)


# (jobs, stages) of a single-file sorted TSV write under the test
# session (cpus=8, AQE on): the shuffle into one partition and the
# write.  orderBy(...).coalesce(1) took 4 jobs / 8 stages: a
# range-bounds sampling job, then a range shuffle coalesced away.
_SINGLE_FILE_TSV_CEILING = (2, 3)


def test_sorted_tsv_single_file_job_counts(spark, tmp_path):
    df = spark.createDataFrame(
        [(f"w{i % 17:02d}", str(i)) for i in range(200)], "k string, v string"
    ).repartition(4)
    out = str(tmp_path / "tsv1")
    jobs, stages = run_counted(
        spark, lambda: write_sorted_tsv(df, out, ["k"], single_file=True)
    )
    max_jobs, max_stages = _SINGLE_FILE_TSV_CEILING
    assert len(jobs) <= max_jobs and len(stages) <= max_stages, (len(jobs), len(stages))
    (part,) = [f for f in os.listdir(out) if f.startswith("part-")]
    with open(os.path.join(out, part)) as fh:
        keys = [ln.split("\t")[0] for ln in fh.read().splitlines()]
    assert len(keys) == 200 and keys == sorted(keys)


def test_sorted_tsv_sharded_globally_ordered(spark, sf_dir, tmp_path):
    """Shards are range-partitioned: concatenated in filename order the
    keys are globally sorted (the scalable Merge)."""
    df = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.lpad(F.col("o_orderkey").cast("string"), 10, "0").alias("k"),
            F.col("o_orderstatus").alias("v"),
        )
        .repartition(8)
    )
    out = str(tmp_path / "tsv_sharded")
    write_sorted_tsv(df, out, ["k"])
    parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    all_keys = []
    for p in parts:
        with open(os.path.join(out, p)) as fh:
            all_keys.extend(ln.split("\t")[0] for ln in fh.read().splitlines())
    assert all_keys == sorted(all_keys)
    assert len(all_keys) == df.count()


def test_query_results_identical_across_source_formats(spark, sf_dir, tmp_path):
    """The engine answer is a property of the DATA, not the source
    format: the q2 aggregation over lineitem must hash-match whether
    the table is read from parquet, CSV (schema applied), or ORC."""
    from pyspark.sql import functions as F

    from go_mapreduce_spark.functions.numeric import dsum
    from go_mapreduce_spark.sources.registry import load_table
    from tests.conftest import canon_rows

    li = load_table(spark, sf_dir, "lineitem")
    cdir, odir = str(tmp_path / "li_csv"), str(tmp_path / "li_orc")
    li.write.mode("overwrite").option("header", "true").csv(cdir)
    li.write.mode("overwrite").orc(odir)
    sources = {
        "parquet": li,
        "csv": spark.read.schema(li.schema).option("header", "true").csv(cdir),
        "orc": spark.read.orc(odir),
    }

    def agg(df):
        out = (
            df.groupBy("l_returnflag", "l_linestatus")
            .agg(dsum(F.col("l_quantity"), "sum_qty"), F.count(F.lit(1)).alias("n"))
            .orderBy("l_returnflag", "l_linestatus")
        )
        return canon_rows(out.columns, [tuple(r) for r in out.collect()])

    results = {fmt: agg(df) for fmt, df in sources.items()}
    assert results["csv"] == results["parquet"]
    assert results["orc"] == results["parquet"]


def test_csv_json_orc_roundtrips(spark, sf_dir, tmp_path):
    """Every non-parquet format round-trips the same relation with
    schema + values intact (CSV through an explicit schema — the
    at-scale contract; ORC columnar; JSON lines)."""
    from go_mapreduce_spark.sources.registry import read_csv, read_json, read_orc
    from go_mapreduce_spark.sources.sinks import write_csv, write_json, write_orc
    from go_mapreduce_spark.sources.registry import load_table

    nation = load_table(spark, sf_dir, "nation").orderBy("n_nationkey")
    want = [(r.n_nationkey, r.n_name, r.n_regionkey) for r in nation.collect()]
    ddl = "n_nationkey bigint, n_name string, n_regionkey bigint, n_comment string"

    p = str(tmp_path / "nation_csv")
    write_csv(nation, p)
    got = read_csv(spark, p, schema=ddl).orderBy("n_nationkey").collect()
    assert [(r.n_nationkey, r.n_name, r.n_regionkey) for r in got] == want

    p = str(tmp_path / "nation_json")
    write_json(nation, p)
    got = read_json(spark, p, schema=ddl).orderBy("n_nationkey").collect()
    assert [(r.n_nationkey, r.n_name, r.n_regionkey) for r in got] == want

    p = str(tmp_path / "nation_orc")
    write_orc(nation, p)
    got = read_orc(spark, p).orderBy("n_nationkey").collect()
    assert [(r.n_nationkey, r.n_name, r.n_regionkey) for r in got] == want


def test_orc_scan_prunes_columns(spark, sf_dir, tmp_path):
    """ORC is columnar: a 2-column projection must not read the full
    schema (same contract the parquet scans are held to)."""
    from go_mapreduce_spark.plans.explain import scan_read_schema
    from go_mapreduce_spark.sources.registry import load_table, read_orc
    from go_mapreduce_spark.sources.sinks import write_orc

    p = str(tmp_path / "li_orc")
    write_orc(load_table(spark, sf_dir, "lineitem"), p)
    df = read_orc(spark, p).select("l_orderkey", "l_quantity")
    schemas = scan_read_schema(df)
    assert schemas
    for s in schemas:
        assert "l_orderkey" in s and "l_comment" not in s


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    """A 64-file fragmented table compacts to the byte-sized target
    count with zero row loss; sorted compaction restores clustering."""
    import glob

    from go_mapreduce_spark.sources.registry import load_table
    from go_mapreduce_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(64).write.parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 64

    n = compact_parquet(spark, src, dst, target_file_bytes=1 << 30)
    assert n == 1  # tiny source bytes -> single target file
    got = spark.read.parquet(dst)
    assert got.count() == ev.count()
    assert set(got.columns) == set(ev.columns)

    dst2 = str(tmp_path / "compacted_sorted")
    compact_parquet(spark, src, dst2, target_file_bytes=1 << 30,
                    sort_within_by=["ts"])
    rows = spark.read.parquet(dst2).select("ts").collect()
    assert [r.ts for r in rows] == sorted(r.ts for r in rows)


# ---------------------------------------------------------------------------
# custom Python Data Source connector (sources/pydatasource.py)
# ---------------------------------------------------------------------------


def test_custom_tsv_source_partition_per_shard_and_lossless(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from go_mapreduce_spark.operators.wordcount import word_counts
    from go_mapreduce_spark.sources import pydatasource as PDS
    from go_mapreduce_spark.sources.registry import load_table
    from go_mapreduce_spark.sources.sinks import write_sorted_tsv

    docs = load_table(spark, sf_dir, "documents").select("text")
    wc = word_counts(docs)
    out = str(tmp_path / "wc_tsv")
    write_sorted_tsv(wc, out, key_cols=["word"])
    import os

    n_shards = sum(1 for f in os.listdir(out) if f.startswith("part-"))
    PDS.register(spark)
    back = (
        spark.read.format("gms_tsv")
        .schema("word string, cnt bigint")
        .option("path", out)
        .load()
    )
    # one scheduled task per shard file (the reference's R1 contract)
    assert back.rdd.getNumPartitions() == n_shards
    want = {(r.word, r.cnt) for r in wc.collect()}
    got = {(r.word, r.cnt) for r in back.collect()}
    assert got == want
    # re-registration in the same session is a no-op, not an error
    PDS.register(spark)


def test_tsv_contract_quotes_tabs_newlines(spark, tmp_path):
    """The write/read quoting contract must round-trip values
    containing the delimiter, quotes, and embedded newlines — the
    alphanumeric fixtures can't catch a writer-escape vs
    parser-quoting mismatch (Spark's backslash-escape default vs
    pyarrow's RFC-4180 doubled quotes)."""
    from go_mapreduce_spark.sources import pydatasource as PDS
    from go_mapreduce_spark.sources.sinks import write_sorted_tsv

    nasty = [
        ("a", 'plain'),
        ("b", 'tab\there'),
        ("c", 'quote "inner" end'),
        ("d", 'line1\nline2'),
        ("e", 'mix\t"q"\nend'),
    ]
    df = spark.createDataFrame(nasty, "k string, v string")
    out = str(tmp_path / "nasty_tsv")
    write_sorted_tsv(df, out, key_cols=["k"])
    PDS.register(spark)
    back = (
        spark.read.format("gms_tsv")
        .schema("k string, v string")
        .option("path", out)
        .load()
    )
    assert {(r.k, r.v) for r in back.collect()} == set(nasty)


def test_custom_stream_source_restart_floor(spark, sf_dir, tmp_path):
    """Restart contract: the engine calls latestOffset() on a FRESH
    reader before partitions() — without a durable floor the counter
    restarts at 0, the offset regresses below the committed one, and
    the next batch re-reads committed files (duplicates).  With the
    commitMarker the recovered latestOffset never regresses."""
    import os

    from pyspark.sql import functions as F

    from go_mapreduce_spark.sources import pydatasource as PDS
    from go_mapreduce_spark.sources.registry import load_table

    staged = str(tmp_path / "ev_tsv")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    w = ev.repartitionByRange(6, "event_id").write.mode("overwrite")
    for k, v in PDS.TSV_WRITE_OPTIONS.items():
        w = w.option(k, v)
    w.csv(staged)
    marker = str(tmp_path / "marker.json")
    schema = spark.createDataFrame(
        [], "event_id bigint, event_type string"
    ).schema
    opts = {"path": staged, "commitMarker": marker}

    r1 = PDS.TsvStreamReader(schema, opts)
    o1 = r1.latestOffset()
    assert o1["index"] == PDS.STREAM_FILES_PER_BATCH
    o2 = r1.latestOffset()
    r1.commit(o2)
    assert os.path.isfile(marker)

    # fresh reader (simulated restart): latestOffset consulted FIRST
    r2 = PDS.TsvStreamReader(schema, opts)
    o3 = r2.latestOffset()
    assert o3["index"] >= o2["index"], "offset regressed below committed"
    # the recovered batch starts at the committed offset: the files it
    # reads are disjoint from every committed range
    parts = r2.partitions(o2, o3)
    committed = {
        p
        for part in r1.partitions({"index": 0}, o2)
        for p in part.paths
    }
    fresh = {p for part in parts for p in part.paths}
    assert not committed & fresh, "restart re-read committed files"

    # markerless readers (legacy) still converge after the first empty
    # batch via the partitions() fold-in guard
    r3 = PDS.TsvStreamReader(schema, {"path": staged})
    r3.partitions(o2, o2)
    assert r3.latestOffset()["index"] >= o2["index"]


def test_data_sources_register_on_a_new_session(spark, tmp_path):
    """Python data sources are registered per session: a
    ``newSession()`` shares the first session's application id but
    starts with none of its sources, so each ``register*`` call must
    register on the session it is given."""
    import sqlite3

    from go_mapreduce_spark.sources import pydatasource as PDS
    from go_mapreduce_spark.sources import sqlite_source as SQ

    tsv = str(tmp_path / "tsv")
    write_sorted_tsv(spark.createDataFrame([("a", 1), ("b", 2)], "k string, n bigint"), tsv, ["k"])
    db = str(tmp_path / "t.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k TEXT, n INTEGER)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [("a", 1), ("b", 2)])
    con.commit()
    con.close()

    registers = (PDS.register, PDS.register_stream, PDS.register_lakehouse_stream, SQ.register)
    for register in registers:
        register(spark)
    s2 = spark.newSession()
    jsession = spark._jvm.org.apache.spark.sql.classic.SparkSession
    active = jsession.getActiveSession().get()
    for register in registers:
        register(s2)
    assert jsession.getActiveSession().get().equals(active)  # put back after each call
    back = s2.read.format("gms_tsv").schema("k string, n bigint").option("path", tsv).load()
    assert sorted(back.collect()) == [("a", 1), ("b", 2)]
    back = s2.read.format("gms_sqlite").option("path", db).option("table", "t").load()
    assert sorted((r.k, r.n) for r in back.collect()) == [("a", 1), ("b", 2)]
    manager = s2._jsparkSession.sessionState().dataSourceManager()
    for name in ("gms_tsv_stream", "gms_lakehouse_stream"):
        assert manager.dataSourceExists(name), name
