"""Transactional contract tests for the manifest-based lakehouse
(go_mapreduce_spark/lakehouse.py): atomic commits, snapshot
isolation, idempotent CDC apply, file pruning, time travel.

The oracle gate (x149/x150) proves VALUE correctness of the demo
history; these prove the TRANSACTIONAL properties a value hash can't
see — what happens on crash, replay, conflict, and partial write.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from go_mapreduce_spark import lakehouse as LH


@pytest.fixture()
def table(spark, tmp_path):
    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", float(i) * 10.0) for i in range(1, 101)],
        "k long, s string, v double",
    )
    LH.create_table(spark, df, root, key_col="k")
    return root


def _rows(spark, root, version=None):
    return {
        (r.k, r.s, r.v) for r in LH.read_table(spark, root, version).collect()
    }


def test_create_read_roundtrip(spark, table):
    got = _rows(spark, table)
    assert got == {(i, f"s{i % 3}", float(i) * 10.0) for i in range(1, 101)}
    assert LH.current_version(table) == 1


def test_merge_upsert_insert_delete(spark, table):
    updates = spark.createDataFrame(
        [
            (5, "UP", 999.0, "upsert"),     # update existing
            (200, "NEW", 1.0, "upsert"),    # insert new key
            (7, "x", 0.0, "delete"),        # delete existing
            (300, "x", 0.0, "delete"),      # delete missing → no-op
        ],
        "k long, s string, v double, _op string",
    )
    LH.merge_table(spark, updates, table, batch_id="m1")
    got = _rows(spark, table)
    want = {
        (i, f"s{i % 3}", float(i) * 10.0)
        for i in range(1, 101)
        if i not in (5, 7)
    } | {(5, "UP", 999.0), (200, "NEW", 1.0)}
    assert got == want
    assert LH.current_version(table) == 2


def test_replay_is_version_preserving_noop(spark, table):
    updates = spark.createDataFrame(
        [(5, "UP", 999.0, "upsert")], "k long, s string, v double, _op string"
    )
    v2 = LH.merge_table(spark, updates, table, batch_id="b")
    before = _rows(spark, table)
    v_again = LH.merge_table(spark, updates, table, batch_id="b")
    assert v_again == v2 == 2
    assert _rows(spark, table) == before
    assert LH.read_manifest(table)["batch_ids"] == ["b"]


def test_orphan_data_files_are_invisible(spark, table):
    """Crash between data write and manifest commit: the stray files
    must not appear in any read — readers open only manifest-named
    files, never directory listings."""
    before = _rows(spark, table)
    orphan = spark.createDataFrame([(999, "ORPHAN", 0.0)], "k long, s string, v double")
    orphan.coalesce(1).write.mode("append").parquet(os.path.join(table, "data"))
    assert _rows(spark, table) == before


def test_commit_conflict_raises_and_preserves_log(spark, table):
    """Optimistic concurrency at the commit point: two writers racing
    from the same parent both stage version 2 — the loser gets
    CommitConflict and the winner's manifest is byte-untouched (the
    hard-link publish cannot overwrite)."""
    base = LH.read_manifest(table)
    LH._commit_next(table, base, "append")
    with pytest.raises(LH.CommitConflict):
        LH._commit_next(table, base, "merge")
    with open(LH._manifest_path(table, 2)) as f:
        assert json.load(f)["op"] == "append"
    # a writer that re-reads the log lands on the NEXT version instead
    updates = spark.createDataFrame(
        [(1, "X", 0.0, "upsert")], "k long, s string, v double, _op string"
    )
    assert LH.merge_table(spark, updates, table) == 3


def test_merge_prunes_nonoverlapping_files(spark, table):
    """A batch touching a narrow key range must carry every
    non-overlapping file into the new snapshot BY REFERENCE — same
    path, no rewrite (the property that makes MERGE viable at
    100 TB)."""
    m1 = LH.read_manifest(table)
    lo_files = {e["path"] for e in m1["files"] if e["max_key"] < 50}
    assert lo_files, "fixture should produce multiple range files"
    updates = spark.createDataFrame(
        [(95, "UP", 1.0, "upsert"), (99, "UP", 2.0, "upsert")],
        "k long, s string, v double, _op string",
    )
    LH.merge_table(spark, updates, table, batch_id="hi")
    m2 = LH.read_manifest(table)
    carried = {e["path"] for e in m2["files"]}
    assert lo_files <= carried  # untouched low-key files ride along
    rewritten = carried - {e["path"] for e in m1["files"]}
    assert rewritten and all(p.startswith("data/v00002-") for p in rewritten)


def test_time_travel_is_immutable(spark, table):
    v1 = _rows(spark, table, version=1)
    updates = spark.createDataFrame(
        [(1, "X", -1.0, "upsert"), (2, "x", 0.0, "delete")],
        "k long, s string, v double, _op string",
    )
    LH.merge_table(spark, updates, table)
    assert _rows(spark, table, version=1) == v1  # history unchanged
    assert _rows(spark, table) != v1


def test_append_references_parent_files(spark, table):
    m1 = LH.read_manifest(table)
    extra = spark.createDataFrame(
        [(1000, "A", 1.0)], "k long, s string, v double"
    )
    LH.append_table(spark, extra, table, batch_id="a1")
    m2 = LH.read_manifest(table)
    assert {e["path"] for e in m1["files"]} <= {e["path"] for e in m2["files"]}
    assert (1000, "A", 1.0) in _rows(spark, table)
    # replay of the append batch is a no-op too
    assert LH.append_table(spark, extra, table, batch_id="a1") == 2


def test_empty_batch_commits_only_the_batch_id(spark, table):
    empty = spark.createDataFrame(
        [], "k long, s string, v double, _op string"
    )
    before = _rows(spark, table)
    v = LH.merge_table(spark, empty, table, batch_id="e1")
    assert v == 2
    assert _rows(spark, table) == before
    assert LH.read_manifest(table)["batch_ids"] == ["e1"]


def test_stream_upsert_batch_replay_is_exactly_once(spark, sf_dir, scratch_dirs):
    """The streaming CDC apply must survive a foreachBatch REPLAY (the
    crash-between-write-and-checkpoint case) without double-counting:
    re-running the drained query's batches against the SAME table via
    recorded batch ids leaves totals identical to the batch oracle."""
    from go_mapreduce_spark.sources.registry import load_table

    out = LH.x151_stream_lakehouse_upsert(spark, sf_dir)
    got = {(r.user_id, r.n_events, r.total_value) for r in out.collect()}

    ev = load_table(spark, sf_dir, "events")
    want = {
        (r.user_id, r.n_events, r.total_value)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 4
            ).alias("total_value"),
        )
        .collect()
    }
    assert got == want

    # simulate the crash-replay: re-apply a merge under batch 0's
    # already-recorded id — version AND state must not move
    root = os.path.join(scratch_dirs["x151"], "table")
    v = LH.current_version(root)
    before = {tuple(r) for r in LH.read_table(spark, root).collect()}
    replay = spark.createDataFrame(
        [(1, 10, 999.0, "upsert")],
        "user_id long, n_events long, total_value double, _op string",
    ).withColumn("total_value", F.col("total_value").cast("decimal(38,6)"))
    assert LH.merge_table(spark, replay, root, batch_id="b0") == v
    assert {tuple(r) for r in LH.read_table(spark, root).collect()} == before


# ---------------------------------------------------------------------------
# wave 16: table services — CDC diff, OPTIMIZE, VACUUM
# ---------------------------------------------------------------------------


def test_table_changes_classifies_all_three(spark, table):
    updates = spark.createDataFrame(
        [
            (5, "UP", 999.0, "upsert"),
            (200, "NEW", 1.0, "upsert"),
            (7, "x", 0.0, "delete"),
        ],
        "k long, s string, v double, _op string",
    )
    LH.merge_table(spark, updates, table, batch_id="c1")
    got = {
        (r.change, r.k): (r.old_v, r.new_v)
        for r in LH.table_changes(spark, table, 1, 2).collect()
    }
    assert got == {
        ("update", 5): (50.0, 999.0),
        ("insert", 200): (None, 1.0),
        ("delete", 7): (70.0, None),
    }
    # unchanged rows never appear
    assert len(got) == 3


def test_optimize_compacts_preserving_content_and_history(spark, table):
    before = _rows(spark, table)
    m1 = LH.read_manifest(table)
    assert len(m1["files"]) > 1
    v = LH.optimize_table(spark, table, target_rows=1000)
    assert v == 2
    m2 = LH.read_manifest(table)
    assert len(m2["files"]) == 1  # 100 rows « target → one file
    assert m2["op"] == "optimize"
    assert _rows(spark, table) == before
    # time travel to the pre-OPTIMIZE layout still works
    assert _rows(spark, table, version=1) == before
    # key-range stats survive (MERGE pruning stays effective)
    e = m2["files"][0]
    assert e["min_key"] == 1 and e["max_key"] == 100 and e["rows"] == 100


def test_optimize_carries_large_files_by_reference(spark, table):
    m1 = LH.read_manifest(table)
    # every existing file is "large" under a tiny target → no-op
    v = LH.optimize_table(spark, table, target_rows=1)
    assert v == 1
    assert LH.read_manifest(table)["files"] == m1["files"]


def test_vacuum_drops_old_versions_keeps_current(spark, table):
    before = _rows(spark, table)
    LH.optimize_table(spark, table, target_rows=1000)  # v2 rewrites all
    removed = LH.vacuum_table(table, keep_versions=1)
    assert removed, "v1's files are unreferenced by v2 and must go"
    for p in removed:
        assert not os.path.exists(os.path.join(table, p))
    # current snapshot intact
    assert _rows(spark, table) == before
    # vacuumed history is gone
    with pytest.raises(FileNotFoundError):
        LH.read_manifest(table, 1)


def test_vacuum_never_touches_files_referenced_by_retained_versions(
    spark, table
):
    # append shares v1's files with v2; vacuuming to keep only v2 must
    # delete v1's manifest but none of its (still referenced) files
    extra = spark.createDataFrame([(500, "a", 1.0)], "k long, s string, v double")
    LH.append_table(spark, extra, table)
    before = _rows(spark, table)
    removed = LH.vacuum_table(table, keep_versions=1)
    assert removed == []
    assert _rows(spark, table) == before


def test_incremental_mv_equals_recompute_each_step(spark, sf_dir):
    root = LH.ensure_demo_table(spark, sf_dir)
    mv = LH._mv_of(LH.read_table(spark, root, 1))
    for a, b in ((1, 2), (2, 3)):
        mv = LH.refresh_mv_incremental(
            spark, mv, LH.table_changes(spark, root, a, b)
        )
        want = {
            (r.o_orderstatus, r.n_orders, r.total_dec)
            for r in LH._mv_of(LH.read_table(spark, root, b)).collect()
        }
        got = {(r.o_orderstatus, r.n_orders, r.total_dec) for r in mv.collect()}
        assert got == want, f"incremental != recompute at v{b}"


def test_incremental_mv_handles_group_moves_and_zero_groups(spark, table):
    # k=5 moves group s2 → UP; all of s0's rows (k%3==0) get deleted →
    # the s0 group must vanish from the MV entirely
    deletes = [(k, "x", 0.0, "delete") for k in range(3, 101, 3)]
    updates = spark.createDataFrame(
        [(5, "UP", 999.0, "upsert")] + deletes,
        "k long, s string, v double, _op string",
    )
    LH.merge_table(spark, updates, table, batch_id="mv1")
    mv0 = LH._mv_of(LH.read_table(spark, table, 1), group_col="s", val_col="v")
    mv1 = LH.refresh_mv_incremental(
        spark,
        mv0,
        LH.table_changes(spark, table, 1, 2),
        group_col="s",
        val_col="v",
    )
    want = {
        (r.s, r.n_orders, r.total_dec)
        for r in LH._mv_of(
            LH.read_table(spark, table, 2), group_col="s", val_col="v"
        ).collect()
    }
    got = {(r.s, r.n_orders, r.total_dec) for r in mv1.collect()}
    assert got == want
    groups = {g for g, _, _ in got}
    assert "UP" in groups and "s0" not in groups


def test_read_appends_skips_optimize_and_never_double_counts(spark, table):
    b1 = spark.createDataFrame(
        [(200 + i, "a", float(i)) for i in range(10)], "k long, s string, v double"
    )
    LH.append_table(spark, b1, table, batch_id="r1")        # v2
    LH.optimize_table(spark, table, target_rows=10_000)     # v3 rewrites all
    b2 = spark.createDataFrame(
        [(300 + i, "b", float(i)) for i in range(5)], "k long, s string, v double"
    )
    LH.append_table(spark, b2, table, batch_id="r2")        # v4
    got = {r.k for r in LH.read_appends(spark, table, from_version=1).collect()}
    # exactly the 15 appended keys — v1's 100 rows (rewritten by the
    # OPTIMIZE between the appends) must not bleed in
    assert got == {200 + i for i in range(10)} | {300 + i for i in range(5)}


def test_read_appends_refuses_merge_windows(spark, table):
    upd = spark.createDataFrame(
        [(5, "UP", 1.0, "upsert")], "k long, s string, v double, _op string"
    )
    LH.merge_table(spark, upd, table, batch_id="m1")
    with pytest.raises(ValueError, match="table_changes"):
        LH.read_appends(spark, table, from_version=1)


def test_read_appends_empty_window(spark, table):
    assert LH.read_appends(spark, table, from_version=1).count() == 0


def test_wap_publish_counts_as_an_append_for_incremental_reads(spark, table):
    """A published WAP branch adds files the way an append does: the
    batch incremental read and the x215 stream reader both return the
    appended keys plus the published ones."""
    from go_mapreduce_spark.sources.pydatasource import LakehouseStreamReader

    cols = "k long, s string, v double"
    appended = spark.createDataFrame([(200 + i, "a", 1.0) for i in range(5)], cols)
    LH.append_table(spark, appended, table, batch_id="a1")  # v2
    staged = spark.createDataFrame([(300 + i, "w", 2.0) for i in range(7)], cols)
    LH.stage_append(spark, staged, table, "audit", batch_id="w1")
    assert LH.publish_branch(spark, table, "audit") == 3
    want = {200 + i for i in range(5)} | {300 + i for i in range(7)}
    assert {r.k for r in LH.read_appends(spark, table, from_version=1).collect()} == want

    rdr = LakehouseStreamReader(LH.read_table(spark, table).schema, {"path": table})
    streamed = [
        k
        for part in rdr.partitions({"version": 1}, {"version": 3})
        for batch in rdr.read(part)
        for k in batch.to_pydict()["k"]
    ]
    assert sorted(streamed) == sorted(want)


@pytest.mark.parametrize("key_type", ["bigint", "int", "string"])
def test_manifest_stats_match_a_per_file_recompute(spark, tmp_path, key_type):
    """Each file's row count, key range and Bloom bits come from one
    aggregate at write time; each must equal a recompute over that
    file alone, for every key type the Bloom hash tells apart."""
    key = {
        "bigint": F.col("id") * 4,
        "int": (F.col("id") * 4).cast("int"),
        "string": F.format_string("key_%05d", F.col("id")),
    }[key_type]
    root = str(tmp_path / key_type)
    df = spark.range(200).select(key.alias("k"), F.col("id").alias("val"))
    LH.create_table(spark, df, root, "k")
    m = LH.read_manifest(root)
    assert len(m["files"]) >= 2
    per_file = {
        os.path.basename(r["f"]): r
        for r in LH.read_table(spark, root)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("k").alias("lo"),
            F.max("k").alias("hi"),
            F.collect_list("k").alias("keys"),
        )
        .collect()
    }
    assert len(per_file) == len(m["files"])
    for e in m["files"]:
        r = per_file[os.path.basename(e["path"])]
        assert (e["rows"], e["min_key"], e["max_key"]) == (r["rows"], r["lo"], r["hi"])
        bits = 0
        for positions in LH._probe_positions(spark, m, r["keys"]).values():
            for p in positions:
                bits |= 1 << p
        assert e["bloom"] == f"{bits:x}"


def test_create_table_job_ceiling(spark, sf_dir, tmp_path):
    """A create runs the range-partitioned write and ONE stats
    aggregate (row count, key range and Bloom bits together), not a
    second scan of the new files for the Bloom filters."""
    from go_mapreduce_spark.sources.registry import load_table
    from tests.conftest import run_counted

    orders = load_table(spark, sf_dir, "orders").select(*LH._DEMO_COLS)
    df = orders.filter(F.col("o_orderkey") % 4 == 0)
    root = str(tmp_path / "t")
    jobs, _ = run_counted(spark, lambda: LH.create_table(spark, df, root, "o_orderkey"))
    assert len(jobs) <= 6, len(jobs)


def test_x367_job_ceiling(spark, sf_dir):
    """x367 writes three times (create and two stagings); each write
    scans its new files once for stats."""
    from tests.conftest import run_counted

    jobs, _ = run_counted(spark, lambda: LH.x367_wap_publish(spark, sf_dir).collect())
    assert len(jobs) <= 27, len(jobs)


def test_append_schema_evolution_additive(spark, table):
    evolved = spark.createDataFrame(
        [(500, "n", 5.0, "tag1")], "k long, s string, v double, tag string"
    )
    # without opt-in: refuse rather than silently drop at read time
    with pytest.raises(ValueError, match="merge_schema"):
        LH.append_table(spark, evolved, table, batch_id="e0")
    LH.append_table(spark, evolved, table, batch_id="e1", merge_schema=True)
    t = LH.read_table(spark, table)
    assert "tag" in t.columns
    rows = {r.k: r.tag for r in t.collect()}
    assert rows[500] == "tag1"
    assert rows[1] is None  # old files read with NULL backfill
    # dropping columns is a rewrite, not an append
    narrower = spark.createDataFrame([(600, "n")], "k long, s string")
    with pytest.raises(ValueError, match="missing"):
        LH.append_table(spark, narrower, table, batch_id="e2", merge_schema=True)


def test_optimize_zorder_tightens_both_dimensions(spark, tmp_path):
    root = str(tmp_path / "z")
    # a cycles fast, b slow: key-sorted files span ALL of a
    df = spark.createDataFrame(
        [(k, k % 32, (k // 32) % 32) for k in range(1024)],
        "k long, a int, b int",
    )
    LH.create_table(spark, df, root, key_col="k")

    def spreads(version):
        m = LH.read_manifest(root, version)
        out = []
        for e in m["files"]:
            f = spark.read.parquet(os.path.join(root, e["path"]))
            r = f.agg(
                (F.max("a") - F.min("a")).alias("sa"),
                (F.max("b") - F.min("b")).alias("sb"),
            ).first()
            out.append((r.sa, r.sb))
        return out

    key_spreads = spreads(1)
    assert all(sa == 31 for sa, _ in key_spreads), "key layout spans all of a"
    before = {(r.k, r.a, r.b) for r in LH.read_table(spark, root).collect()}
    LH.optimize_table(spark, root, target_rows=256, zorder_cols=["a", "b"])
    z_spreads = spreads(2)
    # both dimensions bounded strictly below full range in every file
    assert all(sa < 31 and sb < 31 for sa, sb in z_spreads), z_spreads
    # content identical, history preserved
    assert {(r.k, r.a, r.b) for r in LH.read_table(spark, root).collect()} == before
    assert {(r.k, r.a, r.b) for r in LH.read_table(spark, root, 1).collect()} == before


# ---------------------------------------------------------------------------
# deletion vectors (merge-on-read DELETE)
# ---------------------------------------------------------------------------


def _dv_table(spark, tmp_path):
    import go_mapreduce_spark.lakehouse as lh

    root = str(tmp_path / "dv_tbl")
    df = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B", float(i * 10)) for i in range(1, 21)],
        "o_orderkey bigint, o_orderstatus string, o_totalprice double",
    )
    lh.create_table(spark, df, root, key_col="o_orderkey")
    return lh, root


def test_dv_delete_hides_rows_without_rewriting_files(spark, tmp_path):
    from pyspark.sql import functions as F

    lh, root = _dv_table(spark, tmp_path)
    files_v1 = {e["path"] for e in lh.read_manifest(root)["files"]}
    lh.delete_table(spark, root, F.col("o_orderkey") % 5 == 0)
    m = lh.read_manifest(root)
    assert m["op"] == "delete"
    # data files untouched — only a key-list file was added
    assert {e["path"] for e in m["files"]} == files_v1
    assert len(m["deletes"]) == 1 and m["deletes"][0]["rows"] == 4
    keys = {r.o_orderkey for r in lh.read_table(spark, root).collect()}
    assert keys == {i for i in range(1, 21) if i % 5 != 0}
    # time travel to v1 still sees everything
    assert lh.read_table(spark, root, version=1).count() == 20


def test_delete_table_job_ceiling(spark, tmp_path):
    """A delete writes its key-list file and takes the row count from
    that file's footer, without a second scan of the file."""
    from pyspark.sql import functions as F

    from tests.conftest import run_counted

    lh, root = _dv_table(spark, tmp_path)
    jobs, _ = run_counted(spark, lambda: lh.delete_table(spark, root, F.col("o_orderkey") % 5 == 0))
    assert lh.read_manifest(root)["deletes"][0]["rows"] == 4
    assert len(jobs) <= 1, len(jobs)


def test_dv_optimize_materializes_and_clears_vectors(spark, tmp_path):
    from pyspark.sql import functions as F

    lh, root = _dv_table(spark, tmp_path)
    lh.delete_table(spark, root, F.col("o_orderkey") <= 3)
    before = {
        (r.o_orderkey, r.o_totalprice)
        for r in lh.read_table(spark, root).collect()
    }
    v = lh.optimize_table(spark, root, target_rows=1000)
    m = lh.read_manifest(root)
    assert v == 3 and m.get("deletes", []) == []
    after = {
        (r.o_orderkey, r.o_totalprice)
        for r in lh.read_table(spark, root).collect()
    }
    assert after == before
    # materialized files genuinely exclude the deleted keys
    assert sum(e["rows"] for e in m["files"]) == 17


def test_dv_merge_refuses_pending_vectors(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    lh, root = _dv_table(spark, tmp_path)
    lh.delete_table(spark, root, F.col("o_orderkey") == 1)
    batch = spark.createDataFrame(
        [(2, "A", 999.0, "upsert")],
        "o_orderkey bigint, o_orderstatus string, o_totalprice double, _op string",
    )
    with pytest.raises(ValueError, match="deletion vectors"):
        lh.merge_table(spark, batch, root, batch_id="bx")
    # after materialization the merge goes through
    lh.optimize_table(spark, root, target_rows=1000)
    lh.merge_table(spark, batch, root, batch_id="bx")
    rows = {r.o_orderkey: r.o_totalprice for r in lh.read_table(spark, root).collect()}
    assert rows[2] == 999.0 and 1 not in rows


def test_dv_vacuum_respects_delete_files(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    lh, root = _dv_table(spark, tmp_path)
    lh.delete_table(spark, root, F.col("o_orderkey") % 2 == 0)  # v2
    dv_path = lh.read_manifest(root)["deletes"][0]["path"]
    # retain v2 only: its delete file must survive vacuum
    lh.vacuum_table(root, keep_versions=1)
    assert os.path.exists(os.path.join(root, dv_path))
    assert lh.read_table(spark, root).count() == 10
    # materialize, then vacuum to the DV-free snapshot: the key-list
    # file is no longer referenced and gets reaped
    lh.optimize_table(spark, root, target_rows=1000)  # v3
    removed = lh.vacuum_table(root, keep_versions=1)
    assert dv_path in removed
    assert not os.path.exists(os.path.join(root, dv_path))
    assert lh.read_table(spark, root).count() == 10


def test_dv_append_carries_vectors_forward(spark, tmp_path):
    from pyspark.sql import functions as F

    lh, root = _dv_table(spark, tmp_path)
    lh.delete_table(spark, root, F.col("o_orderkey") == 7)
    extra = spark.createDataFrame(
        [(100, "C", 1.0)],
        "o_orderkey bigint, o_orderstatus string, o_totalprice double",
    )
    lh.append_table(spark, extra, root)
    keys = {r.o_orderkey for r in lh.read_table(spark, root).collect()}
    assert 7 not in keys and 100 in keys and len(keys) == 20


def test_dv_reinserted_key_is_live(spark, tmp_path):
    """Iceberg sequence-number semantics: a vector only hides rows in
    files that existed when the delete was committed.  A key appended
    AFTERWARDS is a legitimate re-insert and must be visible — both in
    merge-on-read snapshots and after OPTIMIZE materializes the
    vectors."""
    from pyspark.sql import functions as F

    lh, root = _dv_table(spark, tmp_path)
    lh.delete_table(spark, root, F.col("o_orderkey") == 7)  # v2
    reinsert = spark.createDataFrame(
        [(7, "C", 77.0)],
        "o_orderkey bigint, o_orderstatus string, o_totalprice double",
    )
    lh.append_table(spark, reinsert, root)  # v3: re-inserts key 7
    rows = {r.o_orderkey: r.o_totalprice for r in lh.read_table(spark, root).collect()}
    assert rows.get(7) == 77.0, "re-inserted key hidden by a stale vector"
    assert len(rows) == 20
    # the OLD row stays deleted: exactly one row for key 7
    assert lh.read_table(spark, root).where("o_orderkey = 7").count() == 1
    # materialization preserves the same snapshot
    lh.optimize_table(spark, root, target_rows=1000)
    m = lh.read_manifest(root)
    assert m.get("deletes", []) == []
    rows2 = {r.o_orderkey: r.o_totalprice for r in lh.read_table(spark, root).collect()}
    assert rows2 == rows


def test_dv_empty_delete_is_noop(spark, tmp_path):
    """A predicate matching no live rows must not commit: a zero-row
    vector would tax every later read with the anti-join and make
    OPTIMIZE rewrite every file for a no-op."""
    from pyspark.sql import functions as F

    lh, root = _dv_table(spark, tmp_path)
    v_before = lh.read_manifest(root)["version"]
    v = lh.delete_table(spark, root, F.col("o_orderkey") > 10_000)
    m = lh.read_manifest(root)
    assert v == v_before and m["version"] == v_before
    assert m.get("deletes", []) == []
    assert lh.read_table(spark, root).count() == 20
    # and optimize over the unchanged table stays a cheap tail repair
    assert lh.optimize_table(spark, root, target_rows=1) == v_before


def test_restore_ledger_suppression_and_prune(spark, tmp_path):
    """A batch appended after the restore target is rolled back in
    data; by default its id stays in the ledger (Delta SetTransaction
    semantics) but is surfaced as suppressed_batch_ids; prune_ledger
    drops it so a redelivery re-applies."""
    root = str(tmp_path / "t")
    df = spark.range(50).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    LH.create_table(spark, df, root, "k")
    extra = spark.range(50, 60).select(F.col("id").alias("k"), F.lit(2).alias("v"))
    LH.append_table(spark, extra, root, batch_id="b7")

    # default: ledger carried forward, suppression recorded
    v = LH.restore_table(root, 1)
    m = LH.read_manifest(root, v)
    assert m["batch_ids"] == ["b7"] and m["suppressed_batch_ids"] == ["b7"]
    # redelivery of b7 is a no-op (idempotency wins over content)
    assert LH.append_table(spark, extra, root, batch_id="b7") == v
    assert LH.read_table(spark, root).count() == 50

    # prune_ledger: suppressed ids dropped, redelivery re-applies
    v2 = LH.restore_table(root, 1, prune_ledger=True)
    m2 = LH.read_manifest(root, v2)
    assert m2["batch_ids"] == [] and m2["suppressed_batch_ids"] == []
    LH.append_table(spark, extra, root, batch_id="b7")
    assert LH.read_table(spark, root).count() == 60
