"""Wave-45 tests: Bloom-index pruning behavior (present keys read few
files, absent keys read none), lookup/full-scan parity, DV fallback."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_x270_present_keys_prune_and_match_full_scan(spark, sf_dir):
    from go_mapreduce_spark import lakehouse as LH

    root = LH.ensure_lookup_demo(spark, sf_dir)
    keys = [
        r[0]
        for r in LH.read_table(spark, root)
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(3)
        .collect()
    ]
    stats = LH.lookup_stats(spark, root, keys)
    assert stats["n_files_total"] >= 2
    # the 3 lowest keys live in the lowest range band: range pruning
    # alone must already exclude most files
    assert stats["n_files_bloom"] <= stats["n_files_range"] < stats["n_files_total"]
    got = sorted(
        tuple(r) for r in LH.lookup_keys(spark, root, keys).collect()
    )
    want = sorted(
        tuple(r)
        for r in LH.read_table(spark, root)
        .filter(F.col("o_orderkey").isin(keys))
        .collect()
    )
    assert got == want and len(got) == len(keys)


def test_x270_absent_keys_read_zero_files(spark, sf_dir):
    from go_mapreduce_spark import lakehouse as LH

    root = LH.ensure_lookup_demo(spark, sf_dir)
    m = LH.read_manifest(root)
    lo = min(e["min_key"] for e in m["files"])
    hi = max(e["max_key"] for e in m["files"])
    # keys INSIDE the global range but absent from the table (demo
    # holds only % 4 == 0 keys): range stats cannot reject them — only
    # the bloom can.  With fpp ~2.5% per (key, file), 5 odd keys
    # should prune to zero files almost surely; allow 1 fp survivor.
    absent = [k for k in range(lo + 1, hi, (hi - lo) // 7) if k % 4 != 0][:5]
    assert absent
    stats = LH.lookup_stats(spark, root, absent)
    assert stats["n_files_range"] >= 1  # range alone would read files
    assert stats["n_files_bloom"] <= 1  # bloom rejects (≤1 fp allowed)
    assert LH.lookup_keys(spark, root, absent).count() == 0


def test_x270_falls_back_correctly_under_deletion_vectors(spark, sf_dir):
    """A table with pending DVs must fall back to the full snapshot
    read — pruning may not skip the vector's file scope."""
    import os
    import shutil
    import tempfile

    from go_mapreduce_spark import lakehouse as LH
    from go_mapreduce_spark.sources.registry import load_table

    root = os.path.join(tempfile.mkdtemp(prefix="gms_w45_"), "t")
    orders = load_table(spark, sf_dir, "orders").select(*LH._DEMO_COLS)
    LH.create_table(
        spark, orders.filter(F.col("o_orderkey") % 4 == 0), root, "o_orderkey"
    )
    keys = [
        r[0]
        for r in LH.read_table(spark, root)
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(4)
        .collect()
    ]
    LH.delete_table(spark, root, F.col("o_orderkey") == keys[0])
    got = sorted(r[0] for r in LH.lookup_keys(spark, root, keys).collect())
    assert got == sorted(keys[1:])  # deleted key invisible, rest intact
    shutil.rmtree(os.path.dirname(root))


def test_lookup_probe_derives_key_type_from_manifest(spark, tmp_path):
    """xxhash64 is type-dependent: the Bloom probe must hash the SAME
    type the write-time Bloom aggregate hashed (the key's native
    parquet type).  Before the round-6 fix the probe hardcoded bigint —
    string keys crashed createDataFrame and int32 keys silently pruned
    EVERY file (a false-negative index)."""
    from go_mapreduce_spark import lakehouse as LH

    # string-keyed table
    sroot = str(tmp_path / "s")
    sdf = spark.range(200).select(
        F.format_string("key_%05d", F.col("id")).alias("k"),
        (F.col("id") * 2).alias("val"),
    )
    LH.create_table(spark, sdf, sroot, "k")
    keys = ["key_00003", "key_00150"]
    got = sorted(r["k"] for r in LH.lookup_keys(spark, sroot, keys).collect())
    assert got == keys
    assert LH.lookup_stats(spark, sroot, keys)["n_files_bloom"] >= 1
    # absent key INSIDE the lexicographic range: only the bloom can reject
    absent = ["key_000031", "key_001509"]
    assert LH.lookup_stats(spark, sroot, absent)["n_files_bloom"] <= 1
    assert LH.lookup_keys(spark, sroot, absent).count() == 0

    # int32-keyed table (hashes differently from bigint under xxhash64)
    iroot = str(tmp_path / "i")
    idf = spark.range(200).select(
        (F.col("id") * 4).cast("int").alias("k"), F.col("id").alias("val")
    )
    LH.create_table(spark, idf, iroot, "k")
    got = sorted(r["k"] for r in LH.lookup_keys(spark, iroot, [8, 400]).collect())
    assert got == [8, 400]
    assert LH.lookup_stats(spark, iroot, [8, 400])["n_files_bloom"] >= 1
    assert LH.lookup_stats(spark, iroot, [9, 11, 13, 15, 17])["n_files_bloom"] <= 1
