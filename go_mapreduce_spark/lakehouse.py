"""Manifest-based transactional table format on plain parquet —
the "MERGE target" gap (round-3 verdict, missing #3) closed with the
two properties a lakehouse actually provides and bare directories
don't: ATOMIC commits with snapshot isolation, and file-level change
tracking (copy-on-write + key-range pruning + time travel).

No Delta/Iceberg runtime exists in this container, so this module
implements the public, storage-level protocol those formats are built
on (see the Delta Lake VLDB'20 paper and the Iceberg spec — both
public):

- A table is a directory of immutable parquet **data files** plus a
  ``_manifests/`` log of JSON **snapshots**.  Readers list NOTHING:
  they read the highest manifest and open exactly the files it names
  — data files not referenced by a committed manifest are invisible,
  so a crash mid-write can never corrupt a snapshot.
- A commit is ONE atomic filesystem operation: the next-version
  manifest is staged to a temp name and published with
  ``os.link(tmp, final)`` — hard-link creation fails with EEXIST if
  the version already exists, which is exactly optimistic concurrency
  control (the loser gets a ``CommitConflict``, not a corrupt log).
  ``os.rename`` would silently overwrite; link-then-unlink is the
  portable atomic-exclusive publish.
- Every manifest carries per-file **key-range stats** (min/max of the
  declared key column + row count).  MERGE uses them to rewrite ONLY
  the files whose key range intersects the incoming batch — the
  untouched 100 TB rides along by reference, never read, never
  rewritten (the file-pruning behavior that makes lakehouse MERGE
  viable at scale; asserted in tests).
- Manifests accumulate applied **batch ids**: replaying an
  already-applied batch is a version-preserving no-op, giving
  exactly-once CDC apply across restarts.
- **Time travel**: ``read_table(..., version=K)`` reads any retained
  snapshot — the audit/debug affordance every warehouse user asks
  for first.

Scale notes: the driver-side work per commit is manifest-sized (one
JSON of file entries — ~1e5 entries for 100 TB of 1 GB files, the
same metadata scale layout.x119 plans for); all data movement is
distributed Spark jobs over ONLY the affected files.  Stats are
gathered with one bounded aggregate over the newly written files
(``input_file_name`` group-by), never by reopening the whole table.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from go_mapreduce_spark import scratch

_MANIFESTS = "_manifests"
_DATA = "data"
_TMP = "_tmp"


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency loss).  Retry against the new snapshot."""


def _manifest_dir(root: str) -> str:
    return os.path.join(root, _MANIFESTS)


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(_manifest_dir(root), f"v{version:05d}.json")


def current_version(root: str) -> int:
    """Highest committed version, or 0 if the table does not exist."""
    d = _manifest_dir(root)
    if not os.path.isdir(d):
        return 0
    vs = [
        int(f[1:6])
        for f in os.listdir(d)
        if f.startswith("v") and f.endswith(".json")
    ]
    return max(vs, default=0)


def read_manifest(root: str, version: int | None = None) -> dict:
    v = version if version is not None else current_version(root)
    if v == 0:
        raise FileNotFoundError(f"no committed snapshot in {root}")
    with open(_manifest_path(root, v)) as f:
        return json.load(f)


def _commit(root: str, manifest: dict) -> int:
    """Atomically publish ``manifest`` as the next version.

    The hard link is the commit point: creation is atomic and fails
    with EEXIST when a concurrent writer won the race — no torn or
    overwritten manifests, ever.
    """
    os.makedirs(_manifest_dir(root), exist_ok=True)
    version = manifest["version"]
    final = _manifest_path(root, version)
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    try:
        os.link(tmp, final)
    except FileExistsError as e:
        raise CommitConflict(
            f"version {version} already committed in {root}"
        ) from e
    finally:
        os.unlink(tmp)
    return version


_CARRIED = ("key_col", "schema", "files", "deletes", "batch_ids")
# the parent of a table's first version
_NO_TABLE = {"version": 0, "files": [], "batch_ids": []}


def _commit_next(
    root: str, parent: dict, op: str, batch_id: str | None = None, **fields
) -> int:
    """Commit the version after ``parent`` as ``op``.  The new
    manifest carries over the parent's ``key_col``, ``schema``,
    ``files``, ``deletes`` and ``batch_ids``; ``fields`` replaces or
    adds entries, and ``batch_id`` (if given) joins the ledger."""
    m = {k: parent[k] for k in _CARRIED if k in parent}
    m.update(fields, version=parent["version"] + 1, parent=parent["version"], op=op)
    m.setdefault("deletes", [])
    if batch_id:
        m["batch_ids"] = m["batch_ids"] + [batch_id]
    return _commit(root, m)


# Per-file key Bloom filters (manifest-level data-skipping index):
# BLOOM_M bits, BLOOM_K xxhash64 seeds.  Internal to this engine (the
# same Spark expressions build and probe them), so xxhash64 — the
# cheap JVM hash — is fine; cross-engine determinism is not required
# for an INDEX, only for query results.  ~1 KB/file hex in the
# manifest; fpp ≈ (1 − e^(−K·n/M))^K ≈ 2.5% at 1k keys/file.
BLOOM_M = 8192
BLOOM_K = 3


def _bloom_positions(key) -> list:
    """The ``BLOOM_K`` bit positions of ``key`` (a column); the writer
    that builds the filters and the probe that reads them share it."""
    return [
        F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(BLOOM_M))
        for seed in range(BLOOM_K)
    ]


def _bloom_may_contain(bloom_hex: str | None, positions: list[int]) -> bool:
    """Driver-side probe: all K positions set ⇒ maybe present; any
    clear ⇒ DEFINITELY absent.  Entries without a bloom (legacy
    manifests, delete-vector key lists) always 'may contain'."""
    if not bloom_hex:
        return True
    bits = int(bloom_hex, 16)
    return all((bits >> p) & 1 for p in positions)


def lookup_keys(
    spark: SparkSession, root: str, keys: list, version: int | None = None
) -> DataFrame:
    """Point lookup with manifest-level pruning: candidate files are
    those whose [min_key, max_key] band covers a probe key AND whose
    Bloom filter admits it — at 100 TB this is the difference between
    reading ~1 file and scanning the table for a needle query.
    Falls back to the full snapshot read when deletion vectors are
    pending (correctness over pruning), since a pruned read cannot
    see a vector scoped to an unread file set.

    Returns the matching rows; pruning statistics are observable via
    :func:`lookup_stats` (same planning, no read).
    """
    m = read_manifest(root, version)
    if any(d.get("rows", 1) > 0 for d in m.get("deletes", [])):
        key = m["key_col"]
        return read_table(spark, root, version=version).filter(
            F.col(key).isin(*keys)
        )
    survivors = lookup_stats(spark, root, keys, version)["files"]
    key = m["key_col"]
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(m["schema"]))
    if not survivors:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .parquet(*[os.path.join(root, p) for p in survivors])
        .filter(F.col(key).isin(*keys))
    )


def _probe_positions(spark: SparkSession, m: dict, keys: list) -> dict:
    """Bloom bit positions per probe key for the table of manifest
    ``m``.  xxhash64 is type-dependent (int32 and int64 values hash
    differently), so the keys take the key column's type from the
    manifest schema, the type the filters were built from — a
    hardcoded bigint probe would prune every file of a string or int32
    keyed table."""
    from pyspark.sql.types import StructField, StructType

    key_type = StructType.fromJson(json.loads(m["schema"]))[m["key_col"]].dataType
    probe = spark.createDataFrame(
        [(k,) for k in keys], StructType([StructField("k", key_type)])
    ).select("k", *_bloom_positions(F.col("k")))
    return {r[0]: list(r[1:]) for r in probe.collect()}


def lookup_stats(
    spark: SparkSession, root: str, keys: list, version: int | None = None
) -> dict:
    """Planning-only half of :func:`lookup_keys`: which files survive
    range pruning, and of those, which survive the Bloom probe."""
    m = read_manifest(root, version)
    pos_by_key = _probe_positions(spark, m, keys)
    n_total = len(m["files"])
    range_hit, bloom_hit = [], []
    for e in m["files"]:
        in_range = [
            k
            for k in keys
            if e.get("min_key") is None
            or (e["min_key"] <= k <= e["max_key"])
        ]
        if not in_range:
            continue
        range_hit.append(e["path"])
        if any(_bloom_may_contain(e.get("bloom"), pos_by_key[k]) for k in in_range):
            bloom_hit.append(e["path"])
    return {
        "n_files_total": n_total,
        "n_files_range": len(range_hit),
        "n_files_bloom": len(bloom_hit),
        "files": bloom_hit,
    }


def _write_data_files(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    version: int,
    key_col: str,
    n_files: int = 4,
    order_expr=None,
) -> list[dict]:
    """Write ``df`` as immutable data files for ``version``; return
    manifest file entries with key-range stats.

    Files are range-partitioned and sorted on the key so each file
    covers a tight key band — that is what makes the min/max pruning
    in :func:`merge_table` effective (a random layout would overlap
    every file with every batch).  ``order_expr`` overrides the
    physical clustering column (e.g. a Morton code for z-ordered
    OPTIMIZE); key-range STATS always stay on ``key_col``, honestly
    reflecting whatever banding the chosen order gives it.  Row
    count, key range and Bloom bits come from ONE aggregate over the
    just-written files, grouped by ``input_file_name`` (each position
    set holds at most ``BLOOM_M`` values per file — a manifest-sized
    collect), assembled into hex bitsets on the driver.
    """
    stage = os.path.join(root, _TMP, f"v{version:05d}")
    if os.path.isdir(stage):
        shutil.rmtree(stage)
    if order_expr is not None:
        clustered = (
            df.withColumn("_gms_order", order_expr)
            .repartitionByRange(n_files, "_gms_order")
            .sortWithinPartitions("_gms_order")
            .drop("_gms_order")
        )
    else:
        clustered = df.repartitionByRange(n_files, key_col).sortWithinPartitions(
            key_col
        )
    clustered.write.mode("overwrite").parquet(stage)
    data_dir = os.path.join(root, _DATA)
    os.makedirs(data_dir, exist_ok=True)
    entries: list[dict] = []
    moved = []
    for i, fn in enumerate(sorted(os.listdir(stage))):
        if not fn.endswith(".parquet"):
            continue
        dst = f"v{version:05d}-{i:05d}.parquet"
        os.rename(os.path.join(stage, fn), os.path.join(data_dir, dst))
        moved.append(dst)
    shutil.rmtree(stage)
    if not moved:
        return []
    positions = _bloom_positions(F.col(key_col))
    stats = (
        spark.read.parquet(*[os.path.join(data_dir, m) for m in moved])
        .groupBy(F.input_file_name().alias("_f"))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(key_col).alias("min_key"),
            F.max(key_col).alias("max_key"),
            *[F.collect_set(p).alias(f"_p{i}") for i, p in enumerate(positions)],
        )
        .collect()
    )
    by_name = {os.path.basename(r["_f"]): r for r in stats}
    for m in moved:
        r = by_name.get(m)
        if r is None:  # empty range partition produced an empty file
            continue
        bits = 0
        for i in range(BLOOM_K):
            for p in r[f"_p{i}"]:
                bits |= 1 << p
        entries.append(
            {
                "path": f"{_DATA}/{m}",
                "rows": r["rows"],
                "min_key": r["min_key"],
                "max_key": r["max_key"],
                "bloom": f"{bits:x}",
            }
        )
    return entries


def create_table(
    spark: SparkSession, df: DataFrame, root: str, key_col: str
) -> int:
    """Create a table at ``root`` from ``df`` (version 1)."""
    if current_version(root) != 0:
        raise FileExistsError(f"table already exists at {root}")
    os.makedirs(root, exist_ok=True)
    files = _write_data_files(spark, df, root, 1, key_col)
    return _commit_next(
        root, _NO_TABLE, "create", key_col=key_col, schema=df.schema.json(), files=files
    )


_FILE_VERSION_RE = re.compile(r"^v(\d{5})")


def _file_version(path: str) -> int:
    """The commit version that introduced a data file (encoded in its
    name by ``_write_data_files``) — the sequence number equality
    deletes are scoped by."""
    mt = _FILE_VERSION_RE.match(os.path.basename(path))
    return int(mt.group(1)) if mt else 0


def read_table(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: exactly the files the manifest names (any
    retained ``version`` — time travel)."""
    from pyspark.sql.types import StructType

    m = read_manifest(root, version)
    paths = [os.path.join(root, e["path"]) for e in m["files"]]
    schema = StructType.fromJson(json.loads(m["schema"]))
    if not paths:
        return spark.createDataFrame([], schema)
    dels = [d for d in m.get("deletes", []) if d.get("rows", 1) > 0]
    if not dels:
        return spark.read.schema(schema).parquet(*paths)
    # merge-on-read with Iceberg equality-delete SEQUENCE semantics: a
    # vector applies only to rows in files introduced at or before the
    # snapshot it was computed against (``applies_to_version``) — a key
    # legitimately RE-INSERTED by a later append is live, not hidden.
    # Files group by their applicable-vector set (few groups: delete
    # count × append count is manifest-sized); each group anti-joins
    # its own key lists (key-only files, tiny vs data — AQE broadcasts)
    key = m["key_col"]
    groups: dict[tuple, list[str]] = {}
    for e in m["files"]:
        vf = _file_version(e["path"])
        applicable = tuple(
            d["path"]
            for d in dels
            # legacy entries without the field keep the old global scope
            if vf <= d.get("applies_to_version", 10**9)
        )
        groups.setdefault(applicable, []).append(e["path"])
    parts = []
    for applicable, gpaths in sorted(groups.items()):
        part = spark.read.schema(schema).parquet(
            *[os.path.join(root, p) for p in gpaths]
        )
        if applicable:
            dkeys = spark.read.parquet(
                *[os.path.join(root, p) for p in applicable]
            ).select(key)
            part = part.join(dkeys, key, "left_anti")
        parts.append(part)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def append_table(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    batch_id: str | None = None,
    merge_schema: bool = False,
) -> int:
    """Append-only commit: new files + every parent file by reference.

    Schema evolution is ADDITIVE and opt-in: with ``merge_schema``,
    columns ``df`` carries beyond the table schema widen the manifest
    schema (appended at the end); existing data files are untouched —
    schema-on-read fills the new columns with NULL for old files, the
    same mechanism Delta/Iceberg use.  Without it, any column-set
    mismatch raises instead of silently dropping data at read time
    (the failure mode of writing mismatched parquet under a fixed
    read schema).  Dropping or retyping columns is not supported —
    that is a rewrite, not an append.
    """
    from pyspark.sql.types import StructType

    m = read_manifest(root)
    if batch_id is not None and batch_id in m["batch_ids"]:
        return m["version"]
    schema = StructType.fromJson(json.loads(m["schema"]))
    table_cols = {f.name for f in schema.fields}
    df_cols = {f.name for f in df.schema.fields}
    out_schema = m["schema"]
    if df_cols != table_cols:
        extra, missing = df_cols - table_cols, table_cols - df_cols
        if not merge_schema or missing:
            raise ValueError(
                f"append schema mismatch (extra={sorted(extra)}, "
                f"missing={sorted(missing)}); pass merge_schema=True to "
                "add new columns (additive evolution only)"
            )
        out_schema = StructType(
            schema.fields
            + [f for f in df.schema.fields if f.name in extra]
        ).json()
    files = _write_data_files(spark, df, root, m["version"] + 1, m["key_col"])
    return _commit_next(
        root, m, "append", batch_id, schema=out_schema, files=m["files"] + files
    )


def merge_table(
    spark: SparkSession,
    updates: DataFrame,
    root: str,
    batch_id: str | None = None,
    op_col: str = "_op",
) -> int:
    """MERGE a CDC batch into the table: rows matching on the key are
    replaced (``_op = 'upsert'``) or removed (``_op = 'delete'``);
    unmatched upserts insert.  ``updates`` carries the table schema
    plus the ``_op`` column.

    Copy-on-write with file pruning: only data files whose
    [min_key, max_key] intersects the batch's key range are read and
    rewritten; every other file carries into the new snapshot BY
    REFERENCE.  Re-applying an already-recorded ``batch_id`` is a
    version-preserving no-op (exactly-once CDC apply).
    """
    m = read_manifest(root)
    if batch_id is not None and batch_id in m["batch_ids"]:
        return m["version"]
    if m.get("deletes"):
        raise ValueError(
            "table has pending deletion vectors; run optimize_table() to "
            "materialize them before MERGE (copy-on-write MERGE carries "
            "non-overlapping files by reference and would resurrect "
            "DV-deleted rows in them)"
        )
    key = m["key_col"]
    bounds = updates.agg(
        F.min(key).alias("lo"), F.max(key).alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    if lo is None:  # empty batch: commit only the batch id
        return _commit_next(root, m, "merge", batch_id)

    affected = [
        e for e in m["files"] if not (e["max_key"] < lo or e["min_key"] > hi)
    ]
    carried = [
        e for e in m["files"] if (e["max_key"] < lo or e["min_key"] > hi)
    ]
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(m["schema"]))
    if affected:
        base = spark.read.schema(schema).parquet(
            *[os.path.join(root, e["path"]) for e in affected]
        )
    else:
        base = spark.createDataFrame([], schema)

    data_cols = [f.name for f in schema.fields]
    u = updates.select(
        F.col(key).alias("_uk"),
        F.col(op_col).alias("_uop"),
        *[F.col(c).alias(f"_u_{c}") for c in data_cols if c != key],
    )
    merged = (
        base.join(u, base[key] == u["_uk"], "full_outer")
        .where(F.coalesce(F.col("_uop"), F.lit("keep")) != "delete")
        .select(
            *[
                F.coalesce(F.col("_uk"), F.col(key)).alias(key)
                if c == key
                else F.when(F.col("_uop") == "upsert", F.col(f"_u_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                for c in data_cols
            ]
        )
    )
    new_files = _write_data_files(spark, merged, root, m["version"] + 1, key)
    return _commit_next(root, m, "merge", batch_id, files=carried + new_files)


def delete_table(spark: SparkSession, root: str, condition) -> int:
    """Merge-on-read DELETE: rows matching ``condition`` are removed
    from subsequent reads WITHOUT rewriting any data file — the
    deletion-vector mechanism (Delta DVs / Iceberg equality deletes).

    The commit writes only a key-list file (the keys of currently
    live rows matching the predicate) and records it under the
    manifest's ``deletes``; ``read_table`` subtracts it with an
    anti-join.  The trade vs copy-on-write MERGE is the classic one:
    deletes become O(matched keys) instead of O(rewritten files) —
    the right shape for small scattered deletes (GDPR erasure across
    a 100 TB table touches every file's key range) — while reads pay
    the anti-join until ``optimize_table`` materializes the vectors.
    MERGE refuses to run over pending vectors (it would carry
    unpruned files by reference and resurrect their deleted rows);
    ``read_appends`` refuses delete commits (:func:`added_files`).

    Each vector records ``applies_to_version`` — the snapshot it was
    computed against — so it only ever hides rows in files that
    existed THEN (Iceberg sequence-number semantics): a key appended
    after the delete is a legitimate re-insert and stays live.  A
    predicate matching no live rows is a version-preserving no-op —
    committing a zero-row vector would tax every later read with the
    anti-join and make OPTIMIZE rewrite every file for nothing.
    """
    m = read_manifest(root)
    key = m["key_col"]
    version = m["version"] + 1
    keys = read_table(spark, root).where(condition).select(key)
    stage = os.path.join(root, _TMP, f"v{version:05d}_del")
    if os.path.isdir(stage):
        shutil.rmtree(stage)
    keys.coalesce(1).write.mode("overwrite").parquet(stage)
    data_dir = os.path.join(root, _DATA)
    os.makedirs(data_dir, exist_ok=True)
    entries = []
    for fn in sorted(os.listdir(stage)):
        if fn.endswith(".parquet"):
            dst = f"v{version:05d}_del_00000.parquet"
            os.rename(os.path.join(stage, fn), os.path.join(data_dir, dst))
            rows = pq.read_metadata(os.path.join(data_dir, dst)).num_rows
            entries.append(
                {
                    "path": f"{_DATA}/{dst}",
                    "rows": rows,
                    "applies_to_version": m["version"],
                }
            )
            break
    shutil.rmtree(stage)
    if not entries or entries[0]["rows"] == 0:
        for e in entries:
            os.remove(os.path.join(root, e["path"]))
        return m["version"]  # no-op delete: no commit, no read debt
    return _commit_next(root, m, "delete", deletes=m.get("deletes", []) + entries)


# ---------------------------------------------------------------------------
# Declared-query demo scenario (x149/x150)
# ---------------------------------------------------------------------------
# Deterministic CDC history over the orders table:
#   v1 create : all orders with o_orderkey % 4 == 0
#   v2 merge b1: upsert % 8 == 0 at price + 1000.0; insert % 4 == 1 as-is
#   v3 merge b2: delete % 16 == 0; upsert % 4 == 1 at price + 500.0
# Every state is closed-form in o_orderkey arithmetic, so both
# declared queries have exact SQL oracles over the raw orders table.

_DEMO_COLS = ["o_orderkey", "o_orderstatus", "o_totalprice"]


def ensure_demo_table(spark: SparkSession, sf_dir: str) -> str:
    """Build (or reuse) the three-version demo table; returns root."""
    from go_mapreduce_spark.sources.registry import load_table

    def build(root: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(*_DEMO_COLS)
        k = F.col("o_orderkey")
        create_table(
            spark, orders.filter(k % 4 == 0), root, key_col="o_orderkey"
        )
        b1 = (
            orders.filter(k % 8 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
            .unionByName(orders.filter(k % 4 == 1))
            .withColumn("_op", F.lit("upsert"))
        )
        merge_table(spark, b1, root, batch_id="b1")
        b2 = (
            orders.filter(k % 16 == 0)
            .withColumn("_op", F.lit("delete"))
            .unionByName(
                orders.filter(k % 4 == 1)
                .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(500.0))
                .withColumn("_op", F.lit("upsert"))
            )
        )
        merge_table(spark, b2, root, batch_id="b2")

    return scratch.build_once("lakehouse_demo", build, sf_dir)


def x149_lakehouse_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final state of the demo CDC history, aggregated per order
    status — proves the transactional MERGE path end-to-end (create →
    two idempotent batch commits → snapshot read) against a
    closed-form oracle on the raw table."""
    from go_mapreduce_spark.functions.numeric import dsum

    root = ensure_demo_table(spark, sf_dir)
    t = read_table(spark, root)
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(dsum(F.col("o_totalprice"), "sv"), 4).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


def x150_lakehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row count + decimal-exact price total of EVERY retained
    snapshot (versions 1..3) — the time-travel read path, each state
    verified against its closed-form oracle."""
    from go_mapreduce_spark.functions.numeric import dsum

    root = ensure_demo_table(spark, sf_dir)
    parts = []
    for v in range(1, current_version(root) + 1):
        parts.append(
            read_table(spark, root, version=v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_rows"),
                F.round(dsum(F.col("o_totalprice"), "sv"), 4).alias(
                    "total_price"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("version")


def x151_stream_lakehouse_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply INTO the transactional table: the events
    stream drains through ``foreachBatch``; each micro-batch
    aggregates per-user deltas, reads the current snapshot, and
    commits new running totals via :func:`merge_table` with the
    micro-batch id as the batch id.

    A crash between sink write and checkpoint commit makes Structured
    Streaming REPLAY the batch, and the manifest's recorded batch id
    turns the replay into a version-preserving no-op — exactly-once
    totals without a lakehouse runtime, because the commit protocol
    IS the lakehouse's (atomic manifest publish + batch-id ledger).
    Totals accumulate in DECIMAL(38,6), so batch-wise accumulation is
    exact and associative and the final state equals the oracle's one
    global decimal sum bit-for-bit.

    Scale: per batch, one map-side-combined aggregate over the batch,
    one key-range-pruned MERGE against only the overlapping files.
    """
    from go_mapreduce_spark.streaming.events import replay_events

    work = scratch.fresh_dir("x151", sf_dir)
    root = os.path.join(work, "table")
    ckpt = os.path.join(work, "ckpt")
    empty = spark.createDataFrame(
        [], "user_id long, n_events long, total_value decimal(38,6)"
    )
    create_table(spark, empty, root, key_col="user_id")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("d_n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("d_v"),
        )
        cur = read_table(batch_df.sparkSession, root)
        merged = (
            delta.join(cur, "user_id", "left")
            .select(
                "user_id",
                (F.coalesce(F.col("n_events"), F.lit(0)) + F.col("d_n")).alias(
                    "n_events"
                ),
                (
                    F.coalesce(
                        F.col("total_value"),
                        F.lit(0).cast("decimal(38,6)"),
                    )
                    + F.col("d_v")
                )
                .cast("decimal(38,6)")
                .alias("total_value"),
                F.lit("upsert").alias("_op"),
            )
        )
        merge_table(batch_df.sparkSession, merged, root, batch_id=f"b{batch_id}")

    stream = replay_events(spark, sf_dir).select("user_id", "value")
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    t = read_table(spark, root)
    return t.select(
        "user_id",
        "n_events",
        F.round(F.col("total_value").cast("double"), 4).alias("total_value"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# wave 16: table services — CDC diff read, OPTIMIZE, VACUUM
# ---------------------------------------------------------------------------


def table_changes(
    spark: SparkSession, root: str, from_version: int, to_version: int
) -> DataFrame:
    """Row-level change feed between two retained snapshots:
    ``(change ∈ insert|update|delete, key, old/new columns)``.

    The table format is copy-on-write (no per-commit row deltas), so
    the feed is derived the way Delta's ``table_changes`` falls back
    for non-CDF tables: one full-outer join of the two snapshots on
    the table key.  Unchanged rows — the overwhelming majority — are
    dropped by a null-safe column comparison BEFORE anything leaves
    the join, so the output is change-sized.  At 100 TB the join is
    the honest cost of after-the-fact diffing; the streaming CDC path
    (x151) is the forward-looking way to never need it.
    """
    from pyspark.sql.types import StructType

    m = read_manifest(root, to_version)
    key = m["key_col"]
    schema = StructType.fromJson(json.loads(m["schema"]))
    cols = [f.name for f in schema.fields]
    old = read_table(spark, root, from_version).select(
        F.col(key).alias("_ok"), *[F.col(c).alias(f"_o_{c}") for c in cols if c != key]
    )
    new = read_table(spark, root, to_version).select(
        F.col(key).alias("_nk"), *[F.col(c).alias(f"_n_{c}") for c in cols if c != key]
    )
    j = old.join(new, old["_ok"] == new["_nk"], "full_outer")
    same = F.lit(True)
    for c in cols:
        if c != key:
            same = same & F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    change = (
        F.when(F.col("_ok").isNull(), "insert")
        .when(F.col("_nk").isNull(), "delete")
        .when(~same, "update")
    )
    out = j.withColumn("change", change).where(F.col("change").isNotNull())
    return out.select(
        "change",
        F.coalesce(F.col("_ok"), F.col("_nk")).alias(key),
        *[F.col(f"_o_{c}").alias(f"old_{c}") for c in cols if c != key],
        *[F.col(f"_n_{c}").alias(f"new_{c}") for c in cols if c != key],
    )


def optimize_table(
    spark: SparkSession,
    root: str,
    target_rows: int = 100_000,
    zorder_cols: list[str] | None = None,
) -> int:
    """Compact small data files (rows < target) into target-sized
    ones; logical content is bit-identical, history is preserved.

    Small files are compacted TOGETHER through the same
    range-partition-and-sort writer every commit uses, so the new
    files keep tight non-overlapping key bands and MERGE pruning
    stays effective after compaction.  Files already at target carry
    into the new snapshot by reference — OPTIMIZE never rewrites the
    bulk of a 100 TB table, only its small-file tail (driver work is
    manifest-sized; data work is small-file-sized).

    ``zorder_cols`` (exactly two int columns) switches the rewrite to
    Morton-order clustering — and rewrites EVERY file, because
    z-order is a whole-layout decision, not a tail repair.  The trade
    is explicit: per-file ranges TIGHTEN on both z-dimensions (multi-
    column skipping — the win x142 quantifies) while the key column's
    per-file bands LOOSEN, degrading single-key MERGE pruning; the
    manifest's key stats record whatever banding remains, so pruning
    stays CORRECT, just less selective.
    """
    import math

    from pyspark.sql.types import StructType

    m = read_manifest(root)
    # zero-row vectors (legacy manifests) are dropped, not materialized
    dels = [d for d in m.get("deletes", []) if d.get("rows", 1) > 0]
    if zorder_cols is not None:
        if len(zorder_cols) != 2:
            raise ValueError("zorder_cols must name exactly two columns")
        small, keep = list(m["files"]), []
    elif dels:
        # pending deletion vectors: materialize them — EVERY file is
        # rewritten DV-applied (carrying any file by reference would
        # keep its deleted rows), and the vectors drop from the new
        # snapshot.  This is the read-debt repayment OPTIMIZE owes
        # after merge-on-read deletes.
        small, keep = list(m["files"]), []
    else:
        small = [e for e in m["files"] if e["rows"] < target_rows]
        keep = [e for e in m["files"] if e["rows"] >= target_rows]
    if len(small) <= 1 and zorder_cols is None and not dels:
        return m["version"]  # nothing to compact
    schema = StructType.fromJson(json.loads(m["schema"]))
    if dels:
        # with pending vectors, both branches rewrite EVERY file
        # (small == m["files"]); the snapshot read applies each vector
        # with its version scoping, so keys re-inserted after a delete
        # survive materialization exactly as they survive reads
        df = read_table(spark, root)
        # file-stat arithmetic undershoots here: a vector's key list may
        # overlap re-inserted keys (which survive version scoping) or
        # name keys with no live row at all — count the LIVE snapshot
        # instead (one extra job, cheap next to rewriting every file)
        n_rows = df.count()
    else:
        df = spark.read.schema(schema).parquet(
            *[os.path.join(root, e["path"]) for e in small]
        )
        n_rows = sum(e["rows"] for e in small)
    n_files = max(1, math.ceil(n_rows / target_rows))
    order_expr = None
    if zorder_cols is not None:
        from go_mapreduce_spark.operators.layout import _interleave

        a, b = zorder_cols
        order_expr = _interleave(
            F.col(a).cast("bigint"), F.col(b).cast("bigint")
        )
    new_files = _write_data_files(
        spark, df, root, m["version"] + 1, m["key_col"], n_files=n_files,
        order_expr=order_expr,
    )
    # pending vectors are materialized in the rewritten files
    return _commit_next(root, m, "optimize", files=keep + new_files, deletes=[])


def vacuum_table(root: str, keep_versions: int = 1) -> list[str]:
    """Delete manifests older than the newest ``keep_versions`` and
    every data file no retained snapshot references; returns the
    deleted data-file paths.

    Time travel to vacuumed versions stops working — that is the
    retention trade every lakehouse makes; the commit log itself
    stays append-only up to the horizon.  Deletion order is safe
    under concurrent readers of RETAINED versions: manifests go
    first, then files only referenced below the horizon.
    """
    cur = current_version(root)
    horizon = max(1, cur - keep_versions + 1)
    kept_refs: set[str] = set()
    for v in range(horizon, cur + 1):
        mv = read_manifest(root, v)
        kept_refs |= {e["path"] for e in mv["files"] + mv.get("deletes", [])}
    removed: list[str] = []
    for v in range(1, horizon):
        if not os.path.exists(_manifest_path(root, v)):
            continue  # already reaped by an earlier vacuum
        dead = read_manifest(root, v)
        os.unlink(_manifest_path(root, v))
        for e in dead["files"] + dead.get("deletes", []):
            if e["path"] not in kept_refs and e["path"] not in removed:
                removed.append(e["path"])
    for p in removed:
        fp = os.path.join(root, p)
        if os.path.exists(fp):
            os.unlink(fp)
    return removed


def x167_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC diff of the demo history's last commit (v2 → v3): per
    change type, row count and old/new value totals.

    v3's batch deleted ``o_orderkey % 16 == 0`` (which v2 had priced
    at +1000) and re-priced ``% 4 == 1`` by +500 — so the feed is
    closed-form in key arithmetic and the oracle replays it from raw
    orders without touching the table.
    """
    from go_mapreduce_spark.functions.numeric import DECIMAL_T

    root = ensure_demo_table(spark, sf_dir)
    ch = table_changes(spark, root, 2, 3)
    return (
        ch.groupBy("change")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col("old_o_totalprice").cast(DECIMAL_T)).cast("double"), 4
            ).alias("total_old"),
            F.round(
                F.sum(F.col("new_o_totalprice").cast(DECIMAL_T)).cast("double"), 4
            ).alias("total_new"),
        )
        .orderBy("change")
    )


def refresh_mv_incremental(
    spark: SparkSession,
    mv: DataFrame,
    changes: DataFrame,
    group_col: str = "o_orderstatus",
    val_col: str = "o_totalprice",
) -> DataFrame:
    """One incremental-view-maintenance step for a ``(group, count,
    decimal-sum)`` MV: apply a CDC change feed WITHOUT touching the
    base table.

    Each change row contributes a signed delta — the new side +1/+new
    value under its new group, the old side −1/−old value under its
    old group — so updates that MOVE a row between groups maintain
    both.  The delta relation is change-sized; the merge is one
    full-outer join on the group key against the (group-cardinality-
    sized) MV.  Groups whose count reaches zero drop out, matching a
    recompute exactly.  This is the standard counting-algorithm IVM
    for distributive aggregates; at 100 TB it turns an MV refresh
    from a full-table aggregate into work proportional to the day's
    churn.
    """
    from go_mapreduce_spark.functions.numeric import DECIMAL_T

    news = changes.where(F.col("change").isin("insert", "update")).select(
        F.col(f"new_{group_col}").alias(group_col),
        F.lit(1).alias("d_n"),
        F.col(f"new_{val_col}").cast(DECIMAL_T).alias("d_v"),
    )
    olds = changes.where(F.col("change").isin("delete", "update")).select(
        F.col(f"old_{group_col}").alias(group_col),
        F.lit(-1).alias("d_n"),
        (-F.col(f"old_{val_col}").cast(DECIMAL_T)).alias("d_v"),
    )
    delta = (
        news.unionByName(olds)
        .groupBy(group_col)
        .agg(F.sum("d_n").alias("d_n"), F.sum("d_v").alias("d_v"))
    )
    merged = mv.join(delta, group_col, "full_outer").select(
        group_col,
        (
            F.coalesce(F.col("n_orders"), F.lit(0))
            + F.coalesce(F.col("d_n"), F.lit(0))
        ).alias("n_orders"),
        (
            F.coalesce(F.col("total_dec"), F.lit(0).cast(DECIMAL_T))
            + F.coalesce(F.col("d_v"), F.lit(0).cast(DECIMAL_T))
        ).cast(DECIMAL_T).alias("total_dec"),
    )
    return merged.where(F.col("n_orders") > 0)


def _mv_of(t: DataFrame, group_col: str = "o_orderstatus", val_col: str = "o_totalprice") -> DataFrame:
    from go_mapreduce_spark.functions.numeric import DECIMAL_T

    return t.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col(val_col).cast(DECIMAL_T)).alias("total_dec"),
    )


def x169_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance over the demo CDC
    history: build the per-status (count, total) MV at version 1,
    then roll it to version 3 purely from ``table_changes`` deltas —
    the base table is aggregated ONCE, at MV creation.

    Decimal addition is exact and associative, so the incrementally
    maintained totals are bit-identical to a full recompute (the
    pytest asserts equality at every step; the oracle recomputes v3's
    closed-form state from raw orders).
    """
    root = ensure_demo_table(spark, sf_dir)
    mv = _mv_of(read_table(spark, root, 1))
    for a, b in ((1, 2), (2, 3)):
        mv = refresh_mv_incremental(spark, mv, table_changes(spark, root, a, b))
    return mv.select(
        "o_orderstatus",
        "n_orders",
        F.round(F.col("total_dec").cast("double"), 4).alias("total_price"),
    ).orderBy("o_orderstatus")


def added_files(root: str, version: int) -> list[str]:
    """Paths of the data files ``version`` added — the file provenance
    that incremental reads (``read_appends``, the x215 stream source)
    consume.  ``create``, ``append`` and ``wap_publish`` add the files
    their parent lacks (a file belongs to the commit that introduced
    it).  ``optimize`` adds none: it rewrites bytes, not rows, and a
    naive two-manifest file diff would double-count every compacted
    row.  Any other op (``merge``, ``delete``, ``restore``) changes
    rows in place, which file provenance cannot attribute, so this
    raises rather than silently miscounting."""
    m = read_manifest(root, version)
    if m["op"] == "optimize":
        return []
    if m["op"] not in ("create", "append", "wap_publish"):
        raise ValueError(
            f"version {version} is op={m['op']!r}: file provenance cannot "
            "attribute in-place row changes — use table_changes() for "
            "row-level deltas"
        )
    parent = (
        {e["path"] for e in read_manifest(root, m["parent"])["files"]}
        if m["parent"]
        else set()
    )
    return [e["path"] for e in m["files"] if e["path"] not in parent]


def read_appends(
    spark: SparkSession, root: str, from_version: int, to_version: int | None = None
) -> DataFrame:
    """Incremental read: exactly the rows ADDED to the table after
    ``from_version``, up to ``to_version`` (default: current) — the
    batch form of consuming a lakehouse table as a stream source.

    Walks the commit log version by version and reads the files each
    version added (:func:`added_files`); a window holding a ``merge``
    or ``delete`` raises — callers needing row-level deltas across
    one use :func:`table_changes`.

    Cost is proportional to the appended data, never the table:
    manifest walking is driver-side JSON, and only the new files are
    opened.
    """
    from pyspark.sql.types import StructType

    to_v = to_version if to_version is not None else current_version(root)
    new_paths = [
        p for v in range(from_version + 1, to_v + 1) for p in added_files(root, v)
    ]
    schema = StructType.fromJson(json.loads(read_manifest(root, to_v)["schema"]))
    if not new_paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(root, p) for p in new_paths]
    )


def ensure_append_demo(spark: SparkSession, sf_dir: str) -> str:
    """Append-only demo table: the events table committed in 3 daily
    batches (day-of-month mod 3), exactly once each."""
    from go_mapreduce_spark.sources.registry import load_table

    def build(root: str) -> None:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value", F.dayofmonth("ts").alias("dom")
        )
        create_table(
            spark, ev.filter(F.col("dom") % 3 == 0), root, key_col="event_id"
        )
        for i, batch in ((2, "a2"), (3, "a3")):
            append_table(
                spark, ev.filter(F.col("dom") % 3 == i - 1), root, batch_id=batch
            )

    return scratch.build_once("lakehouse_append_demo", build, sf_dir)


def x170_incremental_append_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consume the append-only demo table incrementally: aggregate
    ONLY the rows versions 2–3 added (events with day-of-month
    % 3 ∈ {1, 2}), never re-reading version 1's bulk.

    The oracle recomputes the same slice from raw events — a
    provenance bug (double-counted compaction rewrite, missed file,
    bleed-through from v1) changes counts and hash-mismatches.
    """
    from go_mapreduce_spark.functions.numeric import DECIMAL_T

    root = ensure_append_demo(spark, sf_dir)
    inc = read_appends(spark, root, from_version=1)
    return (
        inc.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast(DECIMAL_T)).cast("double"), 4
            ).alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# x197: merge-on-read deletion vectors
# ---------------------------------------------------------------------------


def ensure_dv_demo(spark: SparkSession, sf_dir: str) -> str:
    """v1 create (orders with o_orderkey % 4 == 0), v2 merge-on-read
    DELETE of finished orders with o_orderkey % 3 == 0 — a scattered
    predicate whose key range overlaps EVERY data file, i.e. exactly
    the delete copy-on-write handles worst (it would rewrite the
    whole table) and deletion vectors handle best (one key-list
    file)."""
    from go_mapreduce_spark.sources.registry import load_table

    def build(root: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(*_DEMO_COLS)
        k = F.col("o_orderkey")
        create_table(spark, orders.filter(k % 4 == 0), root, key_col="o_orderkey")
        delete_table(
            spark,
            root,
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 3 == 0),
        )

    return scratch.build_once("lakehouse_dv_demo", build, sf_dir)


def x197_lakehouse_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot read over pending deletion vectors: per order status,
    row count and decimal-exact revenue of the DV demo table — the
    deleted slice must be invisible even though NO data file was
    rewritten (the manifest still lists every v1 file; only a
    key-list file was added).

    The oracle is closed-form key arithmetic over raw orders.  The
    full DV lifecycle — vectors invisible to reads, OPTIMIZE
    materializing them back to a vector-free snapshot with identical
    content, MERGE refusing to run over pending vectors, VACUUM
    retaining/reaping key-list files — is pytest-covered in
    tests/test_lakehouse.py.
    """
    root = ensure_dv_demo(spark, sf_dir)
    t = read_table(spark, root)
    return (
        t.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast(
                    "double"
                ),
                4,
            ).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# RESTORE (rollback) — wave 39
# ---------------------------------------------------------------------------


def restore_table(root: str, version: int, prune_ledger: bool = False) -> int:
    """RESTORE: roll the table back to ``version`` as a NEW commit
    (Delta ``RESTORE TABLE ... TO VERSION`` semantics).  The commit
    copies the target snapshot's file references and deletion
    vectors, so the restored state is bit-identical to the historical
    read — but history is preserved (the bad commits remain
    time-travelable, nothing is erased) and the restore itself is
    metadata-only: zero data files move.

    By default the idempotency ledger (``batch_ids``) carries over
    from the CURRENT version, not the target — consistent with Delta
    SetTransaction retention: streams that already delivered a batch
    must not redeliver it just because the table rolled back.  The
    sharp edge: a batch appended AFTER the restore target is rolled
    back in data but stays in the ledger, so a source that redelivers
    it is silently dropped.  The restore commit therefore records
    those ids as ``suppressed_batch_ids`` (auditable), and
    ``prune_ledger=True`` opts into dropping them so a redelivery
    re-applies — correct when the rolled-back batches are expected to
    be replayed rather than abandoned.
    """
    m_cur = read_manifest(root)
    m_tgt = read_manifest(root, version)
    tgt_ids = set(m_tgt.get("batch_ids", []))
    suppressed = [b for b in m_cur["batch_ids"] if b not in tgt_ids]
    return _commit_next(
        root,
        m_cur,
        "restore",
        restored_from=version,
        **{k: m_tgt[k] for k in ("key_col", "schema", "files")},
        deletes=m_tgt.get("deletes", []),
        batch_ids=sorted(tgt_ids) if prune_ledger else m_cur["batch_ids"],
        suppressed_batch_ids=[] if prune_ledger else suppressed,
    )


def ensure_restore_demo(spark: SparkSession, sf_dir: str) -> str:
    """create → append → DV delete → restore-to-v1 history; reused
    when already present (content is a pure function of the fixture)."""
    from go_mapreduce_spark.sources.registry import load_table

    def build(root: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(*_DEMO_COLS)
        k = F.col("o_orderkey")
        create_table(spark, orders.filter(k % 4 == 0), root, key_col="o_orderkey")
        append_table(spark, orders.filter(k % 4 == 2), root, batch_id="a1")
        delete_table(spark, root, k % 8 == 0)
        restore_table(root, 1)

    return scratch.build_once("lakehouse_restore_demo", build, sf_dir)


def x252_lakehouse_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot census across a create → append → delete → RESTORE
    history: per version, the op, row count, and decimal-exact price
    total.  Version 4 (the restore) must read bit-identical to
    version 1 — while versions 2 and 3 stay time-travelable, proving
    rollback is an append to history, not a rewrite of it.
    """
    from go_mapreduce_spark.functions.numeric import dsum

    root = ensure_restore_demo(spark, sf_dir)
    parts = []
    for v in range(1, current_version(root) + 1):
        parts.append(
            read_table(spark, root, version=v).agg(
                F.lit(v).alias("version"),
                F.lit(read_manifest(root, v)["op"]).alias("op"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.round(dsum(F.col("o_totalprice"), "sv"), 4).alias(
                    "total_price"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("version")


def ensure_lookup_demo(spark: SparkSession, sf_dir: str) -> str:
    """Single-version table (orders with o_orderkey % 4 == 0) whose
    manifest carries per-file Bloom filters."""
    from go_mapreduce_spark.sources.registry import load_table

    def build(root: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(*_DEMO_COLS)
        create_table(
            spark,
            orders.filter(F.col("o_orderkey") % 4 == 0),
            root,
            key_col="o_orderkey",
        )

    return scratch.build_once("lakehouse_lookup_demo", build, sf_dir)


LOOKUP_N_KEYS = 5


def x270_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needle-in-haystack point lookup through the manifest's
    data-skipping index: probe the ``LOOKUP_N_KEYS`` lowest keys of
    the demo table via :func:`lookup_keys` — range stats narrow the
    candidate files, per-file Bloom filters reject the rest, and only
    the surviving file(s) are read.  The oracle recomputes the rows
    from the raw table, proving pruning loses nothing; the pytest
    pins that absent-key probes touch ZERO files past the bloom and
    present-key probes read fewer files than the table holds.
    """
    root = ensure_lookup_demo(spark, sf_dir)
    keys = [
        r[0]
        for r in read_table(spark, root)
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(LOOKUP_N_KEYS)
        .collect()
    ]  # bounded driver collect: LOOKUP_N_KEYS scalars
    return (
        lookup_keys(spark, root, keys)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
        )
        .orderBy("o_orderkey")
    )


def x274_manifest_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only ANALYZE: per retained snapshot of the demo CDC
    table, the op, live row count, and key range — read ENTIRELY from
    manifest file entries, zero data files opened (what `DESCRIBE
    DETAIL` / Iceberg's snapshots table answers from metadata).  The
    oracle recomputes each version's row count and key range from the
    raw orders table via the closed-form demo history, so a hash
    match PROVES the manifest statistics are honest — the property
    every stats-driven optimization (pruning, MERGE planning, x270's
    lookups) silently depends on.
    """
    root = ensure_demo_table(spark, sf_dir)
    rows = []
    for v in range(1, current_version(root) + 1):
        m = read_manifest(root, v)
        rows.append(
            (
                v,
                m["op"],
                int(sum(e["rows"] for e in m["files"])),
                int(min(e["min_key"] for e in m["files"])),
                int(max(e["max_key"] for e in m["files"])),
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, op string, total_rows long, min_key long, max_key long",
    ).select(
        "version",
        "op",
        F.col("total_rows").cast("bigint").alias("total_rows"),
        F.col("min_key").cast("bigint").alias("min_key"),
        F.col("max_key").cast("bigint").alias("max_key"),
    ).orderBy("version")


def x286_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention lifecycle as a declared query: build a 3-version
    history (create → two appends), VACUUM to the newest 2 versions,
    and report each surviving snapshot's row count plus proof the
    reaped version is gone — the storage-cost control every lakehouse
    runs nightly, made oracle-checkable (surviving states are
    closed-form in orderkey arithmetic; the reaped version count is
    the constant 1).

    Rebuilt from scratch per run (vacuum mutates history, so a cached
    table would skew reruns); all data movement is the three bounded
    writes, and VACUUM itself is manifest-sized driver work + file
    unlinks — no Spark job at all.
    """
    from go_mapreduce_spark.sources.registry import load_table

    root = scratch.fresh_dir("x286", sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(*_DEMO_COLS)
    k = F.col("o_orderkey")
    create_table(spark, orders.filter(k % 8 == 0), root, key_col="o_orderkey")
    append_table(spark, orders.filter(k % 8 == 1), root, batch_id="v1")
    # OPTIMIZE rewrites content into new files — the pre-compaction
    # files become dead weight only a vacuum can reclaim
    optimize_table(spark, root)
    removed = vacuum_table(root, keep_versions=1)
    reaped = sum(
        1
        for v in (1, 2)
        if not os.path.exists(_manifest_path(root, v))
    )
    v = current_version(root)
    n = read_table(spark, root).count()
    return spark.createDataFrame(
        [(v, int(n), len(removed) > 0, reaped)],
        "version int, n_rows long, files_reclaimed boolean, n_versions_reaped int",
    ).select(
        "version",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        "files_reclaimed",
        F.col("n_versions_reaped").cast("int").alias("n_versions_reaped"),
    )


# ---------------------------------------------------------------------------
# Write-Audit-Publish branches (wave 78)
# ---------------------------------------------------------------------------
#
# The WAP pattern (Iceberg branch staging / Delta "blind append to a
# staging location"): a producer stages an append on a NAMED BRANCH
# that readers of the table cannot see, an audit job validates the
# staged rows, and only then does an atomic publish fold the staged
# files into the next table version — or an abort discards them
# without a trace.  Staged data files live under _branches/<name>/ so
# nothing reaches the main data/ directory until publish; the publish
# itself is a plain manifest commit through the same hard-link OCC
# gate as every other writer, so it conflicts (and retries) exactly
# like a normal append.

_BRANCHES = "_branches"


def _branch_dir(root: str, branch: str) -> str:
    return os.path.join(root, _BRANCHES, branch)


def _branch_manifest_path(root: str, branch: str) -> str:
    return os.path.join(root, _BRANCHES, f"{branch}.json")


def stage_append(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    branch: str,
    batch_id: str | None = None,
) -> dict:
    """Stage ``df`` as an un-published append on ``branch``.

    Files are written (range-clustered + stats + blooms, same layout
    discipline as a real append) into the branch's private directory;
    the staged manifest records the base version for audit context.
    Re-staging the same branch replaces any previous staging wholesale
    — a branch holds exactly one candidate batch.
    """
    from pyspark.sql.types import StructType

    m = read_manifest(root)
    schema = StructType.fromJson(json.loads(m["schema"]))
    if {f.name for f in df.schema.fields} != {f.name for f in schema.fields}:
        raise ValueError("staged schema must match the table schema")
    bdir = _branch_dir(root, branch)
    if os.path.isdir(bdir):
        shutil.rmtree(bdir)
    os.makedirs(bdir, exist_ok=True)
    files = _write_data_files(spark, df, bdir, 1, m["key_col"])
    staged = {
        "branch": branch,
        "base_version": m["version"],
        "key_col": m["key_col"],
        "schema": m["schema"],
        "files": files,
        "batch_id": batch_id,
    }
    path = _branch_manifest_path(root, branch)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(staged, f, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return staged


def _read_staged(root: str, branch: str) -> dict:
    with open(_branch_manifest_path(root, branch)) as f:
        return json.load(f)


def staged_rows(spark: SparkSession, root: str, branch: str) -> DataFrame:
    """Just the rows staged on ``branch`` (what an audit validates)."""
    from pyspark.sql.types import StructType

    staged = _read_staged(root, branch)
    schema = StructType.fromJson(json.loads(staged["schema"]))
    paths = [
        os.path.join(_branch_dir(root, branch), e["path"])
        for e in staged["files"]
    ]
    if not paths:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*paths)


def read_branch(spark: SparkSession, root: str, branch: str) -> DataFrame:
    """The table AS IF the branch were published: base snapshot (at
    the staged base version) plus staged rows.  Main readers —
    ``read_table`` — never see any of this."""
    staged = _read_staged(root, branch)
    return read_table(spark, root, version=staged["base_version"]).unionByName(
        staged_rows(spark, root, branch)
    )


def audit_branch(
    spark: SparkSession, root: str, branch: str, expectations: dict[str, str]
) -> dict:
    """Run ``{rule_name: SQL predicate}`` over the STAGED rows in one
    aggregate; returns ``{"n_staged": n, "violations": {rule: count}}``.
    A rule's count is rows where the predicate is NOT satisfied
    (NULL counts as a violation — audits are pessimistic)."""
    df = staged_rows(spark, root, branch)
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(
            F.when(F.coalesce(F.expr(pred), F.lit(False)), 0).otherwise(1)
        ).alias(f"_r{i}")
        for i, pred in enumerate(expectations.values())
    ]
    row = df.agg(*aggs).collect()[0]
    return {
        "n_staged": row["_n"],
        "violations": {
            name: int(row[f"_r{i}"] or 0)
            for i, name in enumerate(expectations.keys())
        },
    }


def publish_branch(
    spark: SparkSession, root: str, branch: str, max_retries: int = 3
) -> int:
    """Atomically fold the staged files into the next table version.

    Appends commute with appends, so a main-branch commit that landed
    after staging does NOT invalidate the staged files — publish
    rebases onto the CURRENT version and retries through the OCC gate
    like any writer.  Batch-id idempotence is honored: if the staged
    batch was already published (e.g. a crashed publisher retrying),
    this is a version-preserving no-op that just cleans the branch.
    """
    staged = _read_staged(root, branch)
    bdir = _branch_dir(root, branch)
    last_err: Exception | None = None
    for _ in range(max_retries):
        m = read_manifest(root)
        if staged["batch_id"] is not None and staged["batch_id"] in m["batch_ids"]:
            abort_branch(root, branch)
            return m["version"]
        if m["schema"] != staged["schema"]:
            raise ValueError(
                "table schema changed since staging; re-stage the branch"
            )
        version = m["version"] + 1
        data_dir = os.path.join(root, _DATA)
        os.makedirs(data_dir, exist_ok=True)
        entries = []
        for i, e in enumerate(sorted(staged["files"], key=lambda x: x["path"])):
            dst = f"v{version:05d}-{i:05d}.parquet"
            src = os.path.join(bdir, e["path"])
            dst_abs = os.path.join(data_dir, dst)
            if os.path.exists(src):  # idempotent across failed attempts
                os.replace(src, dst_abs)
            entries.append({**e, "path": f"{_DATA}/{dst}"})
        try:
            v = _commit_next(
                root, m, "wap_publish", staged["batch_id"], files=m["files"] + entries
            )
        except CommitConflict as e:
            # a concurrent writer took this version: move our files to
            # the next attempt's names on the retry pass
            for i, ent in enumerate(entries):
                cur = os.path.join(root, ent["path"])
                back = os.path.join(bdir, staged["files"][i]["path"])
                if os.path.exists(cur):
                    os.replace(cur, back)
            last_err = e
            continue
        abort_branch(root, branch)
        return v
    raise last_err  # exhausted retries


def abort_branch(root: str, branch: str) -> None:
    """Discard a staged branch: files and manifest, no table change."""
    bdir = _branch_dir(root, branch)
    if os.path.isdir(bdir):
        shutil.rmtree(bdir)
    try:
        os.unlink(_branch_manifest_path(root, branch))
    except FileNotFoundError:
        pass


# ---------------------------------------------------------------------------
# x367 — WAP pipeline: stage → audit → fix → publish (wave 78)
# ---------------------------------------------------------------------------

WAP_PRICE_CAP = 400000.0
WAP_RULES = {
    "positive_price": "o_totalprice > 0",
    "price_cap": f"o_totalprice < {WAP_PRICE_CAP}",
    "status_domain": "o_orderstatus IN ('F', 'O', 'P')",
}


def x367_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Write-Audit-Publish: create a base table (orders
    with key%4<3), stage the key%4==3 slice on an audit branch, run
    the expectation suite (the price-cap rule genuinely fails on the
    fixture), ABORT, re-stage only the clean rows, verify the audit
    is green, publish atomically, and report — per rule — the first
    audit's violation count alongside the published table's final
    row count and revenue.  Main readers see versions 1 → 2 only; the
    dirty staging is never visible.  (Iceberg WAP / branch-audit
    semantics re-expressed on this engine's manifest+OCC core.)
    """
    from go_mapreduce_spark.functions.numeric import dsum
    from go_mapreduce_spark.sources.registry import load_table

    root = scratch.fresh_dir("x367", sf_dir)
    orders = load_table(spark, sf_dir, "orders").select(*_DEMO_COLS)
    k = F.col("o_orderkey")
    create_table(spark, orders.filter(k % 4 < 3), root, key_col="o_orderkey")
    raw = orders.filter(k % 4 == 3)
    stage_append(spark, raw, root, "audit", batch_id="wap-1")
    first = audit_branch(spark, root, "audit", WAP_RULES)
    # isolation: main still reads version 1 regardless of staging
    assert current_version(root) == 1
    abort_branch(root, "audit")
    clean = raw
    for pred in WAP_RULES.values():
        clean = clean.filter(F.expr(pred))
    stage_append(spark, clean, root, "audit", batch_id="wap-1")
    second = audit_branch(spark, root, "audit", WAP_RULES)
    assert all(v == 0 for v in second["violations"].values()), second
    publish_branch(spark, root, "audit")
    final = read_table(spark, root).agg(
        F.count(F.lit(1)).alias("final_rows"),
        dsum(F.col("o_totalprice"), "final_revenue"),
    )
    rules = sorted(WAP_RULES)
    rule_rows = None
    for name in rules:
        r = spark.range(1).select(
            F.lit(name).alias("rule"),
            F.lit(first["violations"][name]).cast("bigint").alias(
                "n_violations"
            ),
        )
        rule_rows = r if rule_rows is None else rule_rows.unionAll(r)
    return (
        rule_rows.crossJoin(F.broadcast(final))
        .select(
            "rule",
            "n_violations",
            F.lit(first["n_staged"]).cast("bigint").alias("n_staged_raw"),
            F.lit(second["n_staged"]).cast("bigint").alias("n_published"),
            F.col("final_rows").cast("bigint"),
            F.round("final_revenue", 2).alias("final_revenue"),
        )
        .orderBy("rule")
    )


# ---------------------------------------------------------------------------
# x368 — incremental JOIN-MV maintenance (wave 79)
# ---------------------------------------------------------------------------


def _merge_counting_mv(
    mv: DataFrame, delta: DataFrame, key: str
) -> DataFrame:
    """Counting-algorithm merge for a (key, n, decimal-sum) MV: add
    signed deltas, drop keys whose count reaches zero."""
    from go_mapreduce_spark.functions.numeric import DECIMAL_T

    return (
        mv.join(delta, key, "full_outer")
        .select(
            key,
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("d_n"), F.lit(0))
            ).alias("n"),
            (
                F.coalesce(F.col("v"), F.lit(0).cast(DECIMAL_T))
                + F.coalesce(F.col("d_v"), F.lit(0).cast(DECIMAL_T))
            )
            .cast(DECIMAL_T)
            .alias("v"),
        )
        .where(F.col("n") > 0)
    )


def mv_maintain(
    aux: DataFrame,
    mv: DataFrame,
    dfact: DataFrame,
    dim_old: DataFrame,
    moves: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The maintenance-only step of the two-level counting algorithm:
    given the CURRENT per-customer aux MV and per-segment MV plus a
    signed fact delta ``dfact`` (ck, d_n, d_v), the OLD dimension, and
    the dimension moves (ck, s_old, s_new), return the maintained
    (aux, mv).  Touches ONLY the MVs, the deltas, and the dimension —
    never the base fact table; tests/test_wave79.py asserts the
    optimized plan of this step contains no fact-table scan, so a
    "simplification" into full recompute cannot land silently."""
    from go_mapreduce_spark.functions.numeric import DECIMAL_T

    aux = _merge_counting_mv(aux, dfact, "ck")
    dseg_fact = (
        dfact.join(dim_old, "ck")
        .groupBy("seg")
        .agg(F.sum("d_n").alias("d_n"), F.sum("d_v").cast(DECIMAL_T).alias("d_v"))
    )
    mv = _merge_counting_mv(mv, dseg_fact, "seg")

    moved = moves.join(aux, "ck")
    dseg_dim = (
        moved.select(
            F.col("s_old").alias("seg"),
            (-F.col("n")).alias("d_n"),
            (-F.col("v")).cast(DECIMAL_T).alias("d_v"),
        )
        .unionByName(
            moved.select(
                F.col("s_new").alias("seg"),
                F.col("n").alias("d_n"),
                F.col("v").cast(DECIMAL_T).alias("d_v"),
            )
        )
        .groupBy("seg")
        .agg(F.sum("d_n").alias("d_n"), F.sum("d_v").cast(DECIMAL_T).alias("d_v"))
    )
    mv = _merge_counting_mv(mv, dseg_dim, "seg")
    return aux, mv


def x368_join_mv_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view —
    per-segment (orders ⋈ customer) counts and revenue — under BOTH a
    fact CDC batch and a dimension change, without ever re-scanning
    the base join.  x169 maintains a single-table aggregate; the join
    case is what breaks naive IVM: a dimension update (a customer
    switching segment) must move that customer's ENTIRE order history
    between groups, which a fact-delta rule alone cannot see.

    Two-level counting algorithm: an auxiliary per-customer MV
    (order count + decimal revenue) absorbs fact deltas, and the
    segment MV is maintained by (a) fact deltas joined to the OLD
    dimension and (b) dimension moves replayed against the auxiliary
    MV — work proportional to churn, exact by decimal associativity.
    The pytest pins bit-equality with a full recompute; the oracle
    recomputes the final state closed-form.

    CDC script (deterministic slices of the fixture):
    facts v1 = orders with key%4<3; then inserts key%4==3, deletes
    key%16==2, updates key%16==9 (+1000.00); dimension: customers
    with key%10==7 move to segment 'MOVED'.
    """
    from go_mapreduce_spark.functions.numeric import DECIMAL_T
    from go_mapreduce_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    k = F.col("o_orderkey")
    facts_v1 = orders.filter(k % 4 < 3)
    dim_v1 = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("seg")
    )

    # ---- MV creation (the ONLY full aggregation of the fact table)
    aux = facts_v1.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast(DECIMAL_T)).alias("v"),
    )
    mv = (
        aux.join(dim_v1, "ck")
        .groupBy("seg")
        .agg(F.sum("n").alias("n"), F.sum("v").cast(DECIMAL_T).alias("v"))
    )

    # ---- fact CDC: signed delta rows (custkey, d_n, d_v)
    ins = orders.filter(k % 4 == 3).select(
        F.col("o_custkey").alias("ck"),
        F.lit(1).alias("d_n"),
        F.col("o_totalprice").cast(DECIMAL_T).alias("d_v"),
    )
    dels = facts_v1.filter(k % 16 == 2).select(
        F.col("o_custkey").alias("ck"),
        F.lit(-1).alias("d_n"),
        (-F.col("o_totalprice").cast(DECIMAL_T)).alias("d_v"),
    )
    upd = facts_v1.filter(k % 16 == 9).select(
        F.col("o_custkey").alias("ck"),
        F.lit(0).alias("d_n"),
        F.lit(1000.0).cast(DECIMAL_T).alias("d_v"),
    )
    dfact = (
        ins.unionByName(dels)
        .unionByName(upd)
        .groupBy("ck")
        .agg(F.sum("d_n").alias("d_n"), F.sum("d_v").cast(DECIMAL_T).alias("d_v"))
    )
    # ---- dimension CDC: segment moves replayed against the aux MV
    moves = dim_v1.filter(F.col("ck") % 10 == 7).select(
        "ck", F.col("seg").alias("s_old"), F.lit("MOVED").alias("s_new")
    )
    aux, mv = mv_maintain(aux, mv, dfact, dim_v1, moves)

    return mv.select(
        F.col("seg").alias("c_mktsegment"),
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(F.col("v").cast("double"), 2).alias("total_price"),
    ).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# x388 — GDPR forget-user cascade over lakehouse tables (wave 86)
# ---------------------------------------------------------------------------

GDPR_FORGET_MOD = 50  # forget customers with c_custkey % 50 == 7


def x388_gdpr_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten as a table service: erase a customer set
    from BOTH the customer dimension and the orders fact via
    deletion vectors, then audit that no order of a forgotten
    customer survives.  This is the workflow GDPR/CCPA imposes on a
    100 TB lakehouse: scattered single-key deletes across every file's
    key range, where copy-on-write would rewrite the world —
    ``delete_table``'s merge-on-read vectors make each erasure
    O(matched keys) (see its docstring), and the audit is one
    anti-join-backed read per table.

    The forget set is a pure key predicate (custkey ≡ 7 mod 50) so
    both tables delete by predicate without a cross-table join inside
    the commit — the shape a real pipeline gets from an upstream
    "forget these ids" feed.  Output: per-table before/deleted/after
    counts plus the residue count (must be 0), all oracle-checkable
    closed-form from the fixture.
    """
    from go_mapreduce_spark.sources.registry import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    results = []
    work = scratch.fresh_dir("x388", sf_dir)
    roots = {}
    for name, df, key in (
        ("customer", cust, "c_custkey"),
        ("orders", orders, "o_orderkey"),
    ):
        roots[name] = os.path.join(work, name)
        create_table(spark, df, roots[name], key_col=key)
    fc = F.pmod(F.col("c_custkey"), F.lit(GDPR_FORGET_MOD)) == 7
    fo = F.pmod(F.col("o_custkey"), F.lit(GDPR_FORGET_MOD)) == 7
    for name, cond in (("customer", fc), ("orders", fo)):
        before = read_table(spark, roots[name]).count()
        delete_table(spark, roots[name], cond)  # returns the version
        after = read_table(spark, roots[name]).count()
        results.append((name, before, before - after, after))
    residue = (
        read_table(spark, roots["orders"])
        .join(
            read_table(spark, roots["customer"]).select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .count()
    )
    # every surviving order must reference a surviving customer: the
    # anti-join residue equals orders whose customer was forgotten
    # AFTER the cascade — 0 by construction, asserted by the oracle
    return spark.createDataFrame(
        [(n, b, d, a, residue if n == "orders" else 0)
         for n, b, d, a in results],
        "table_name string, rows_before bigint, rows_deleted bigint, "
        "rows_after bigint, orphan_orders bigint",
    ).orderBy("table_name")


# ---------------------------------------------------------------------------
# x401 — incremental maintenance of a DISTINCT-COUNT MV (wave 91)
# ---------------------------------------------------------------------------


def x401_distinct_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a COUNT(DISTINCT) materialized view
    — per-segment distinct ordering customers — under the x368 fact
    CDC script.  Distinct counts are THE classically non-maintainable
    aggregate: a delete only decrements the distinct count when it
    removes the customer's LAST order, which a delta rule alone cannot
    see.  The two-level counting fix: the per-customer aux MV absorbs
    signed deltas, and the segment MV moves only on 0↔positive
    transitions of a customer's count (appeared/disappeared), joined
    to the dimension — churn-proportional, never a rescan.

    The pytest pins bit-equality with a full recompute; the oracle
    computes the final state closed-form.
    """
    from go_mapreduce_spark.functions.numeric import DECIMAL_T  # noqa: F401
    from go_mapreduce_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    k = F.col("o_orderkey")
    facts_v1 = orders.filter(k % 4 < 3)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("seg")
    )

    # ---- MV creation (the only full aggregation of the fact table)
    aux = facts_v1.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count(F.lit(1)).alias("n")
    )
    mv = (
        aux.join(dim, "ck")
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )

    # ---- fact CDC: signed per-customer deltas
    ins = orders.filter(k % 4 == 3).select(
        F.col("o_custkey").alias("ck"), F.lit(1).alias("d_n")
    )
    dels = facts_v1.filter(k % 16 == 2).select(
        F.col("o_custkey").alias("ck"), F.lit(-1).alias("d_n")
    )
    dfact = (
        ins.unionByName(dels).groupBy("ck").agg(F.sum("d_n").alias("d_n"))
    )

    # ---- maintenance: only 0↔positive transitions touch the MV
    merged = aux.join(dfact, "ck", "full_outer").select(
        "ck",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_old"),
        (
            F.coalesce(F.col("n"), F.lit(0))
            + F.coalesce(F.col("d_n"), F.lit(0))
        ).alias("n_new"),
    )
    trans = merged.filter(
        ((F.col("n_old") == 0) & (F.col("n_new") > 0))
        | ((F.col("n_old") > 0) & (F.col("n_new") == 0))
    ).select(
        "ck",
        F.when(F.col("n_new") > 0, F.lit(1)).otherwise(F.lit(-1)).alias("d"),
    )
    dseg = (
        trans.join(dim, "ck").groupBy("seg").agg(F.sum("d").alias("d"))
    )
    return (
        mv.join(dseg, "seg", "full_outer")
        .select(
            F.col("seg").alias("c_mktsegment"),
            (
                F.coalesce(F.col("n_cust"), F.lit(0))
                + F.coalesce(F.col("d"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_distinct_customers"),
        )
        .where(F.col("n_distinct_customers") > 0)
        .orderBy("c_mktsegment")
    )
