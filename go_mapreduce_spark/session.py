"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the configuration below is chosen
so the same code runs unchanged on a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, join-strategy
  switching) — the 100 TB plan self-corrects for stats drift.
- Explicit shuffle partitions sized for the local fixture scale; on a
  real cluster this is overridden per-deploy (or left to AQE's
  coalescing with a high initial partition count).
- Arrow enabled so any Pandas-UDF path is vectorized, never row-wise.
"""

from __future__ import annotations

import contextlib
import os
import weakref
import zipfile

from pyspark.sql import SparkSession

from go_mapreduce_spark import scratch

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# contexts the package was shipped to, held weakly: an id() key could
# be reused by a later context after the first one is collected
_SHIPPED_CONTEXTS: weakref.WeakSet = weakref.WeakSet()
_ZIP = "go_mapreduce_spark.zip"


def _package_zip() -> str:
    """A zip of the package's .py files, built once per source state
    (a ``scratch.build_once`` slot keyed on the package dir): a new
    context reuses it, and the slot of a deleted checkout is pruned
    like any other."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))

    def build(out: str) -> None:
        with zipfile.ZipFile(os.path.join(out, _ZIP), "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))

    return os.path.join(scratch.build_once("pkg", build, pkg_dir), _ZIP)


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]):
    """Set the session confs ``confs`` for the block.  On exit, also
    when the block raises, each key gets its old value back, and a key
    that had no value is unset."""
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship go_mapreduce_spark to executor Python workers via addPyFile.

    Needed by any operator that runs Python on executors (the RDD
    parity shim, mapInPandas decoders): executor workers are fresh
    Python processes that import pickled-by-reference module functions
    — the package must be importable THERE, not just on the driver.
    Idempotent per SparkContext; a no-op overhead of one zip on first
    use.  ``get_spark`` calls it; operators call it too, for sessions a
    caller built without ``get_spark``.  (On a real cluster the same is
    achieved by installing the wheel on executors or spark-submit
    --py-files.)
    """
    sc = spark.sparkContext
    if sc in _SHIPPED_CONTEXTS:
        return
    zpath = _package_zip()
    sc.addPyFile(zpath)
    # the Python streaming-source runner ignores addPyFile includes and
    # reads only the PYTHONPATH of the functions' worker env; functions
    # serialized from now on carry the zip there too
    pp = sc.environment.get("PYTHONPATH")
    sc.environment["PYTHONPATH"] = zpath + (os.pathsep + pp if pp else "")
    _SHIPPED_CONTEXTS.add(sc)


def get_spark(
    app_name: str = "go_mapreduce_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- optimizer / runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- python <-> jvm data plane ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- IO ---
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # --- deterministic sessions for oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is parquet TIMESTAMP(NANOS) which Spark refuses by
        # default; read the raw int64 and convert (truncate) to µs in
        # the source layer — identical to DuckDB's ns→µs truncation.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # quieter local runs
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Python workers (data sources, applyInPandasWithState, UDFs) import
    # the package too; ship it so the engine runs from any working dir
    ensure_package_on_executors(spark)
    return spark
