from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import RETAIN_ALL
from go_mapreduce_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # bench.timed_run / ab.timed_run read every job and stage back
    s = get_spark("tests", cpus=8, shuffle_partitions=8, extra_conf=RETAIN_ALL)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def canon_rows(cols, rows):
    """Order-insensitive canonical form mirroring the driver's hasher
    (12 significant digits for floats, columns sorted by name)."""
    import math

    def c(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return "0" if v == 0 else f"{v:.12g}"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(c(x) for x in v) + "]"
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(c(r[i]) for i in order) for r in rows)


@pytest.fixture
def scratch_dirs(monkeypatch):
    """The dirs ``scratch.fresh_dir`` hands out during the test, by name
    (the latest call wins), so a test can inspect a query's sinks and
    checkpoints."""
    from go_mapreduce_spark import scratch

    made: dict[str, str] = {}
    real = scratch.fresh_dir

    def spy(name: str, sf_dir: str) -> str:
        made[name] = real(name, sf_dir)
        return made[name]

    monkeypatch.setattr(scratch, "fresh_dir", spy)
    return made


def run_counted(spark, run) -> tuple[list[int], list]:
    """Run ``run()`` in a job group of its own; return the ids of the
    jobs it fired and the ``SparkStageInfo`` of each job's stages, by
    stage id (parents before children; a stage two jobs share, skipped
    in the second, counts for both)."""
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed asynchronously
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    stage_ids = sorted(s for j in jobs for s in tracker.getJobInfo(j).stageIds)
    return jobs, [tracker.getStageInfo(s) for s in stage_ids]
