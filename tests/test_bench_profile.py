"""bench.py's per-query profile: the build and exec windows of one
query, read as status-store id deltas."""

from __future__ import annotations

import os
import tempfile

import bench
from go_mapreduce_spark.queries import QUERIES
from go_mapreduce_spark.sources.registry import load_table
from perfbench.layers import StatusStore


def test_profile_counts_micro_batch_jobs_and_repeats_on_fresh_scratch(
    spark, sf_dir, tmp_path, monkeypatch
):
    # the first read of a table in a session infers its schema in one
    # job; read events up front so both runs see the same memo state
    load_table(spark, sf_dir, "events")
    store = StatusStore(spark)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    counts = []
    for i in range(2):
        root = tmp_path / f"root{i}"
        root.mkdir()
        monkeypatch.setattr(tempfile, "tempdir", str(root))
        jobs, stages = dag.nextJobId(), dag.nextStageId()
        wall, prof = bench.timed_run(spark, store, QUERIES["x134_stateful_totals"], sf_dir)
        # every job the call fired, the stream's micro-batch jobs included
        assert sum(p["jobs"] for p in prof.values()) == dag.nextJobId() - jobs
        assert sum(p["stages"] for p in prof.values()) == dag.nextStageId() - stages
        assert os.listdir(root), "the events replay is built under the fresh root"
        assert wall > 0 and prof["exec"]["jobs"] >= 1 and prof["build"]["tasks"] > 0
        # the counts tools/compare_bench.py gates on
        counts.append({ph: (p["jobs"], p["stages"] - p["skipped_stages"]) for ph, p in prof.items()})
    assert counts[0] == counts[1]
