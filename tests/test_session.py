"""session.ensure_package_on_executors: the package ships once per
SparkContext object, tracked by the object itself (not its id()), and
always from the same zip, built once in a ``scratch.build_once`` slot."""

from __future__ import annotations

import os
import tempfile
import zipfile


class _StubContext:
    """Stands in for a SparkContext: records every addPyFile call."""

    def __init__(self):
        self.shipped: list[str] = []
        self.environment: dict[str, str] = {}

    def addPyFile(self, path: str) -> None:
        self.shipped.append(path)


class _StubSession:
    def __init__(self, sc: _StubContext):
        self.sparkContext = sc


def test_package_ships_once_per_context_object(monkeypatch, tmp_path):
    from go_mapreduce_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    # a dead context's id() can be reused by a new one; make every id()
    # collide outright, so only object identity can tell contexts apart
    monkeypatch.setattr(session, "id", lambda _obj: 0, raising=False)

    a = _StubContext()
    session.ensure_package_on_executors(_StubSession(a))
    session.ensure_package_on_executors(_StubSession(a))
    assert len(a.shipped) == 1
    with zipfile.ZipFile(a.shipped[0]) as z:
        assert "go_mapreduce_spark/session.py" in z.namelist()
    # Python functions serialized afterwards carry the zip on their
    # worker PYTHONPATH (the streaming-source runner reads only that)
    assert a.environment["PYTHONPATH"] == a.shipped[0]

    # a new context object gets the package shipped again, from the
    # same zip, not a re-zipped one: repeated sessions leave no new
    # temp dirs behind
    built = os.stat(a.shipped[0]).st_mtime_ns
    b = _StubContext()
    session.ensure_package_on_executors(_StubSession(b))
    assert b.shipped == a.shipped
    assert os.stat(b.shipped[0]).st_mtime_ns == built
    slot = os.path.dirname(os.path.dirname(a.shipped[0]))
    assert [p.name for p in tmp_path.iterdir()] == [os.path.basename(slot)]
    assert os.listdir(os.path.dirname(a.shipped[0])) == ["go_mapreduce_spark.zip"]


_CWD_PROBE = """
import sys
sys.path.insert(0, {repo!r})
from go_mapreduce_spark.queries import QUERIES
from go_mapreduce_spark.session import get_spark
spark = get_spark("cwd-probe")
for q in ("x171_custom_source_roundtrip", "x213_custom_stream_source"):
    print(q, len(QUERIES[q](spark, {sf!r}).collect()))
"""


def test_engine_runs_from_a_non_repo_working_directory(tmp_path, sf_dir):
    # x171 reads a Python batch data source and x213 a Python streaming
    # source; both are instantiated in Python workers, which (with no
    # PYTHONPATH and a cwd outside the repo) find the package only
    # because get_spark ships it
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _CWD_PROBE.format(repo=repo, sf=sf_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "x171_custom_source_roundtrip 20" in proc.stdout
    assert "x213_custom_stream_source 5" in proc.stdout


def test_scoped_confs_restores_unsets_and_survives_a_raise(spark):
    """``scoped_confs`` puts back a key's old value, unsets a key that
    had none, and does both when the block raises."""
    import pytest

    from go_mapreduce_spark.session import scoped_confs

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    fresh = "spark.gms.test.scopedConfs"
    assert spark.conf.get(fresh, None) is None
    confs = {"spark.sql.shuffle.partitions": "3", fresh: "on"}
    with scoped_confs(spark, confs):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
        assert spark.conf.get(fresh) == "on"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert spark.conf.get(fresh, None) is None
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_confs(spark, confs):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    assert spark.conf.get(fresh, None) is None
