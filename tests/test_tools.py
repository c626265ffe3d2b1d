"""tools/: the revision A/B tool (identity gate, git-archive sides, job
counts, one end-to-end smoke), the capture diff's count gate, and a
guard that every tool still compiles and imports only engine names
that exist; plus a guard that only ``go_mapreduce_spark/scratch.py``
decides where engine scratch data lives."""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import json
import os
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS_DIR = os.path.join(REPO, "tools")


def _in_git_checkout() -> bool:
    return (
        subprocess.run(
            ["git", "-C", REPO, "rev-parse", "--verify", "HEAD"], capture_output=True
        ).returncode
        == 0
    )


needs_git = pytest.mark.skipif(not _in_git_checkout(), reason="needs a git checkout")


@pytest.fixture(scope="module")
def ab():
    sys.path.insert(0, TOOLS_DIR)  # ab.rows_hash imports check_correctness
    spec = importlib.util.spec_from_file_location("ab_tool", os.path.join(TOOLS_DIR, "ab.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    yield mod
    sys.path.remove(TOOLS_DIR)


class _FakeSide:
    """A worker that answers from fixed rows and logs every op."""

    def __init__(self, ab, name, rows):
        self.name, self.rows, self.ab, self.ops = name, rows, ab, []

    def call(self, op, query):
        self.ops.append(op)
        if op == "rows":
            return {"rows": len(self.rows), "sha256": self.ab.rows_hash(["k", "v"], self.rows)}
        return {"wall": 0.5, "jobs": 2, "stages": 3}


_ROWS = [(1, 0.1 + 0.2), (2, None), (3, 1.5)]


def test_identity_gate_rejects_differing_rows_before_timing(ab):
    base = _FakeSide(ab, "base", _ROWS)
    head = _FakeSide(ab, "head", _ROWS[:2] + [(3, 1.25)])
    code, report = ab.run_ab([base, head], ["q"], reps=3)
    assert code == 1
    assert report["identical"] is False and report["differ"] == ["q"]
    assert base.ops == head.ops == ["rows"]  # no timed run on either side


def test_identity_gate_accepts_reordered_rows(ab):
    base = _FakeSide(ab, "base", _ROWS)
    head = _FakeSide(ab, "head", _ROWS[::-1])
    code, report = ab.run_ab([base, head], ["q"], reps=3)
    assert code == 0 and report["identical"] is True
    assert base.ops == head.ops == ["rows", "time", "time", "time"]
    got = report["queries"]["q"]["head"]
    assert got["walls"] == [0.5] * 3 and got["wall_median"] == 0.5
    assert (got["jobs"], got["stages"]) == (2, 3)


def test_zero_reps_is_an_identity_only_gate(ab):
    base = _FakeSide(ab, "base", _ROWS)
    head = _FakeSide(ab, "head", _ROWS[::-1])
    code, report = ab.run_ab([base, head], ["q", "r"], reps=0)
    assert code == 0 and report["identical"] is True
    assert base.ops == head.ops == ["rows", "rows"]  # no timed run on either side
    assert report["queries"]["q"]["head"]["sha256"] == report["queries"]["q"]["base"]["sha256"]


def test_negative_reps_is_rejected(ab, monkeypatch, capsys):
    monkeypatch.setattr(sys, "argv", ["ab.py", "--base", "HEAD", "--sf", REPO, "--reps", "-1", "q"])
    with pytest.raises(SystemExit) as exc:
        ab.main()
    assert exc.value.code == 2 and "--reps" in capsys.readouterr().err


@needs_git
def test_materialize_head_matches_git_blob(ab, tmp_path):
    ab.materialize("HEAD", str(tmp_path))
    blob = subprocess.run(
        ["git", "-C", REPO, "show", "HEAD:go_mapreduce_spark/queries.py"],
        capture_output=True, check=True,
    ).stdout
    assert (tmp_path / "go_mapreduce_spark" / "queries.py").read_bytes() == blob


class _FakeWorker:
    """Stands in for a side's worker process: records how it was spawned."""

    spawned: list = []

    def __init__(self, cmd, cwd, env, **_kw):
        self.cwd, self.tmpdir = cwd, env["TMPDIR"]
        self.tmpdir_was_empty = os.listdir(self.tmpdir) == []
        self.stdin = open(os.devnull, "w")
        _FakeWorker.spawned.append(self)

    def wait(self):
        return 0


@needs_git
def test_each_side_gets_its_own_empty_tmpdir(ab, monkeypatch, capsys):
    # sources and sinks build data once under tempfile.gettempdir() and
    # reuse it; a shared TMPDIR would let one side read the other's build
    _FakeWorker.spawned = []
    popen = subprocess.Popen  # git still runs for real
    monkeypatch.setattr(
        ab.subprocess, "Popen",
        lambda cmd, **kw: _FakeWorker(cmd, **kw) if "--worker" in cmd else popen(cmd, **kw),
    )
    monkeypatch.setattr(ab, "run_ab", lambda sides, queries, reps: (0, {"identical": True}))
    monkeypatch.setattr(sys, "argv", ["ab.py", "--base", "HEAD", "--sf", REPO, "q"])
    assert ab.main() == 0
    base, head = _FakeWorker.spawned
    assert head.cwd == REPO and base.cwd != REPO
    assert base.tmpdir != head.tmpdir and base.tmpdir_was_empty and head.tmpdir_was_empty
    assert tempfile.gettempdir() not in (base.tmpdir, head.tmpdir)
    assert not os.path.exists(base.tmpdir) and not os.path.exists(head.tmpdir)  # removed after
    assert json.loads(capsys.readouterr().out)["identical"] is True


@needs_git
def test_ab_smoke_head_against_working_tree(sf_dir):
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, os.path.join(TOOLS_DIR, "ab.py"), "--base", "HEAD",
         "--sf", sf_dir, "--reps", "1", "q1_word_count"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    doc = json.loads(proc.stdout)
    assert doc["identical"] is True and doc["head"]["commit"] == "working tree"
    base, head = doc["queries"]["q1_word_count"]["base"], doc["queries"]["q1_word_count"]["head"]
    assert base["sha256"] == head["sha256"] and base["rows"] > 0
    for side in (base, head):
        assert len(side["walls"]) == 1 and side["wall_min"] == side["wall_median"] > 0
        assert side["jobs"] >= 1 and side["stages"] >= side["jobs"]
        assert side["plan_lines"] > 0 and side["parquet_scans"] >= 1


def test_ab_counts_micro_batch_jobs(ab, spark, sf_dir):
    # x134's micro-batch jobs run on the stream's own thread, outside
    # any job group the caller sets; ab must count them all
    from go_mapreduce_spark.queries import QUERIES

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs, stages = dag.nextJobId(), dag.nextStageId()
    res = ab.timed_run(spark, QUERIES["x134_stateful_totals"], sf_dir)
    assert res["jobs"] == dag.nextJobId() - jobs
    assert res["stages"] == dag.nextStageId() - stages


def _phases(build_jobs, exec_stages, exec_skipped):
    return {
        "build": {"jobs": build_jobs, "stages": 2, "skipped_stages": 0},
        "exec": {"jobs": 1, "stages": exec_stages, "skipped_stages": exec_skipped},
    }


def _capture(tmp_path, name, wall=1.0, build_jobs=3, exec_stages=4, exec_skipped=1):
    """A BENCH_FULL.json with two queries: q as given, r fixed."""
    doc = {
        "head": name,
        "queries": {"q": wall, "r": 1.0},
        "profile": {"q": _phases(build_jobs, exec_stages, exec_skipped), "r": _phases(3, 4, 1)},
    }
    path = tmp_path / f"{name}.json"
    path.write_text(json.dumps(doc))
    return str(path)


@pytest.mark.parametrize(
    "change, code",
    [
        ({"build_jobs": 4}, 1),  # one more job
        ({"exec_stages": 5}, 1),  # one more stage run
        ({"exec_stages": 5, "exec_skipped": 2}, 0),  # one more skipped stage
        ({"wall": 9.0}, 0),  # 9x the wall, same counts
        ({"build_jobs": 2, "exec_stages": 3}, 0),  # fewer jobs and stages
    ],
    ids=["jobs-grew", "stages-grew", "skipped-only", "wall-only", "counts-shrank"],
)
def test_compare_bench_gates_on_counts_not_walls(tmp_path, change, code):
    old = _capture(tmp_path, "old")
    new = _capture(tmp_path, "new", **change)
    proc = subprocess.run(
        [sys.executable, os.path.join(TOOLS_DIR, "compare_bench.py"), old, new],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == code, proc.stdout + proc.stderr
    assert ("COUNT REGRESSION q:" in proc.stdout) == (code == 1)
    assert "COUNT REGRESSION r:" not in proc.stdout
    if "wall" in change:
        assert "REGRESSION q: 1.00s -> 9.00s" in proc.stdout
        assert "A/B: python tools/ab.py --base old --head new q" in proc.stdout


def _engine_imports(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("go_mapreduce_spark"):
            for alias in node.names:
                yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("go_mapreduce_spark"):
                    yield alias.name, None


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(TOOLS_DIR, "*.py"))), ids=os.path.basename
)
def test_tool_compiles_and_its_engine_imports_resolve(path):
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    compile(tree, path, "exec")
    for module, name in _engine_imports(tree):
        mod = importlib.import_module(module)
        if name is not None and not hasattr(mod, name):
            # `from pkg import submodule` is also legal
            assert importlib.util.find_spec(f"{module}.{name}") is not None, (
                f"{os.path.basename(path)}: `from {module} import {name}` does not resolve"
            )


_TEMP_DIR_CALLS = {"gettempdir", "mkdtemp"}
_SCRATCH_OWNERS = {"go_mapreduce_spark/scratch.py"}


def test_engine_scratch_paths_come_from_the_scratch_module():
    hits = {}
    for path in glob.glob(os.path.join(REPO, "go_mapreduce_spark", "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, REPO)
        if rel in _SCRATCH_OWNERS:
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        lines = [
            node.lineno
            for node in ast.walk(tree)
            if (isinstance(node, ast.Attribute) and node.attr in _TEMP_DIR_CALLS)
            or (isinstance(node, ast.Name) and node.id in _TEMP_DIR_CALLS)
            or (isinstance(node, ast.alias) and node.name in _TEMP_DIR_CALLS)
        ]
        if lines:
            hits[rel] = lines
    assert hits == {}, "pick scratch paths with go_mapreduce_spark.scratch"
