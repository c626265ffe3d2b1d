"""A/B registry queries at two git revisions of the engine.

    python tools/ab.py --base REV [--head REV] [--sf DIR] [--reps N] QUERY...

Each side is ``git archive REV go_mapreduce_spark fixtures`` extracted
into a temp dir; without ``--head`` the head side is the working tree.
Each side runs in its own long-lived worker process whose cwd and
PYTHONPATH are that side's root, so the driver and the Python workers
both import that side's code.  Each side also gets its own empty
TMPDIR: queries that build data once under the temp dir and reuse it
(SQLite and lakehouse sources, sinks) build it with that side's code,
in the identity collect, so the timed runs see the warm path.

Identity gate: before any timing each side collects every query once.
Unless the order-insensitive row hashes are equal, the tool prints the
hashes (no timings) and exits 1.  ``--reps 0`` stops there (exit 0,
``identical: true``).  Otherwise, per query, each rep runs the
query through the noop sink on both sides (build + execute, cache
cleared after), the side that goes first alternating per rep.  Both
sides share one host window, so no calibration probe is taken.

Prints one JSON document; per query and side: rows and their sha256,
the executed-plan line count and ``FileScan parquet`` count (taken
before the identity collect), the min and median wall, and the jobs
and stages the last timed run fired.  Those are status-store id deltas
(``perfbench.layers.StatusStore``, from this checkout), so the jobs a
streaming query runs on its micro-batch thread count too.
``SPARK_GRAFT_CPUS`` sets the workers' ``local[N]`` as for every
``get_spark`` caller.
"""

from __future__ import annotations

import argparse
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARCHIVED = ("go_mapreduce_spark", "fixtures")
sys.path.append(REPO)  # after a side's root, so its own engine is imported
from perfbench.layers import StatusStore  # noqa: E402

# as bench.RETAIN_ALL: the status store must keep every job and stage
# that StatusStore.window reads back (it evicts skipped stages first)
RETAIN_ALL = {"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"}


def git(*args: str) -> bytes:
    return subprocess.run(
        ["git", "-C", REPO, *args], check=True, capture_output=True
    ).stdout


def materialize(rev: str, dest: str) -> str:
    """Extract the engine package (and its fixtures) at ``rev`` into ``dest``."""
    present = set(git("ls-tree", "--name-only", rev).decode().split())
    tar = git("archive", "--format=tar", rev, *[p for p in ARCHIVED if p in present])
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")
    return dest


def rows_hash(cols, rows) -> str:
    """sha256 of the column names and the order-insensitive canonical
    row set of tools/check_correctness.py (doubles at 12 digits)."""
    from check_correctness import row_set

    body = "\n".join([",".join(sorted(cols)), *row_set(cols, rows)])
    return hashlib.sha256(body.encode()).hexdigest()


def timed_run(spark, fn, sf: str) -> dict:
    """Run one query through the noop sink: its wall and the jobs and
    stages it fired."""
    store = StatusStore(spark)
    since = store.mark()
    os.sync()  # flush earlier runs' dirty pages outside the timer
    t0 = time.perf_counter()
    fn(spark, sf).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    w = store.window(since, store.mark())
    return {"wall": round(wall, 3), "jobs": w.jobs, "stages": w.stages}


def worker(sf: str) -> None:
    """Serve one side: answer ``[op, query]`` JSON lines from stdin on
    the original stdout; everything else printed goes to stderr."""
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    # the side's package must be imported before check_correctness,
    # which puts the working tree first on sys.path
    from go_mapreduce_spark.queries import QUERIES
    from go_mapreduce_spark.session import get_spark

    spark = get_spark("ab", extra_conf=RETAIN_ALL)
    for line in sys.stdin:
        op, query = json.loads(line)
        try:
            fn = QUERIES[query]
            if op == "rows":
                df = fn(spark, sf)
                plan = df._jdf.queryExecution().executedPlan().toString()
                rows = df.collect()
                res = {
                    "rows": len(rows),
                    "sha256": rows_hash(df.columns, rows),
                    "plan_lines": len(plan.splitlines()),
                    "parquet_scans": plan.count("FileScan parquet"),
                }
            else:
                res = timed_run(spark, fn, sf)
        except Exception as e:  # noqa: BLE001 — reported, ends the A/B
            res = {"error": f"{type(e).__name__}: {e}"[:2000]}
        spark.catalog.clearCache()
        out.write(json.dumps(res) + "\n")
        out.flush()
    spark.stop()


class Side:
    """One revision, served by a worker process over JSON lines."""

    def __init__(self, name: str, root: str, sf: str, tmpdir: str):
        self.name = name
        os.makedirs(tmpdir)
        pp = os.environ.get("PYTHONPATH")
        env = dict(os.environ, PYTHONPATH=root + (os.pathsep + pp if pp else ""), TMPDIR=tmpdir)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker", sf],
            cwd=root, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def call(self, op: str, query: str) -> dict:
        self.proc.stdin.write(json.dumps([op, query]) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"{self.name} worker exited ({self.proc.wait()})")
        return json.loads(line)

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.wait()


def run_ab(sides: list, queries: list[str], reps: int) -> tuple[int, dict]:
    """Identity gate, then interleaved timing; returns (exit code, report)."""
    report = {q: {s.name: s.call("rows", q) for s in sides} for q in queries}
    bad = [
        q for q, by_side in report.items()
        if any("error" in r for r in by_side.values())
        or len({r["sha256"] for r in by_side.values()}) != 1
    ]
    if bad:
        return 1, {"identical": False, "differ": bad, "queries": report}
    if reps == 0:  # identity gate only
        return 0, {"identical": True, "queries": report}
    for q in queries:
        walls = {s.name: [] for s in sides}
        for rep in range(reps):
            for s in sides[:: 1 if rep % 2 == 0 else -1]:
                r = s.call("time", q)
                if "error" in r:
                    report[q][s.name].update(r)
                    return 1, {"identical": True, "queries": report}
                walls[s.name].append(r.pop("wall"))
                report[q][s.name].update(r)
        for s in sides:
            report[q][s.name].update(
                walls=walls[s.name],
                wall_min=min(walls[s.name]),
                wall_median=round(statistics.median(walls[s.name]), 3),
            )
    return 0, {"identical": True, "queries": report}


def non_negative(text: str) -> int:
    n = int(text)
    if n < 0:
        raise argparse.ArgumentTypeError(f"must be >= 0, got {n}")
    return n


def main() -> int:
    if sys.argv[1:2] == ["--worker"]:
        worker(sys.argv[2])
        return 0
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--base", required=True, help="git revision of the base side")
    ap.add_argument("--head", help="git revision of the head side (default: working tree)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="input dir (default: $SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--reps", type=non_negative, default=5,
                    help="timed runs per query and side; 0 runs the identity gate only")
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf is required when SPARK_GRAFT_SF_DIR is unset")
    sf = os.path.abspath(args.sf)
    tmp = tempfile.mkdtemp(prefix="gms_ab_")
    meta, sides = {"sf": sf, "reps": args.reps}, []
    try:
        for name, rev in (("base", args.base), ("head", args.head)):
            if rev is None:
                root, commit = REPO, "working tree"
            else:
                commit = git("rev-parse", "--verify", f"{rev}^{{commit}}").decode().strip()
                root = materialize(commit, os.path.join(tmp, name))
            meta[name] = {"rev": rev, "commit": commit}
            sides.append(Side(name, root, sf, os.path.join(tmp, f"{name}_tmp")))
        code, report = run_ab(sides, args.queries, args.reps)
    finally:
        for s in sides:
            s.close()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({**meta, **report}, indent=1))
    return code


if __name__ == "__main__":
    raise SystemExit(main())
