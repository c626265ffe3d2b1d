"""Layer benchmark for the go_mapreduce_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload on ``local[nproc]`` from a single driver process:
prepares the inputs from the seed, launches the JVM with ``get_spark``
and runs one cold pass, then runs whole passes until ``--seconds``
have elapsed, and last restarts the session twice in the same JVM
(``get_spark`` plus one pass each).  The cold start and the two
restarts are the run's three set-ups.  Every query's output
is checked.  The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  See perfbench/README.md for what each metric means.

All scratch files live under ``.perfbench_work/`` in the checkout and
are removed on exit; the traced run's spans go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

RESTARTS = 2  # in-JVM session restarts after the measured passes; setup_s is the median
# of the three set-ups (cold start and restarts), in practice the slower restart
MIN_PASSES = 3  # measured passes per run, at least



def spec() -> dict:
    """BENCHMARK.json at the checkout root: the workload and metric names, and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the engine, Spark and the JVM write inside ``work``
    and make the checkout root the working directory (Python workers
    import the engine package from there)."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # JVMs write /tmp/hsperfdata_<user>/<pid> whatever the temp dir;
    # this covers the launcher JVM that spark-submit starts first.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.chdir(ROOT)


def spark_conf(work: str) -> dict[str, str]:
    # A fixed heap (-Xms = -Xmx) keeps the JVM's footprint and GC
    # cadence from depending on how far the heap happened to grow.
    heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -Xms{heap} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }


@dataclass
class QueryRecord:
    name: str
    run_id: str
    layers: dict[str, float] = field(default_factory=dict)
    windows: list[tuple] = field(default_factory=list)  # (layer, since, until) status-store marks
    span_ids: dict[str, int] = field(default_factory=dict)

    @property
    def latency(self) -> float:
        return sum(self.layers.values())


@dataclass
class PassRecord:
    index: int
    traced: bool
    start: float = 0.0
    end: float = 0.0
    queries: list[QueryRecord] = field(default_factory=list)
    failed: dict[str, str] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Bench:
    def __init__(self, workload, cpus: int, conf: dict[str, str]):
        self.workload = workload
        self.cpus = cpus
        self.conf = conf
        self.spark = None
        self.passes: list[PassRecord] = []
        self.store = None
        self.listener = None
        self.tracer = None

    # --- session -------------------------------------------------------
    def start_session(self) -> float:
        from go_mapreduce_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=self.conf)
        return time.time() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.stop_session()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # --- tracing -------------------------------------------------------
    def enable_tracing(self) -> None:
        from layers import BatchListener, StatusStore, Tracer

        self.store = StatusStore(self.spark)
        self.listener = BatchListener()
        self.tracer = Tracer()

    # --- passes --------------------------------------------------------
    def run_pass(self, traced: bool) -> PassRecord:
        from workloads import Outcome

        rec = PassRecord(len(self.passes), traced)
        if traced:
            self.spark.streams.addListener(self.listener)
        outcomes: dict[str, Outcome] = {}
        rec.start = time.time()
        for name in self.workload.queries:
            q = QueryRecord(name, f"p{rec.index}:{name}")
            t_q = time.time()

            def timed(layer, fn, q=q):
                mark = self.store.mark() if traced else None
                t0 = time.time()
                out = fn()
                t1 = time.time()
                q.layers[layer] = q.layers.get(layer, 0.0) + (t1 - t0)
                if traced:
                    q.windows.append((layer, mark, self.store.mark()))
                    q.span_ids[layer] = self.tracer.add(layer, layer, t0, t1, q.run_id)
                return out

            try:
                outcomes[name] = Outcome(name, self.workload.run(self.spark, name, timed))
            except Exception as e:  # noqa: BLE001 - a failed query is counted, the pass goes on
                traceback.print_exc(file=sys.stderr)
                outcomes[name] = Outcome(name, error=f"{type(e).__name__}: {str(e)[:200]}")
            if traced:
                qid = self.tracer.add(name, "query", t_q, time.time(), q.run_id)
                for sid in q.span_ids.values():
                    self.tracer.spans[sid].parent = qid
                q.span_ids["query"] = qid
            rec.queries.append(q)
        rec.end = time.time()
        if traced:
            self.spark.streams.removeListener(self.listener)
            pass_id = self.tracer.add(self.workload.name, "pass", rec.start, rec.end, f"p{rec.index}")
            for q in rec.queries:
                self.tracer.spans[q.span_ids["query"]].parent = pass_id
        rec.failed = self.workload.check(outcomes)
        print(f"# pass {rec.index}{' traced' if traced else ''}: {rec.wall:.3f} s "
              + " ".join(f"{q.name}={q.latency:.3f}" for q in rec.queries), file=sys.stderr)
        for name, why in rec.failed.items():
            print(f"FAILED pass {rec.index} {name}: {why}", file=sys.stderr)
        self.passes.append(rec)
        return rec


def query_medians(passes: list[PassRecord]) -> dict[str, float]:
    """Each query's median latency over ``passes``."""
    per: dict[str, list[float]] = {}
    for p in passes:
        for q in p.queries:
            per.setdefault(q.name, []).append(q.latency)
    return {name: statistics.median(v) for name, v in per.items()}


def layer_metrics(bench: Bench, traced: list[PassRecord], plain: list[PassRecord]) -> dict[str, float]:
    """Per-layer metrics: the median over traced passes of each pass's
    totals.  Reads the session's status store, so it runs before the
    session restarts."""
    from layers import MB, Window, covered

    tracer, store = bench.tracer, bench.store
    corpus_bytes = getattr(bench.workload, "corpus_bytes", 0)
    rows = []
    for rec in traced:
        build, other, mr = Window(), Window(), Window()
        layer_s: dict[str, float] = {}
        batches, start_stop, state_rows = 0, 0.0, 0
        trigger_s = add_batch_s = 0.0
        for q in rec.queries:
            for layer, t in q.layers.items():
                layer_s[layer] = layer_s.get(layer, 0.0) + t
            for layer, since, until in q.windows:
                w = store.window(since, until)
                (build if layer == "build" else other).merge(w)
                if layer in ("map", "merge"):
                    mr.merge(w)
            bid = q.span_ids.get("build")
            if bid is None:
                continue
            span = tracer.spans[bid]
            qb = [b for b in bench.listener.batches if span.start <= b.start < span.end]
            if not qb:
                continue
            for b in qb:
                tracer.add("batch", "batch", b.start, b.start + b.trigger_s, q.run_id, bid)
            batches += len(qb)
            trigger_s += sum(b.trigger_s for b in qb)
            add_batch_s += sum(b.add_batch_s for b in qb)
            start_stop += tracer.self_time(bid)
            state_rows += qb[-1].state_rows
        allw = Window()
        allw.merge(build)
        allw.merge(other)
        s = allw.sums
        rows.append({
            "build.s": layer_s.get("build", 0.0),
            "build.jobs": build.jobs,
            "build.stages": build.stages,
            "build.share": layer_s.get("build", 0.0) / rec.wall,
            "plan.s": layer_s.get("plan", 0.0),
            "exec.s": layer_s.get("exec", 0.0),
            "exec.jobs": other.jobs,
            "exec.stages": other.stages,
            "exec.tasks": s["tasks"],
            "exec.task_run_s": s["task_run_ms"] / 1e3,
            "exec.task_cpu_s": s["task_cpu_ns"] / 1e9,
            "exec.gc_s": s["gc_ms"] / 1e3,
            "exec.failed_tasks": s["failed_tasks"],
            "exec.stages_skipped_frac": allw.skipped_stages / allw.stages if allw.stages else 0.0,
            "exec.busy_frac": s["task_run_ms"] / 1e3 / (rec.wall * bench.cpus),
            "driver.only_s": rec.wall - covered(allw.job_intervals, rec.start, rec.end),
            "shuffle.write_mb": s["shuffle_write_bytes"] / MB,
            "shuffle.read_mb": s["shuffle_read_bytes"] / MB,
            "shuffle.records": s["shuffle_write_records"],
            "spill.mb": (s["spill_mem_bytes"] + s["spill_disk_bytes"]) / MB,
            "scan.input_mb": s["input_bytes"] / MB,
            "output.mb": s["output_bytes"] / MB,
            "output.records": s["output_records"],
            "mapreduce.map_s": layer_s.get("map", 0.0),
            "mapreduce.merge_s": layer_s.get("merge", 0.0),
            "mapreduce.shuffle_bytes_per_input_byte": (
                mr.sums["shuffle_write_bytes"] / corpus_bytes if corpus_bytes else 0.0),
            "streaming.batches": batches,
            "streaming.trigger_s": trigger_s,
            "streaming.add_batch_s": add_batch_s,
            "streaming.start_stop_s": start_stop,
            "streaming.state_rows": state_rows,
        })
    out = {k: statistics.median([r[k] for r in rows]) for k in rows[0]}
    out["trace.overhead_frac"] = statistics.median([p.wall for p in traced]) / statistics.median([p.wall for p in plain]) - 1
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    import go_mapreduce_spark  # noqa: F401 - fail fast outside a checkout of the engine
    import workloads
    from layers import RssSampler

    bench_spec = spec()
    names = [w["name"] for w in bench_spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; known: {', '.join(names)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    isolate(work)
    wl = workloads.make(args.workload)
    cpus = len(os.sched_getaffinity(0))
    bench = Bench(wl, cpus, spark_conf(work))
    try:
        t0 = time.time()
        wl.prepare(work, args.seed)
        print(f"# prepare {time.time() - t0:.2f} s", file=sys.stderr)
        with RssSampler() as rss:
            cold_s = bench.start_session() + bench.run_pass(traced=False).wall
            print(f"# cold set-up (JVM launch, get_spark, first pass): {cold_s:.2f} s", file=sys.stderr)
            if args.trace:
                bench.enable_tracing()
            rss.reset()
            measured: list[PassRecord] = []
            t_end = time.time() + args.seconds
            while True:
                traced = bool(args.trace) and len(measured) % 2 == 1
                measured.append(bench.run_pass(traced=traced))
                if time.time() >= t_end and len(measured) >= MIN_PASSES:
                    break
            peak_rss = rss.peak_bytes
        print(f"# measured {len(measured)} passes in {time.time() - t_end + args.seconds:.2f} s", file=sys.stderr)
        if args.trace:
            metrics = layer_metrics(bench, [p for p in measured if p.traced],
                                    [p for p in measured if not p.traced])
        get_spark_s, warm_s, setup_s = [], [], [cold_s]
        for i in range(RESTARTS):
            bench.stop_session()
            get_spark_s.append(bench.start_session())
            warm_s.append(bench.run_pass(traced=False).wall)
            setup_s.append(get_spark_s[-1] + warm_s[-1])
            print(f"# restart set-up {i}: get_spark {get_spark_s[-1]:.2f} s, pass {warm_s[-1]:.2f} s", file=sys.stderr)
        if args.trace:
            metrics["session.cold_s"] = cold_s
            metrics["session.get_spark_s"] = statistics.median(get_spark_s)
            metrics["session.warmup_s"] = statistics.median(warm_s)
            section = "per_layer"
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            bench.tracer.dump(os.path.join(out_dir, f"trace_{wl.name}_seed{args.seed}.json"))
        else:
            walls = [p.wall for p in measured]
            per_query = query_medians(measured)
            slowest = max(per_query, key=per_query.get)
            metrics = {
                "wall_s": statistics.median(walls),
                "query_p50_s": statistics.median(per_query.values()),
                "query_tail_s": per_query[slowest],
                "input_mb_per_s": wl.input_bytes / 1e6 / statistics.median(walls),
                "setup_s": statistics.median(setup_s),
                "peak_rss_mb": peak_rss / (1024 * 1024),
            }
            section = "end_to_end"
            print(f"# {len(measured)} passes; query_tail_s is the median latency of {slowest}")
        attempted = sum(len(p.queries) for p in bench.passes)
        failed = sum(len(p.failed) for p in bench.passes)
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it
    units = {m["name"]: m["unit"] for m in bench_spec[section]}
    for k in units:
        print(f"# {wl.name} {k} = {metrics[k]:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
