"""The benchmark's workloads and the checks on their outputs.

A workload prepares its inputs from the seed (off every clock), then
runs passes.  A pass is a list of *queries*; each query is a sequence
of timed calls into the engine's public functions, and each call is
tagged with the layer it exercises:

- ``build``: the registry function ``QUERIES[name](spark, dir)``,
  including every eager job it fires;
- ``plan``: forcing ``queryExecution().executedPlan()``;
- ``exec``: the final action;
- ``map`` / ``merge``: ``mapreduce.run_map_reduce`` /
  ``mapreduce.write_merged_tsv`` in the word-count workload.

Every query's result is checked after the pass, outside the pass's
clock, against an answer computed independently of Spark: DuckDB over
the same parquet files for the registry queries (the compare of
``tools/check_correctness.py``), and the generator's own counts for
word count.
"""

from __future__ import annotations

import os
import random
import shutil
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import duckdb

import gen
from tools.check_correctness import row_set

Timed = Callable[[str, Callable[[], Any]], Any]

# The engine's own sf0.01 fixture tables (seed 42), the scale its DuckDB
# oracles are checked at; copied into each run's scratch directory.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


@dataclass
class Outcome:
    """One query execution: its result (or error) for the checks."""

    name: str
    value: Any = None
    error: str | None = None


@dataclass
class Workload:
    name: str
    queries: list[str] = field(default_factory=list)
    input_bytes: int = 0

    def prepare(self, work: str, seed: int) -> None:
        raise NotImplementedError

    def run(self, spark, name: str, timed: Timed) -> Any:
        raise NotImplementedError

    def check(self, outcomes: dict[str, Outcome]) -> dict[str, str]:
        """Failure reason per failed query of one pass."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# registry-query workloads over the engine's fixture tables
# ---------------------------------------------------------------------------


@dataclass
class RegistryWorkload(Workload):
    tables: list[str] = field(default_factory=list)  # the tables the queries read
    data: str = ""
    expected: dict[str, tuple[list[str], list[str]]] = field(default_factory=dict)  # columns, row set

    def prepare(self, work: str, seed: int) -> None:
        from go_mapreduce_spark.queries import ORACLE_SQL, QUERIES

        self.data = os.path.join(work, "data", os.path.basename(FIXTURES))
        os.makedirs(self.data)
        for t in self.tables:
            shutil.copyfile(os.path.join(FIXTURES, f"{t}.parquet"), os.path.join(self.data, f"{t}.parquet"))
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.data, f"{t}.parquet")) for t in self.tables
        )
        missing = [q for q in self.queries if q not in QUERIES or q not in ORACLE_SQL]
        if missing:
            raise KeyError(f"queries without a registry entry and a DuckDB oracle: {missing}")
        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        for q in self.queries:
            res = con.execute(ORACLE_SQL[q])
            cols = [d[0] for d in res.description]
            self.expected[q] = (sorted(cols), row_set(cols, res.fetchall()))
        con.close()
        random.Random(seed).shuffle(self.queries)

    def run(self, spark, name: str, timed: Timed) -> Any:
        from go_mapreduce_spark.queries import QUERIES

        df = timed("build", lambda: QUERIES[name](spark, self.data))
        timed("plan", lambda: df._jdf.queryExecution().executedPlan())
        rows = timed("exec", df.collect)
        return df.columns, [tuple(r) for r in rows]

    def check(self, outcomes: dict[str, Outcome]) -> dict[str, str]:
        failed = {o.name: o.error for o in outcomes.values() if o.error}
        for name, (want_cols, want_rows) in self.expected.items():
            if name in failed:
                continue
            cols, rows = outcomes[name].value
            if sorted(cols) != want_cols:
                failed[name] = f"columns {sorted(cols)} differ from the DuckDB oracle's {want_cols}"
            elif row_set(cols, rows) != want_rows:
                failed[name] = f"result differs from the DuckDB oracle ({len(rows)} vs {len(want_rows)} rows)"
        return failed


# ---------------------------------------------------------------------------
# the paper's word count through the reference-parity MapReduce shim
# ---------------------------------------------------------------------------


CORPUS_WORDS = 1_000_000  # one steady pass of both word counts takes about 5 s on 4 cores


@dataclass
class WordCountWorkload(Workload):
    corpus: str = ""
    out_root: str = ""
    truth: Counter = field(default_factory=Counter)
    corpus_bytes: int = 0
    n_outputs: int = 0

    def prepare(self, work: str, seed: int) -> None:
        self.corpus = os.path.join(work, "corpus.txt")
        self.out_root = os.path.join(work, "wc_out")
        os.makedirs(self.out_root, exist_ok=True)
        self.truth = gen.make_corpus(self.corpus, seed, CORPUS_WORDS)
        self.corpus_bytes = os.path.getsize(self.corpus)
        self.input_bytes = self.corpus_bytes * len(self.queries)

    def _out(self) -> str:
        self.n_outputs += 1
        return os.path.join(self.out_root, str(self.n_outputs))

    def run(self, spark, name: str, timed: Timed) -> Any:
        out = self._out()
        if name == "wc_mapreduce":
            from go_mapreduce_spark.mapreduce import run_map_reduce, wc_map, wc_reduce, write_merged_tsv

            rdd = timed("map", lambda: run_map_reduce(spark, self.corpus, wc_map, wc_reduce))
            timed("merge", lambda: write_merged_tsv(rdd, out))
        else:
            from pyspark.sql import functions as F

            from go_mapreduce_spark.functions.tokenize import word_counts
            from go_mapreduce_spark.sources.sinks import write_sorted_tsv

            df = timed("build", lambda: word_counts(
                spark.read.text(self.corpus).withColumnRenamed("value", "text")
            ).select("word", F.col("cnt").cast("string")))
            timed("plan", lambda: df._jdf.queryExecution().executedPlan())
            timed("exec", lambda: write_sorted_tsv(df, out, ["word"], single_file=True))
        return out

    def check(self, outcomes: dict[str, Outcome]) -> dict[str, str]:
        failed = {}
        for o in outcomes.values():
            if o.error:
                failed[o.name] = o.error
                continue
            words = _read_tsv(o.value)
            shutil.rmtree(o.value, ignore_errors=True)
            if [w for w, _ in words] != sorted(w for w, _ in words):
                failed[o.name] = "output is not sorted by word"
            elif len(words) != len(self.truth) or dict(words) != self.truth:  # length: no repeated word
                failed[o.name] = "word counts differ from the generator's"
        return failed


def _read_tsv(out_dir: str) -> list[tuple[str, int]]:
    rows = []
    for part in sorted(p for p in os.listdir(out_dir) if p.startswith("part-")):
        with open(os.path.join(out_dir, part)) as f:
            for line in f:
                word, cnt = line.rstrip("\n").split("\t")
                rows.append((word, int(cnt)))
    return rows


def make(name: str) -> Workload:
    # Each workload's pass is sized to take about 5 s on 4 cores, so
    # that a whole run stays within a minute; README.md says how the
    # queries were chosen and what was left out.
    if name == "wordcount_mr":
        return WordCountWorkload(name, ["wc_mapreduce", "wc_dataframe"])
    if name == "stream_lakehouse":
        return RegistryWorkload(name, ["x134_stateful_totals", "x367_wap_publish"],
                                tables=["events", "orders"])
    raise KeyError(f"unknown workload {name!r}")
