"""Reference-parity tests for the MapReduce shim (SURVEY.md §5.2.2).

The corpus is documents.text materialized as a plain-text file (one
doc per line, ordered by doc_id) — driving the shim exactly as
RunSequential drives the reference (FIXTURES.md 'Reference-parity
input')."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from go_mapreduce_spark.mapreduce import (
    run_map_reduce,
    wc_map,
    wc_reduce,
    word_count,
    word_count_df,
    write_merged_tsv,
)
from go_mapreduce_spark.operators.wordcount import q1_word_count
from go_mapreduce_spark.sources.registry import load_table
from tests.conftest import run_counted


@pytest.fixture(scope="module")
def corpus_file(spark, sf_dir, tmp_path_factory):
    path = tmp_path_factory.mktemp("corpus") / "documents.txt"
    rows = (
        load_table(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .select("text")
        .collect()
    )
    path.write_text("\n".join(r.text for r in rows) + "\n")
    return str(path)


def test_wordcount_shim_matches_dataframe_engine(spark, sf_dir, corpus_file):
    """RDD shim (reference semantics) == DataFrame word count (Q1)."""
    shim = {(r.word, r.cnt) for r in word_count_df(spark, corpus_file).collect()}
    df = {(r.word, r.cnt) for r in q1_word_count(spark, sf_dir).collect()}
    assert shim == df


def test_shim_output_globally_sorted(spark, corpus_file):
    """Merge parity: output must be globally key-sorted
    (mapreduce.go:250-254)."""
    keys = [k for k, _ in word_count(spark, corpus_file).collect()]
    assert keys == sorted(keys)


def test_shim_respects_partition_counts(spark, corpus_file):
    """Job.NReduce parity: ``n_reduce`` reduce tasks feed one Merge
    task, and the partition counts do not change the result."""
    out = word_count(spark, corpus_file, n_map=4, n_reduce=2)
    assert out.getNumPartitions() == 1
    got: list = []
    _, stages = run_counted(spark, lambda: got.extend(out.collect()))
    # stages by id: map, reduce, merge
    assert [s.numTasks for s in stages[-2:]] == [2, 1]
    assert got == word_count(spark, corpus_file).collect()
    assert sum(int(v) for _, v in got) > 0


def test_shim_reduces_each_key_once(spark, corpus_file, tmp_path):
    """The user Reduce runs once per key: the Merge must not re-run
    the reduce stage (sortByKey's sizing jobs ran it three times)."""
    calls = spark.sparkContext.accumulator(0)

    def counted_reduce(key, values):
        calls.add(1)
        return wc_reduce(key, values)

    out_dir = str(tmp_path / "mrtmp_out")
    write_merged_tsv(run_map_reduce(spark, corpus_file, wc_map, counted_reduce), out_dir)
    (part,) = [f for f in os.listdir(out_dir) if f.startswith("part-")]
    with open(os.path.join(out_dir, part)) as fh:
        keys = {ln.split("\t")[0] for ln in fh.read().splitlines()}
    assert calls.value == len(keys) > 0


def test_shim_word_count_is_one_job(spark, corpus_file, tmp_path):
    """Split → Map → Reduce → Merge → TSV is one job of at most three
    stages (map, reduce, merge), like one reference run."""
    out_dir = str(tmp_path / "mrtmp_out")
    jobs, stages = run_counted(
        spark, lambda: write_merged_tsv(word_count(spark, corpus_file), out_dir)
    )
    assert len(jobs) == 1, jobs
    assert len(stages) <= 3, [s.name for s in stages]


def test_shim_tsv_sink(spark, corpus_file, tmp_path):
    out_dir = str(tmp_path / "mrtmp_out")
    write_merged_tsv(word_count(spark, corpus_file), out_dir)
    files = [f for f in os.listdir(out_dir) if f.startswith("part-")]
    assert len(files) == 1, "Merge writes a single output file"
    lines = open(os.path.join(out_dir, files[0])).read().splitlines()
    assert all("\t" in ln for ln in lines)
    keys = [ln.split("\t")[0] for ln in lines]
    assert keys == sorted(keys)


def test_custom_map_reduce_fns(spark, corpus_file):
    """The shim is generic: a different (Map, Reduce) pair — per-letter
    counts with max-length values."""

    def m(text):
        for w in text.split():
            yield (w[0], str(len(w)))

    def r(key, values):
        return str(max(int(v) for v in values))

    result = dict(run_map_reduce(spark, corpus_file, m, r, n_map=3, n_reduce=2).collect())
    assert result  # non-empty
    assert all(int(v) > 0 for v in result.values())


def test_empty_input(spark, tmp_path):
    p = tmp_path / "empty.txt"
    p.write_text("")
    assert word_count(spark, str(p), n_map=2, n_reduce=2).collect() == []
