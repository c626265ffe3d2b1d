"""The bench I/O-class tag set: every registry query from a streaming,
lakehouse or SQLite module, plus the named iterative ones."""

from __future__ import annotations

import go_mapreduce_spark.queries as Q


def test_io_set_is_the_hint_and_explicit_rule_over_the_registry():
    assert Q.IO_TMP_STATE_QUERIES == {
        name
        for name, fn in Q.QUERIES.items()
        if any(h in fn.__module__ for h in Q._IO_MODULE_HINTS)
    } | (Q._IO_EXPLICIT & set(Q.QUERIES))


def test_explicit_iterative_tags_present():
    s = Q.IO_TMP_STATE_QUERIES
    for n in ("x143_pagerank_dangling", "x378_personalized_pagerank",
              "x416_stream_media_decode"):
        assert n in s
