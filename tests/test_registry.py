"""The query registry is derived by one rule from the query functions
(``queries.collect_queries``); these guards need no Spark session."""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import re
import types

import pytest

import go_mapreduce_spark
import go_mapreduce_spark.queries as Q

FLAGSHIP = [
    "q1_word_count", "q2_grouped_agg", "q3_filter_agg", "q4_broadcast_join",
    "q5_multiway_join", "q6_count_distinct", "q7_topk", "q8_window",
    "q9_intersect", "q10_anti_join",
    "x1_dedup_exact", "x2_top_tokens", "x3_knn_cosine",
]


def test_every_query_function_in_the_package_is_registered():
    missing = []
    for info in pkgutil.walk_packages(go_mapreduce_spark.__path__, "go_mapreduce_spark."):
        mod = importlib.import_module(info.name)
        for name, fn in vars(mod).items():
            if (
                inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
                and Q._QUERY_NAME.match(name)
                and Q.QUERIES.get(name) is not fn
            ):
                missing.append(f"{mod.__name__}.{name}")
    assert missing == []


def _module(name, **fns):
    mod = types.ModuleType(name)
    for fn_name, fn in fns.items():
        fn.__module__, fn.__name__ = name, fn_name
        setattr(mod, fn_name, fn)
    return mod


def test_a_name_defined_in_two_modules_is_rejected():
    a = _module("pkg.a", x7_thing=lambda spark, sf_dir: None)
    b = _module("pkg.b", x7_thing=lambda spark, sf_dir: None)
    with pytest.raises(ValueError, match="x7_thing.*pkg.a.*pkg.b"):
        Q.collect_queries([a, b])


def test_imported_names_and_non_query_names_do_not_count():
    a = _module("pkg.a", x7_thing=lambda spark, sf_dir: None)
    b = _module("pkg.b", q2_other=lambda spark, sf_dir: None, _x3_helper=lambda: None)
    b.x7_thing = a.x7_thing  # imported, so defined in pkg.a only
    assert list(Q.collect_queries([a, b])) == ["q2_other", "x7_thing"]


def test_each_entry_binds_spark_and_sf_dir():
    for name, fn in Q.QUERIES.items():
        assert fn.__name__ == name
        inspect.signature(fn).bind("spark", "sf_dir")


def test_order_is_ascending_with_the_flagship_first():
    names = list(Q.QUERIES)
    assert names[: len(FLAGSHIP)] == FLAGSHIP
    key = [re.match(r"([qx])(\d+)([a-z]?)_", n).groups() for n in names]
    assert key == sorted(key, key=lambda k: (k[0], int(k[1]), k[2]))
    assert names.index("x41_ann_ivf") + 1 == names.index("x41b_ivf_clustered")
