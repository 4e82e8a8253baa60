"""bench.py stays in sync with the driver-query catalog."""

import ast
import os
import re

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")


def _bench_query_names():
    src = open(BENCH).read()
    # every ("name", dq.q_fn) pair in the measured list
    return set(re.findall(r'\("([a-z0-9_]+)",\s*dq\.q_[a-z0-9_]+\)', src))


def test_bench_names_exist_in_catalog():
    import __spark_entry__ as entry

    catalog = set(entry.queries())
    benched = _bench_query_names()
    missing = benched - catalog
    assert not missing, f"bench rows without catalog entries: {missing}"


def test_bench_callables_resolve():
    src = open(BENCH).read()
    fns = set(re.findall(r"dq\.(q_[a-z0-9_]+)", src))
    from hatchery_spark.plans import driver_queries as dq

    unresolved = [f for f in fns if not hasattr(dq, f)]
    assert not unresolved, unresolved


def test_bench_parses():
    ast.parse(open(BENCH).read())
