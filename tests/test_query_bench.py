"""tools/query_bench.py's Python-evaluation node counter on real plans of
registered queries: a MinHash dedup evaluates Python UDFs, TPC-H Q1 runs
entirely in the JVM."""

import os
import sys

import __spark_entry__ as entry_mod

from .conftest import sf_dir

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

import query_bench  # noqa: E402


def _plan(spark, name):
    return query_bench.formatted_plan(entry_mod.queries()[name](spark, sf_dir()))


def test_python_eval_nodes_on_query_plans(spark):
    minhash = _plan(spark, "dedup_minhash_docs")
    q1 = _plan(spark, "q1_pricing_summary")
    assert "== Physical Plan ==" in q1
    assert query_bench.python_eval_nodes(minhash) >= 1
    assert query_bench.python_eval_nodes(q1) == 0


def test_python_eval_nodes_counts_operator_headers():
    plan = ("(1) Scan parquet \n(2) ArrowEvalPython\n(3) BatchEvalPython\n"
            "(4) MapInArrow\n(5) FlatMapGroupsInPandas\n(6) Project\n"
            "(7) AttachDistributedSequence\n")
    assert query_bench.python_eval_nodes(plan) == 4
