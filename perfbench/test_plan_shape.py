"""The benchmark times a query by running its whole plan.

For every operator_queries query, the plan that runs under
``run_to_completion`` keeps every Python-eval node of the query's
physical plan (``DataFrame.count()`` would let Catalyst prune UDF
columns, and the timing would skip them).

    python -m pytest perfbench/test_plan_shape.py -q
"""

from __future__ import annotations

import re

import pytest

import workloads as W

PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow"
    r"|FlatMapCoGroupsInArrow|AggregateInPandas|ArrowAggregatePython|WindowInPandas"
    r"|ArrowWindowPython|ArrowEvalPythonUDTF|BatchEvalPythonUDTF)\b")


def python_nodes(plan_text: str) -> int:
    """Python-eval nodes in a plan tree string; for a finished adaptive
    plan only its final plan counts."""
    if "== Final Plan ==" in plan_text:
        plan_text = plan_text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(PYTHON_NODE.findall(plan_text))


@pytest.fixture(scope="module")
def spark_and_fixture(tmp_path_factory):
    from gdal_spark import get_spark

    sf = tmp_path_factory.mktemp("sf")
    W.write_query_fixture(sf, seed=0)
    return get_spark("perfbench-test", cores=4), sf


@pytest.mark.parametrize("name", W.QUERY_NAMES)
def test_executed_plan_keeps_python_nodes(spark_and_fixture, name):
    import __spark_entry__ as entry

    spark, sf = spark_and_fixture
    full = {n.split("_")[0]: n for n in entry.queries()}
    df = entry.queries()[full[name]](spark, str(sf))
    qe = df._jdf.queryExecution()
    planned = python_nodes(qe.executedPlan().treeString())
    W.run_to_completion(df)
    executed = python_nodes(qe.executedPlan().treeString())
    assert executed == planned, (name, planned, executed)


def test_python_nodes_reads_final_plan_only():
    text = ("AdaptiveSparkPlan isFinalPlan=true\n+- == Final Plan ==\n   ArrowEvalPython [f]\n"
            "+- == Initial Plan ==\n   ArrowEvalPython [f]\n   MapInPandas g\n")
    assert python_nodes(text) == 1
    assert python_nodes("Project\n+- BatchEvalPython [f]\n   +- MapInPandas g\n") == 2
