"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from admira_etl_project_prueba_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="admira-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _plan_operators(df) -> Counter:
    """Operator class names of ``df``'s executed plan, each physical
    operator counted once: the final plan of every AdaptiveSparkPlan
    (main query and subqueries alike), query stages and reused exchanges
    resolved to the plan they wrap.  Collect ``df`` first so AQE has
    finalized.  AQE may place a shared broadcast in a subquery or in
    the main plan and print only a ``ReusedExchange`` (without its
    subtree) elsewhere, so counting the plan string depends on where it
    landed; counting the operators does not."""
    jvm = df.sparkSession._jvm
    seen, ops = set(), Counter()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        key = jvm.System.identityHashCode(node)
        if key in seen:
            continue
        seen.add(key)
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if name.startswith("Reused"):
            stack.append(node.child())
            continue
        ops[name] += 1
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return ops


@pytest.fixture(scope="session")
def plan_operators():
    return _plan_operators


@pytest.fixture(scope="session")
def jobs_started():
    """``jobs_started(spark, fn)`` → (result of ``fn()``, ids of the
    Spark jobs it started)."""
    from tools.construct_audit import jobs_started

    return jobs_started
