"""TPC-H suite: every query runs at sf0.001 and produces a stable schema.

Value-level correctness is enforced by tools/selfcheck.py (DuckDB oracle)
and the driver's CORRECTNESS gate; these tests catch runtime regressions
fast and assert plan-shape properties that matter at 100 TB scale.
"""

import pytest

from greengage_spark.plans.tpch import suite


@pytest.mark.parametrize("name", sorted(suite.queries))
def test_query_runs(spark, sf_dir, name):
    q = suite.queries[name]
    df = q.fn(spark, sf_dir)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0


def test_q1_groups(spark, sf_dir):
    df = suite.queries["q1_pricing_summary"].fn(spark, sf_dir)
    rows = {(r.l_returnflag, r.l_linestatus) for r in df.collect()}
    assert len(rows) == 6  # 3 flags × 2 statuses in testdata


def test_q6_filter_pushdown(spark, sf_dir):
    """Predicates must reach the parquet scan (PushedFilters)."""
    df = suite.queries["q6_revenue_forecast"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "LessThan(l_quantity" in plan


def test_q5_broadcasts_replicated_dims(spark, sf_dir):
    """region/nation/supplier are DISTRIBUTED REPLICATED → broadcast joins."""
    df = suite.queries["q5_local_supplier"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    """Multi-stage agg: partial_sum before the exchange (map-side combine),
    the reference's 2-stage agg (cdbgroup.c) done by Catalyst."""
    df = suite.queries["q1_pricing_summary"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan


def test_codegen_cache_holds_the_olap_rows(spark, sf_dir):
    """A repeated pass of the eight headline rows compiles no class: the
    session's codegen cache holds every class the first pass generated."""
    from bench import HEADLINE

    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass():
        before = metric.getCount()
        for name in HEADLINE:
            suite.queries[name].fn(spark, sf_dir).collect()
            spark.catalog.clearCache()
        return metric.getCount() - before

    one_pass()  # compiles the working set
    assert one_pass() == 0
