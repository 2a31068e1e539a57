"""Plan-shape regression tests: the scale properties PERF.md claims
(pushdown, pruning, top-k, broadcast policy) must stay visible in the
executed plan — a refactor that silently loses one should fail CI, not a
cluster bill."""

from __future__ import annotations

import pytest

from alphavantage_etl_spark.queries import ALL_QUERIES as QUERIES

from .conftest import SF_SMALL


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark):
    return {
        name: _plan(QUERIES[name](spark, SF_SMALL))
        for name in (
            "q_agg_pricing",
            "q_topn_recent",
            "q_revenue_by_nation",
            "q_scan_project",
            "q_latest_row",
        )
    }


def test_filter_pushed_to_scan(plans):
    plan = plans["q_agg_pricing"]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan


def test_column_pruning(plans):
    # the 6 needed lineitem columns, not all 11
    scan = next(l for l in plans["q_agg_pricing"].splitlines() if "FileScan" in l)
    assert "l_quantity" in scan and "l_partkey" not in scan and "l_tax" not in scan
    scan = next(l for l in plans["q_scan_project"].splitlines() if "FileScan" in l)
    assert "o_orderdate" in scan and "o_orderpriority" not in scan


def test_topk_avoids_global_sort(plans):
    assert "TakeOrderedAndProject" in plans["q_topn_recent"]


def test_latest_row_is_aggregate_not_sort(plans):
    plan = plans["q_latest_row"]
    assert "HashAggregate" in plan or "SortAggregate" in plan
    assert "TakeOrderedAndProject" not in plan and "GlobalSort" not in plan


def test_star_join_broadcasts_dims(plans):
    assert plans["q_revenue_by_nation"].count("BroadcastHashJoin") >= 2


def test_no_python_udfs_in_oracle_backed_plans(spark):
    # The UDF-free rule (SURVEY.md 7.3.6): every oracle-backed query must
    # stay JVM-side. BatchEvalPython/ArrowEvalPython in a plan means a
    # Python round trip crept in. Plan construction is driver-side and
    # thread-safe (py4j opens a connection per thread; _fresh_shared
    # takes per-key build locks), so the 216-plan walk fans out across a
    # pool instead of paying each query's analysis latency serially.
    from concurrent.futures import ThreadPoolExecutor

    from alphavantage_etl_spark.queries import ALL_ORACLES as ORACLES

    def check(name: str) -> str | None:
        plan = _plan(QUERIES[name](spark, SF_SMALL))
        return name if "EvalPython" in plan else None

    with ThreadPoolExecutor(max_workers=8) as ex:
        bad = [n for n in ex.map(check, list(ORACLES)) if n]
    assert not bad, f"Python UDF stages in: {bad}"


def test_boilerplate_explodes_twice_not_thrice(spark):
    # counts + rebuild each need the exploded view (no CSE across lazy
    # consumers); per-doc totals must ride a narrow size(filter(split()))
    # projection — a third Generate means the cheap branch regressed
    plan = _plan(QUERIES["q_boilerplate"](spark, SF_SMALL))
    assert plan.count("Generate") == 2, plan[:1500]
