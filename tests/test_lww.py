"""W1 last-writer-wins: both physical strategies agree with each
other and with the sequential pure-python fold (hypothesis property)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datax_spark.operators.lww import lww_resolve

STRATEGIES = ("window", "max_by")


def _df(spark, events):
    return spark.createDataFrame(events, "url string, lsn long, payload string")


@pytest.mark.parametrize("strategy", STRATEGIES)
def test_basic_lww(spark, strategy):
    events = [("a", 1, "v1"), ("a", 3, "v3"), ("a", 2, "v2"), ("b", 10, "b10")]
    got = {
        r["url"]: (r["lsn"], r["payload"])
        for r in lww_resolve(_df(spark, events), strategy=strategy).collect()
    }
    assert got == {"a": (3, "v3"), "b": (10, "b10")}


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from("abcdef"), st.integers(1, 1000)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t,  # unique (key, lsn): per-key LSN uniqueness contract
    )
)
def test_lww_equals_sequential_fold(spark_global, pairs):
    spark = spark_global
    events = [(k, lsn, f"p{k}{lsn}") for k, lsn in pairs]
    # sequential fold in arbitrary-but-log order: max lsn wins per key
    expect: dict[str, tuple] = {}
    for k, lsn, p in sorted(events, key=lambda e: e[1]):
        expect[k] = (lsn, p)
    for strategy in STRATEGIES:
        got = {
            r["url"]: (r["lsn"], r["payload"])
            for r in lww_resolve(_df(spark, events), strategy=strategy).collect()
        }
        assert got == expect, strategy


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark


def test_maxby_plan_has_partial_aggregate(spark):
    """The scale property: map-side combine before the shuffle."""
    df = _df(spark, [("a", 1, "x")])
    plan = (
        lww_resolve(df, strategy="max_by")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_max_by" in plan.lower() or "HashAggregate" in plan
