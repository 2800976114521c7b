from __future__ import annotations

import datetime as dt
import uuid

import pytest
from pyspark.sql import SparkSession

from ml_feature_store_pipeline_spark.schemas import RAW_EVENTS_SCHEMA
from ml_feature_store_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    s = get_spark("tests", shuffle_partitions=4)
    yield s


@pytest.fixture()
def jobs_run_by(spark):
    """``jobs_run_by(fn)``: ``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-run-by-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture()
def edge_frame(spark):
    """A frame with every value the quality profile must survive: NULL,
    NaN, ±inf, a decimal and a float column, an all-NULL column, a string
    column and a duplicated row."""
    from decimal import Decimal

    inf, nan = float("inf"), float("nan")
    rows = [
        (1, 1.5, Decimal("1.25"), 1.0, None, "a"),
        (2, None, Decimal("-3.50"), 2.5, None, None),
        (3, nan, None, float("nan"), None, "c"),
        (4, inf, Decimal("1e6"), 3.0, None, "d"),
        (5, -inf, Decimal("0.01"), -1.0, None, "e"),
        (6, 2.0, Decimal("2.00"), None, None, "f"),
        (7, 1e300, Decimal("2.00"), 4.0, None, "g"),
        (7, 1e300, Decimal("2.00"), 4.0, None, "g"),
    ]
    return spark.createDataFrame(
        rows, "user_id long, x double, d decimal(12,2), f float, allnull double, s string"
    )


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def events_frame(spark):
    """Hand-built events exercising every FIXTURES.md §1.1 edge case:
    zero-purchase user, single-event user, the 23:00→01:00 days_active trap,
    and a positive amount on a non-purchase event_type."""
    rows = [
        # user 1: two purchases + one zero-amount click across 3 elapsed-days
        (1, "purchase", 10.0, ts("2023-01-01 10:00:00")),
        (1, "purchase", 30.0, ts("2023-01-02 10:00:00")),
        (1, "click", 0.0, ts("2023-01-03 10:00:00")),
        # user 2: zero purchases → avg_amount 0.0, purchase_rate 0.0
        (2, "view", 0.0, ts("2023-01-01 09:00:00")),
        (2, "click", 0.0, ts("2023-01-01 21:00:00")),
        # user 3: single event → days_active 1, avg_events_per_day 1.0
        (3, "search", 0.0, ts("2023-01-05 12:00:00")),
        # user 4: 23:00 day1 → 01:00 day3 = 26h elapsed → days_active 2 (not datediff+1=3)
        (4, "click", 0.0, ts("2023-01-01 23:00:00")),
        (4, "click", 0.0, ts("2023-01-03 01:00:00")),
        # user 5: positive amount on a NON-purchase event — still counted (C2 trap)
        (5, "view", 7.5, ts("2023-01-01 00:00:00")),
    ]
    return spark.createDataFrame(rows, schema=RAW_EVENTS_SCHEMA)
