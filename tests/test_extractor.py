"""Reference-semantics tests for the C1–C8 extractor (SURVEY §5.2).

Expected values below follow the verified pandas semantics of
`ML Feature Store Pipeline.py:165-181`: conditional count/mean keyed on
amount>0, elapsed-floor days_active, ratio columns.
"""

from __future__ import annotations

import pytest

from ml_feature_store_pipeline_spark.extractors import (
    ApproxUserEventExtractor,
    UserEventExtractor,
)


@pytest.fixture()
def features(events_frame):
    df = UserEventExtractor().extract(events_frame)
    return {r["user_id"]: r.asDict() for r in df.collect()}


def test_schema_and_rowcount(events_frame):
    df = UserEventExtractor().extract(events_frame)
    assert df.count() == 5
    assert df.columns == [
        "user_id",
        "total_events",
        "total_purchases",
        "total_amount",
        "avg_amount",
        "last_event_time",
        "first_event_time",
        "unique_event_types",
        "days_active",
        "purchase_rate",
        "avg_events_per_day",
    ]


def test_counts_and_sums(features):
    u1 = features[1]
    assert u1["total_events"] == 3
    assert u1["total_purchases"] == 2
    assert u1["total_amount"] == pytest.approx(40.0)
    assert u1["unique_event_types"] == 2


def test_avg_amount_is_positive_only_mean(features):
    # mean over positive amounts only (`:169`), not over all rows
    assert features[1]["avg_amount"] == pytest.approx(20.0)


def test_zero_purchase_user_fills_zero(features):
    u2 = features[2]
    assert u2["total_purchases"] == 0
    assert u2["avg_amount"] == 0.0  # NaN-fill path (`:177`)
    assert u2["purchase_rate"] == 0.0


def test_single_event_user(features):
    u3 = features[3]
    assert u3["days_active"] == 1
    assert u3["avg_events_per_day"] == pytest.approx(1.0)
    assert u3["first_event_time"] == u3["last_event_time"]


def test_days_active_is_elapsed_floor_not_datediff(features):
    # 2023-01-01 23:00 → 2023-01-03 01:00 is 26h elapsed ⇒ floor(26/24)+1 = 2.
    # calendar datediff would give 2+1 = 3 — the C7 trap (`:173`).
    assert features[4]["days_active"] == 2


def test_positive_amount_counts_as_purchase_regardless_of_type(features):
    # C2 keys on amount>0, not event_type == 'purchase' (`:167`)
    u5 = features[5]
    assert u5["total_purchases"] == 1
    assert u5["avg_amount"] == pytest.approx(7.5)
    assert u5["purchase_rate"] == pytest.approx(1.0)


def test_same_day_span_is_one_day(features):
    # user 2: 09:00 → 21:00 same day = 12h elapsed ⇒ days_active 1
    assert features[2]["days_active"] == 1
    assert features[2]["avg_events_per_day"] == pytest.approx(2.0)


def test_approx_variant_matches_exact_on_small_cardinality(events_frame):
    exact = {r["user_id"]: r for r in UserEventExtractor().extract(events_frame).collect()}
    approx = {
        r["user_id"]: r
        for r in ApproxUserEventExtractor().extract(events_frame).collect()
    }
    for uid in exact:
        # HLL++ is exact at tiny cardinalities; non-distinct columns identical
        assert approx[uid]["unique_event_types"] == exact[uid]["unique_event_types"]
        assert approx[uid]["total_amount"] == exact[uid]["total_amount"]


def test_renamed_columns_driver_schema(spark):
    """The driver events schema (ts/value) maps through constructor args."""
    import datetime as dt

    rows = [(1, "click", 5.0, dt.datetime(2024, 1, 1))]
    df = spark.createDataFrame(rows, "user_id long, event_type string, value double, ts timestamp")
    out = UserEventExtractor(amount_col="value", timestamp_col="ts").extract(df).collect()
    assert out[0]["total_purchases"] == 1
