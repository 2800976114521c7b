"""Query/oracle registry backing ``__spark_entry__.py``.

Each entry pairs a PySpark query (built on this package's operators) with
an ANSI-SQL twin that DuckDB executes over the same parquet tables. The
driver hash-compares values order-insensitively, so:

- every computed column is aliased identically on both sides;
- floating-point aggregates use the deterministic decimal-sum recipe from
  ``functions.dsum``/``dsum_sql`` (order-insensitive, engine-stable);
- top-k queries carry a total tiebreak so the SET of rows is well-defined.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extractors import UserEventExtractor
from .functions import dsum, dsum_sql
from .sources.readers import read_table

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    """Decorator: add a (query, oracle) pair to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return deco


def _ensure_loaded() -> None:
    """Import the registry modules (idempotent; deferred to avoid cycles)."""
    from . import harness_northstar, harness_olap, harness_queries  # noqa: F401


# The driver hash-verifies only the FIRST 50 ``queries()`` entries, so the
# registry is emitted in an explicit priority order: the window below, then
# the other oracle-backed queries, then the rows-only ones (registration
# order within each). The window favours the queries whose newest verified
# run is oldest, plus those whose function text changed since that run:
#
# - eighteen anchors last verified in round 7 (registry order);
# - nineteen queries whose code the round-13 optimizations touched;
# - thirteen anchors last verified in round 8 (registry order).
#
# tests/test_registry.py pins the invariants: the window is exactly the
# first 50 entries, every entry has an oracle, and no name repeats.
DRIVER_WINDOW: tuple[str, ...] = (
    # anchors last verified in round 7
    "cube_orders",
    "tpch_q4_like",
    "tpch_q18_like",
    "tpch_q14",
    "tpch_q7_like",
    "tpch_q15_like",
    "tpch_q19_like",
    "filter_in_list",
    "lineitem_quartiles",
    "events_per_type",
    "distinct_parts_per_flag",
    "revenue_by_region",
    "sample_events_10pct",
    "train_test_split_counts",
    "quartiles_by_priority",
    "top3_orders_per_priority",
    "distinct_users_per_type_2stage",
    "negative_sample_pairs",
    # code touched by the round-13 optimizations
    "item_item_cosine_topk",
    "bpe_train_merges",
    "lm_quality_score_docs",
    "bpe_encode_stats_docs",
    "kmeans_embeddings",
    "kmeans_balanced_sample",
    "ivf_ann_topk",
    "ann_rerank_eval",
    "lsh_ann_topk",
    "pq_ann_topk",
    "multimodal_decode",
    "audio_decode_stats",
    "image_phash_dup_groups",
    "audio_afp_dup_groups",
    "video_vhash_dup_groups",
    "pca_power_embeddings",
    "ml_quality_filter_docs",
    "random_projection_embeddings",
    "serving_parity_audit",
    # anchors last verified in round 8
    "semantic_decontaminate_embeddings",
    "dedup_survivors_priority_docs",
    "hard_negative_pairs",
    "prototypicality_scores",
    "vocab_coverage_docs",
    "quality_calibrated_docs",
    "source_overlap_docs",
    "bpe_token_stats_docs",
    "bpe_pair_stats_docs",
    "quality_calibrated_sketch_docs",
    "trend_slope_user_value",
    "funnel_view_click_purchase",
    "cohort_retention_weekly",
)


def _ordered_names() -> list[str]:
    pos = {n: i for i, n in enumerate(_QUERIES)}
    win = {n: i for i, n in enumerate(DRIVER_WINDOW)}

    def key(name: str) -> tuple[int, int]:
        if name in win:
            return (0, win[name])
        return (1 if name in _ORACLES else 2, pos[name])

    return sorted(_QUERIES, key=key)


def query_registry() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {n: _QUERIES[n] for n in _ordered_names()}


def oracle_registry() -> dict[str, str]:
    _ensure_loaded()
    return {n: _ORACLES[n] for n in _ordered_names() if n in _ORACLES}


# ---------------------------------------------------------------------------
# Flagship: the reference's C1–C8 extractor on the driver events table
# (ts → timestamp, value → amount per FIXTURES.md §2).
# ---------------------------------------------------------------------------


def flagship_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    extractor = UserEventExtractor(amount_col="value", timestamp_col="ts")
    return extractor.extract(events)


_FLAGSHIP_ORACLE = f"""
WITH agg AS (
  SELECT
    user_id,
    COUNT(event_type) AS total_events,
    CAST(COALESCE(SUM(CASE WHEN value > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS total_purchases,
    {dsum_sql('value')} AS total_amount,
    COALESCE(
      CAST(SUM(CASE WHEN value > 0 THEN CAST(value AS DECIMAL(28,4)) END) AS DOUBLE)
        / NULLIF(COUNT(CASE WHEN value > 0 THEN 1 END), 0),
      0.0) AS avg_amount,
    MAX(ts) AS last_event_time,
    MIN(ts) AS first_event_time,
    COUNT(DISTINCT event_type) AS unique_event_types,
    CAST(FLOOR(DATE_DIFF('second', MIN(ts), MAX(ts)) / 86400.0) + 1 AS BIGINT) AS days_active
  FROM events GROUP BY user_id
)
SELECT *,
  COALESCE(CAST(total_purchases AS DOUBLE) / NULLIF(total_events, 0), 0.0) AS purchase_rate,
  COALESCE(CAST(total_events AS DOUBLE) / NULLIF(days_active, 0), 0.0) AS avg_events_per_day
FROM agg
"""


@register("user_features", _FLAGSHIP_ORACLE)
def q_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-decimal build of the flagship query for oracle hashing
    (the library extractor keeps plain double sums; semantics identical)."""
    events = read_table(spark, sf_dir, "events")
    value, pred = F.col("value"), F.col("value") > 0
    agg = events.groupBy("user_id").agg(
        F.count("event_type").alias("total_events"),
        F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias("total_purchases"),
        dsum(value).alias("total_amount"),
        F.coalesce(
            F.sum(F.when(pred, value).cast("decimal(28,4)")).cast("double")
            / F.count(F.when(pred, F.lit(1))),
            F.lit(0.0),
        ).alias("avg_amount"),
        F.max("ts").alias("last_event_time"),
        F.min("ts").alias("first_event_time"),
        F.countDistinct("event_type").alias("unique_event_types"),
        (
            F.floor((F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))) / 86400)
            + F.lit(1)
        ).cast("long").alias("days_active"),
    )
    return agg.withColumn(
        "purchase_rate",
        F.coalesce(F.col("total_purchases") / F.nullif(F.col("total_events"), F.lit(0)), F.lit(0.0)),
    ).withColumn(
        "avg_events_per_day",
        F.coalesce(F.col("total_events") / F.nullif(F.col("days_active"), F.lit(0)), F.lit(0.0)),
    )
