"""The full query/oracle inventory (SURVEY §2 line-by-line + north-star).

Imported for side effects by ``harness`` — every ``@register`` call here
adds a (PySpark query, DuckDB oracle) pair to the registry that
``__spark_entry__.queries()/oracle_sql()`` expose.

Conventions (driver hash-compare contract):
- identical column aliases on both sides;
- float aggregates via the decimal-sum recipe (``functions.dsum``);
- top-k queries carry total tiebreaks so the selected SET is unique;
- md5-derived hashes (not xxhash64) wherever the oracle must reproduce
  hash values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import davg, davg_sql, dsum, dsum_sql, local_frame, token_count
from .harness import register
from .operators import joins, text, windows
from .operators.sketches import hash_fraction_sql
from .sources.readers import read_table


# ---------------------------------------------------------------------------
# A/B-series: scans, filters, projections (reference A6, B1–B4)
# ---------------------------------------------------------------------------


@register(
    "scan_filter_project",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 150000.0
    """,
)
def q_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 equality + comparison predicates and B4 projection, pushed to parquet."""
    return (
        read_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 150000.0))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "filter_in_list",
    """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
    """,
)
def q_filter_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: IN-list as ``isin`` — literal semi-join, pushed to the scan."""
    return (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@register(
    "iqr_outlier_summary",
    """
    WITH q AS (
      SELECT quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3 FROM events
    )
    SELECT ROUND(q1, 6) AS q1, ROUND(q3, 6) AS q3,
           CAST(COUNT(CASE WHEN value < q1 - 1.5*(q3-q1) OR value > q3 + 1.5*(q3-q1) THEN 1 END) AS BIGINT) AS n_outliers,
           COUNT(*) AS n_rows
    FROM events, q GROUP BY q1, q3
    """,
)
def q_iqr_outlier_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9/C11/C12: exact-percentile IQR band + violation count (2 jobs → one row)."""
    events = read_table(spark, sf_dir, "events")
    q = events.agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    return (
        events.crossJoin(F.broadcast(q))
        .groupBy("q1", "q3")
        .agg(
            F.sum(
                (
                    (F.col("value") < F.col("q1") - 1.5 * (F.col("q3") - F.col("q1")))
                    | (F.col("value") > F.col("q3") + 1.5 * (F.col("q3") - F.col("q1")))
                ).cast("long")
            ).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.round("q1", 6).alias("q1"),
            F.round("q3", 6).alias("q3"),
            "n_outliers",
            "n_rows",
        )
    )


# ---------------------------------------------------------------------------
# C-series: aggregations & quality stats (C9–C12, C6)
# ---------------------------------------------------------------------------


@register(
    "quality_null_dup_stats",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT (user_id, event_type, value)) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT (user_id, event_type, value)) AS DOUBLE) / COUNT(*) AS dup_fraction,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_value,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_event_type
    FROM events
    """,
)
def q_quality_null_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 null counts + C10 duplicate fraction in ONE aggregation pass."""
    events = read_table(spark, sf_dir, "events")
    key = F.struct("user_id", "event_type", "value")
    return events.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(key).alias("n_distinct"),
        ((F.count(F.lit(1)) - F.countDistinct(key)) / F.count(F.lit(1))).alias("dup_fraction"),
        F.sum(F.col("value").isNull().cast("long")).alias("nulls_value"),
        F.sum(F.col("event_type").isNull().cast("long")).alias("nulls_event_type"),
    )


@register(
    "lineitem_quartiles",
    """
    SELECT ROUND(quantile_cont(l_quantity, 0.25), 6) AS qty_q1,
           ROUND(quantile_cont(l_quantity, 0.75), 6) AS qty_q3,
           ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS price_q1,
           ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS price_q3,
           ROUND(quantile_cont(l_discount, 0.25), 6) AS disc_q1,
           ROUND(quantile_cont(l_discount, 0.75), 6) AS disc_q3
    FROM lineitem
    """,
)
def q_lineitem_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11: exact linear-interpolation percentiles (pandas-compatible), one pass."""
    li = read_table(spark, sf_dir, "lineitem")
    cols = [("l_quantity", "qty"), ("l_extendedprice", "price"), ("l_discount", "disc")]
    aggs = []
    for c, short in cols:
        aggs.append(F.round(F.expr(f"percentile({c}, 0.25)"), 6).alias(f"{short}_q1"))
        aggs.append(F.round(F.expr(f"percentile({c}, 0.75)"), 6).alias(f"{short}_q3"))
    return li.agg(*aggs)


@register(
    "events_per_type",
    f"""
    SELECT event_type, COUNT(*) AS n, {dsum_sql('value')} AS total_value,
           {davg_sql('value')} AS avg_value
    FROM events GROUP BY event_type
    """,
)
def q_events_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        read_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("total_value"),
            davg(F.col("value")).alias("avg_value"),
        )
    )


@register(
    "distinct_parts_per_flag",
    """
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 exact count-distinct per group (the approx variant is
    ``ApproxUserEventExtractor`` / ``approx_count_distinct``, flagged inexact)."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n_parts"), F.count(F.lit(1)).alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# F-series: sorts / limits / top-k (F1–F3)
# ---------------------------------------------------------------------------


@register(
    "topk_latest_events",
    """
    SELECT event_id, ts, user_id, event_type FROM events
    ORDER BY ts DESC, event_id ASC LIMIT 20
    """,
)
def q_topk_latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: ORDER BY … LIMIT — Catalyst plans TakeOrderedAndProject (heap
    top-k per partition + merge), never a full sort."""
    return (
        read_table(spark, sf_dir, "events")
        .orderBy(F.desc("ts"), F.asc("event_id"))
        .select("event_id", "ts", "user_id", "event_type")
        .limit(20)
    )


@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, ts, value FROM (
      SELECT user_id, event_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3's general form: keep-latest-N per key via row_number (N=1)."""
    return windows.top_n_per_group(
        read_table(spark, sf_dir, "events"),
        ["user_id"],
        "ts",
        1,
        tiebreak_cols=["event_id"],
    ).select("user_id", "event_id", "ts", "value")


# ---------------------------------------------------------------------------
# D-series: joins (built-out surface; reference has none — SURVEY §2.D)
# ---------------------------------------------------------------------------


@register(
    "customer_order_counts",
    f"""
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
           COALESCE({dsum_sql('o.o_totalprice')}, 0.0) AS total_spent
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def q_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT equi-join + B7 null-fill: customers with zero orders keep 0/0.0."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum(F.col("o_totalprice")), F.lit(0.0)).alias("total_spent"),
        )
    )


@register(
    "revenue_by_region",
    f"""
    SELECT r.r_name, COUNT(o.o_orderkey) AS n_orders, {dsum_sql('o.o_totalprice')} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact survives one pipeline of BROADCAST hash joins (dims are
    tiny) — zero shuffles until the final group-by."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("o_orderkey").alias("n_orders"), dsum(F.col("o_totalprice")).alias("revenue"))
    )


@register(
    "tpch_q1",
    f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)', scale=6)} AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', scale=6)} AS sum_charge,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           {davg_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: 2-key groupBy, 8 aggregates, partial→final hash agg.
    Per-row products stay double (deterministic); sums go through decimals.
    parallelize: decimal partial-agg is CPU-bound and must not fuse into a
    1-task scan (single-row-group testdata)."""
    li = read_table(spark, sf_dir, "lineitem", parallelize=True).filter(
        F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        dsum(disc_price, scale=6).alias("sum_disc_price"),
        dsum(charge, scale=6).alias("sum_charge"),
        davg(F.col("l_quantity")).alias("avg_qty"),
        davg(F.col("l_extendedprice")).alias("avg_price"),
        davg(F.col("l_discount")).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "tpch_q3_topk",
    f"""
    SELECT o.o_orderkey, {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', scale=6)} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """,
)
def q_tpch_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter (broadcast) → fact join → agg →
    top-k with tiebreak."""
    c = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    l = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, scale=6).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "semi_join_customers",
    "SELECT c_custkey, c_name FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
)
def q_semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 as a real semi-join (EXISTS)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return joins.semi_join(c, o, c.c_custkey == o.o_custkey).select("c_custkey", "c_name")


@register(
    "anti_join_customers",
    "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
)
def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 retention shape (NOT EXISTS)."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    return joins.anti_join(c, o, c.c_custkey == o.o_custkey).select("c_custkey", "c_name")


# NOT DuckDB's ASOF JOIN: its choice among right rows tied on o_orderdate
# is unspecified, and sf0.1 has 355 duplicate (custkey, orderdate) pairs —
# found by running this gate at sf0.1, where the engines diverged on 154
# rows. The explicit window pins the engine's documented tie-break (latest
# date, then greatest (o_orderkey, o_totalprice) tuple — joins.asof_join's
# ordering by (ts, side, __vals)) so the oracle is deterministic at EVERY
# scale factor, not just the tie-free sf0.01 the driver checks.
_ASOF_EVENTS_ORDERS_SQL = """
    WITH cand AS (
      SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC, o.o_totalprice DESC
             ) AS rn
      FROM events e LEFT JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    )
    SELECT event_id, user_id, ts, o_orderkey, o_totalprice FROM cand WHERE rn = 1
    """


def _asof_events_orders(spark: SparkSession, sf_dir: str, bucket_seconds: int | None) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    o = read_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    kw = dict(
        key="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey", "o_totalprice"],
    )
    joined = (
        joins.asof_join(e, o, **kw)
        if bucket_seconds is None
        else joins.asof_join_bucketed(e, o, bucket_seconds=bucket_seconds, **kw)
    )
    return joined.select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


@register("asof_events_orders", _ASOF_EVENTS_ORDERS_SQL)
def q_asof_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each event sees the latest order at-or-before its
    timestamp — the leakage-free feature-lookup primitive. Union+window
    implementation: one shuffle, no range explosion."""
    return _asof_events_orders(spark, sf_dir, None)


@register("asof_events_orders_bucketed", _ASOF_EVENTS_ORDERS_SQL)
def q_asof_events_orders_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe bucketed form of asof_events_orders — IDENTICAL results
    (same oracle proves it), but windows partition by (key, day-bucket) so
    a hot key splits across tasks. Perf-tracked in bench.py so the
    mitigation's overhead vs the plain window is measured every round."""
    return _asof_events_orders(spark, sf_dir, 86_400)


@register("asof_events_orders_auto", _ASOF_EVENTS_ORDERS_SQL)
def q_asof_events_orders_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-adaptive as-of: a one-pass count-by-key probe picks the plain
    window (uniform keys — this data) or the bucketed twin (hot keys), so
    users never pay skew insurance they don't need. Same oracle as both
    twins — the choice is pure performance, never semantics."""
    e = read_table(spark, sf_dir, "events")
    o = read_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    return joins.asof_join_auto(
        e, o, key="user_id", left_ts="ts", right_ts="o_orderdate",
        value_cols=["o_orderkey", "o_totalprice"],
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


@register(
    "asof_events_orders_stale30d",
    """
    WITH cand AS (
      SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC, o.o_totalprice DESC
             ) AS rn
      FROM events e LEFT JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
           AND o.o_orderdate >= e.ts - INTERVAL 30 DAY
    )
    SELECT event_id, user_id, ts, o_orderkey, o_totalprice FROM cand WHERE rn = 1
    """,
)
def q_asof_events_orders_stale30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of with a 30-day staleness bound (r5): the feature-freshness SLA
    form — an order older than 30 days at event time is NO match (value
    columns NULL), never silently served stale. Oracle: the same explicit
    tie-break window with the window-suffix predicate (equivalent because
    candidates ordered by recency make the tolerance a suffix cut)."""
    e = read_table(spark, sf_dir, "events")
    o = read_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    return joins.asof_join(
        e, o, key="user_id", left_ts="ts", right_ts="o_orderdate",
        value_cols=["o_orderkey", "o_totalprice"],
        tolerance_seconds=30 * 86_400,
    ).select("event_id", "user_id", "ts", "o_orderkey", "o_totalprice")


@register(
    "asof_prev_order",
    """
    WITH cand AS (
      SELECT cur.o_orderkey, cur.o_custkey,
             prev.o_orderkey AS prev_orderkey, prev.o_totalprice AS prev_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY cur.o_orderkey
               ORDER BY prev.o_orderdate DESC, prev.o_orderkey DESC,
                        prev.o_totalprice DESC
             ) AS rn
      FROM orders cur LEFT JOIN orders prev
        ON cur.o_custkey = prev.o_custkey AND prev.o_orderdate < cur.o_orderdate
    )
    SELECT o_orderkey, o_custkey, prev_orderkey, prev_totalprice FROM cand WHERE rn = 1
    """,
)
def q_asof_prev_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict as-of self-join: each order sees the customer's latest EARLIER
    order (tests the exclusive-bound mode).

    Oracle is an explicit-window rewrite, not DuckDB ASOF, which breaks
    o_orderdate ties arbitrarily — sf0.1 HAS such ties (355 duplicate
    (custkey, orderdate) pairs); see _ASOF_EVENTS_ORDERS_SQL."""
    o = read_table(spark, sf_dir, "orders")
    prev = o.select(
        F.col("o_custkey"),
        F.col("o_orderdate"),
        F.col("o_orderkey").alias("prev_orderkey"),
        F.col("o_totalprice").alias("prev_totalprice"),
    )
    return joins.asof_join(
        o,
        prev,
        key="o_custkey",
        left_ts="o_orderdate",
        right_ts="o_orderdate",
        value_cols=["prev_orderkey", "prev_totalprice"],
        strict=True,
    ).select("o_orderkey", "o_custkey", "prev_orderkey", "prev_totalprice")


@register(
    "band_join_price_tiers",
    f"""
    WITH bands(tier, lo, hi) AS (
      VALUES ('budget', 0.0, 925.0), ('mid', 925.0, 950.0),
             ('high', 950.0, 975.0), ('premium', 975.0, 1e12)
    )
    SELECT b.tier, COUNT(p.p_partkey) AS n_parts, {davg_sql('p.p_retailprice')} AS avg_price
    FROM part p LEFT JOIN bands b ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.tier
    """,
)
def q_band_join_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join via broadcast nested-loop — interval dim is tiny."""
    p = read_table(spark, sf_dir, "part")
    bands = local_frame(
        spark,
        [("budget", 0.0, 925.0), ("mid", 925.0, 950.0), ("high", 950.0, 975.0), ("premium", 975.0, 1e12)],
        "tier string, lo double, hi double",
    )
    return (
        joins.band_join(p, bands, "p_retailprice")
        .groupBy("tier")
        .agg(F.count("p_partkey").alias("n_parts"), davg(F.col("p_retailprice")).alias("avg_price"))
    )


# ---------------------------------------------------------------------------
# E-series: window functions
# ---------------------------------------------------------------------------


@register(
    "running_revenue",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM orders
    """,
)
def q_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative frame aggregate per key (decimal-summed for determinism)."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(28,4)")).over(w).cast("double").alias("running_total"),
    )


@register(
    "lag_lead_events",
    """
    SELECT event_id, user_id,
           LAG(value) OVER w AS prev_value,
           LEAD(value) OVER w AS next_value
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def q_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@register(
    "sessionize_events",
    """
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR DATE_DIFF('second', LAG(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS is_start
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    )
    SELECT user_id, CAST(SUM(is_start) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) rolled up per user."""
    sess = windows.sessionize(read_table(spark, sf_dir, "events"), "user_id", "ts", 1800)
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


# ---------------------------------------------------------------------------
# G-series: set operations
# ---------------------------------------------------------------------------


@register(
    "set_ops_summary",
    """
    WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
         rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0)
    SELECT
      (SELECT COUNT(*) FROM (SELECT * FROM building UNION SELECT * FROM rich)) AS n_union,
      (SELECT COUNT(*) FROM (SELECT * FROM building INTERSECT SELECT * FROM rich)) AS n_intersect,
      (SELECT COUNT(*) FROM (SELECT * FROM building EXCEPT SELECT * FROM rich)) AS n_except,
      (SELECT COUNT(*) FROM (SELECT * FROM building UNION ALL SELECT * FROM rich)) AS n_union_all
    """,
)
def q_set_ops_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-series: union / union all / intersect / except on key sets."""
    c = read_table(spark, sf_dir, "customer")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = c.filter(F.col("c_acctbal") > 5000.0).select("c_custkey")
    vals = [
        building.union(rich).distinct().count(),
        building.intersect(rich).count(),
        building.exceptAll(rich).distinct().count(),
        building.unionAll(rich).count(),
    ]
    return local_frame(
        spark, [tuple(vals)], "n_union long, n_intersect long, n_except long, n_union_all long"
    )


# ---------------------------------------------------------------------------
# H-series: scalar functions (JSON, hashing, strings)
# ---------------------------------------------------------------------------


@register(
    "json_props_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket
    FROM events
    """,
)
def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6: JSON decode as a typed column expression."""
    e = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select("event_id", k.alias("k"), (k % 10).alias("k_bucket"))


@register(
    "doc_fingerprints",
    """
    SELECT doc_id, md5(text) AS fp_raw,
           md5(array_to_string(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> ''), ' ')) AS fp_normalized
    FROM documents
    """,
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H7 md5 + normalized content fingerprint (north-star text op)."""
    return text.fingerprint(read_table(spark, sf_dir, "documents"), "doc_id", "text")


_TRAINING_SET_PIT_SQL = """
    WITH ord AS (
      SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                ORDER BY o_orderkey DESC) AS rn
      FROM orders
    ), ordd AS (
      SELECT user_id, o_orderdate, o_orderkey, o_totalprice FROM ord WHERE rn = 1
    ), labels AS (
      SELECT event_id, user_id, ts, value AS label
      FROM events WHERE event_type = 'purchase'
    )
    SELECT l.event_id, l.user_id, l.ts, l.label,
           o.o_orderdate AS ord__asof_ts, o.o_orderkey AS ord__o_orderkey,
           o.o_totalprice AS ord__o_totalprice,
           e.ts AS act__asof_ts, e.value AS act__value,
           e.event_type AS act__event_type
    FROM labels l
    ASOF LEFT JOIN ordd o ON l.user_id = o.user_id AND l.ts >= o.o_orderdate
    ASOF LEFT JOIN events e ON l.user_id = e.user_id AND l.ts > e.ts
    """


def _training_set_pit(
    spark: SparkSession,
    sf_dir: str,
    bucket_seconds: int | None,
    skew_adaptive: bool = False,
) -> DataFrame:
    from .operators.pit import FeatureView, training_set

    e = read_table(spark, sf_dir, "events")
    labels = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("label")
    )
    o = read_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    w = Window.partitionBy("user_id", "o_orderdate").orderBy(F.desc("o_orderkey"))
    ordd = (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    return training_set(
        labels,
        {
            "ord": FeatureView(ordd, "o_orderdate", ["o_orderkey", "o_totalprice"]),
            "act": FeatureView(e, "ts", ["value", "event_type"], strict=True),
        },
        key="user_id",
        label_ts="ts",
        bucket_seconds=bucket_seconds,
        skew_adaptive=skew_adaptive,
    ).select(
        "event_id", "user_id", "ts", "label",
        "ord__asof_ts", "ord__o_orderkey", "ord__o_totalprice",
        "act__asof_ts", "act__value", "act__event_type",
    )


@register("training_set_pit", _TRAINING_SET_PIT_SQL)
def q_training_set_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time training set (operators.pit.training_set): purchase
    events are the labels; each label row gets (a) the customer's latest
    order at-or-before the label time (inclusive as-of over a
    deterministically deduped orders view) and (b) the strictly-previous
    event (prev-value semantics). One shuffle per feature view."""
    return _training_set_pit(spark, sf_dir, None)


@register("training_set_pit_bucketed", _TRAINING_SET_PIT_SQL)
def q_training_set_pit_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe PIT training set: every as-of runs in the bucketed form
    (day buckets) — IDENTICAL results (same oracle), perf-tracked in
    bench.py against the plain-window form."""
    return _training_set_pit(spark, sf_dir, 86_400)


@register("training_set_pit_auto", _TRAINING_SET_PIT_SQL)
def q_training_set_pit_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-ADAPTIVE PIT training set: each feature view probes its own
    key-skew (one count-by-key job) and picks plain vs bucketed per view
    (operators.pit.training_set(skew_adaptive=True)). Same oracle as the
    fixed forms — the choice is pure performance. In the r4 driver window."""
    return _training_set_pit(spark, sf_dir, None, skew_adaptive=True)


@register(
    "sample_events_10pct",
    """
    SELECT event_id, user_id, ts
    FROM events
    WHERE CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000 < 1000
    """,
)
def q_sample_events_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample by event_id hash — same rows on any engine,
    any partitioning (operators.sampling). The sample predicate is a scan
    filter: no shuffle, no sampling state."""
    from .operators.sampling import deterministic_sample

    e = read_table(spark, sf_dir, "events")
    return deterministic_sample(e, "event_id", 0.10).select("event_id", "user_id", "ts")


@register(
    "train_test_split_counts",
    """
    SELECT CASE WHEN CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                     AS BIGINT) % 10000 < 2000
                THEN 'test' ELSE 'train' END AS split,
           COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)
def q_train_test_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/20 split keyed on the ENTITY (user_id): every event
    of a user lands on one side, and assignments never move as data grows."""
    from .operators.sampling import split_column

    e = read_table(spark, sf_dir, "events")
    return (
        e.withColumn("split", split_column(F.col("user_id"), 0.20))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "backfill_snapshots",
    """
    WITH ord AS (
      SELECT o_custkey AS user_id, o_orderdate, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                ORDER BY o_orderkey DESC) AS rn
      FROM orders
    ), ordd AS (
      SELECT user_id, o_orderdate, o_orderkey, o_totalprice FROM ord WHERE rn = 1
    ), labels AS (
      SELECT c.c_custkey AS user_id, t.snapshot_ts
      FROM customer c, (VALUES (TIMESTAMP '1997-01-01 00:00:00'),
                               (TIMESTAMP '1999-01-01 00:00:00'),
                               (TIMESTAMP '2001-01-01 00:00:00')) t(snapshot_ts)
    )
    SELECT l.user_id, l.snapshot_ts,
           o.o_orderdate AS ord__asof_ts, o.o_orderkey AS ord__o_orderkey,
           o.o_totalprice AS ord__o_totalprice
    FROM labels l
    ASOF LEFT JOIN ordd o ON l.user_id = o.user_id AND l.snapshot_ts >= o.o_orderdate
    """,
)
def q_backfill_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three historical snapshots of every customer's latest-order features
    in one pass (operators.pit.backfill): the label set is customers ×
    snapshot dates, then a single as-of join — N materializations for one
    shuffle."""
    from .operators.pit import FeatureView, backfill

    c = read_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("user_id"))
    o = read_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    w = Window.partitionBy("user_id", "o_orderdate").orderBy(F.desc("o_orderkey"))
    ordd = (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    return backfill(
        c,
        ["1997-01-01 00:00:00", "1999-01-01 00:00:00", "2001-01-01 00:00:00"],
        {"ord": FeatureView(ordd, "o_orderdate", ["o_orderkey", "o_totalprice"])},
        key="user_id",
    ).select(
        "user_id", "snapshot_ts", "ord__asof_ts", "ord__o_orderkey", "ord__o_totalprice"
    )


@register(
    "quartiles_by_priority",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(quantile_cont(o_totalprice, 0.25), 6) AS price_q1,
           ROUND(quantile_cont(o_totalprice, 0.50), 6) AS price_med,
           ROUND(quantile_cont(o_totalprice, 0.75), 6) AS price_q3
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_quartiles_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles (grouped C11): one partial→final hash agg —
    percentile's merge buffer makes group quantiles a normal aggregate, no
    per-group sort or window."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("price_q1"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 6).alias("price_med"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("price_q3"),
    )


@register(
    "top3_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders
    ) WHERE rnk <= 3
    """,
)
def q_top3_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k (the per-key sibling of TakeOrdered): row_number over
    (group, value desc) + rank filter — one exchange on the group key, and
    Spark's WindowGroupLimit pushes the k-cutoff below the sort so each
    partition keeps only k rows. Orderkey tiebreak pins the set."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    )
    return (
        o.select(
            "o_orderpriority", "o_orderkey", "o_totalprice",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@register(
    "distinct_users_per_type_2stage",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct
    FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    """,
)
def q_distinct_users_per_type_2stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count via the skew-safe dedupe-then-count rewrite
    (operators.skew.exact_distinct_two_stage): the hot key's distinct set
    spreads over the (key, value) shuffle instead of one final task. Same
    answer as COUNT(DISTINCT) — the oracle IS count-distinct."""
    from .operators.skew import exact_distinct_two_stage

    e = read_table(spark, sf_dir, "events")
    return exact_distinct_two_stage(e, ["event_type"], "user_id")


# ---------------------------------------------------------------------------
# feature-engineering encodings (round 4 — operators/fe.py)
# ---------------------------------------------------------------------------


@register(
    "quantile_bin_orders",
    None,  # installed below via fe.quantile_bin_sql
)
def q_quantile_bin_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-population decile binning of o_totalprice (operators/fe.py):
    one aggregate computes the 9 exact interpolated boundaries, a
    broadcast assigns bins map-side — no ntile global sort. Output is the
    per-bin profile (count + decimal-exact sum)."""
    from .operators import fe

    o = read_table(spark, sf_dir, "orders")
    binned = fe.quantile_bin(o, "o_totalprice", n_bins=10)
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("o_totalprice")).alias("total_price")
    )


@register(
    "target_encode_events",
    None,  # installed below via fe.target_encode_sql
)
def q_target_encode_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of event_type by mean(value) with a
    pseudo-count-10 shrink toward the global mean — the standard
    leakage-averse categorical encoder, decimal-sum deterministic."""
    from .operators import fe

    e = read_table(spark, sf_dir, "events")
    return fe.target_encode(e, "event_type", "value", prior_weight=10.0)


@register(
    "hashed_cross_events",
    None,  # installed below via fe.hashed_cross_sql
)
def q_hashed_cross_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature cross event_type × (user_id mod 16) into 64
    buckets (md5-deterministic, so train and serve recompute identical
    buckets), profiled as counts + decimal value sums per bucket."""
    from .operators import fe

    e = read_table(spark, sf_dir, "events")
    bucket = fe.hashed_cross(
        [F.col("event_type"), F.col("user_id") % 16], dim=64
    ).alias("bucket")
    return e.select(bucket, "value").groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total_value")
    )


def _install_fe_oracles() -> None:
    from .harness import _ORACLES
    from .operators import fe

    bounds_cte, bin_expr = fe.quantile_bin_sql("orders", "o_totalprice", n_bins=10)
    _ORACLES["quantile_bin_orders"] = f"""
    WITH qb AS ({bounds_cte})
    SELECT {bin_expr} AS bin, CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('o_totalprice')} AS total_price
    FROM orders, qb GROUP BY 1
    """
    _ORACLES["target_encode_events"] = fe.target_encode_sql(
        "events", "event_type", "value", prior_weight=10.0
    )
    cross = fe.hashed_cross_sql(["event_type", "user_id % 16"], dim=64)
    _ORACLES["hashed_cross_events"] = f"""
    SELECT {cross} AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('value')} AS total_value
    FROM events GROUP BY 1
    """


_install_fe_oracles()


@register(
    "incremental_distinct_users_per_type",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_distinct,
           TRUE AS within_2pct
    FROM events GROUP BY event_type
    """,
)
def q_incremental_distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct state (r5): the event stream splits into 3
    batches, each sketches per-type distinct users, the states UNION
    (idempotent, order-free), and the estimate must land within 2% of the
    exact distinct — a bounded oracle in the ANN-recall style: the flag is
    computed Spark-side against the exact count, DuckDB asserts the same
    exact count and the literal bound. This is the distinct counter a
    streaming sink maintains over unbounded history in O(keys) space."""
    from .operators import incremental

    e = read_table(spark, sf_dir, "events")
    states = [
        incremental.distinct_state(
            e.filter(F.col("event_id") % 3 == i), ["event_type"], "user_id"
        )
        for i in range(3)
    ]
    merged = incremental.merge_distinct_states(*states)
    est = incremental.finalize_distinct(merged)
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return exact.join(est, "event_type").select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("distinct_est") - F.col("exact_distinct"))
            <= 0.02 * F.col("exact_distinct")
        ).alias("within_2pct"),
    )


@register(
    "robust_scale_orders",
    """
    WITH b AS (
      SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.5)  AS med,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders
    )
    SELECT o_orderkey,
           ROUND(CASE WHEN (b.q3 - b.q1) > 0 THEN (o_totalprice - b.med) / (b.q3 - b.q1)
                      WHEN o_totalprice IS NOT NULL THEN 0.0 END, 6) AS o_totalprice_r
    FROM orders, b
    """,
)
def q_robust_scale_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR robust scaling (r5): the outlier-immune standardization —
    one exact-percentile aggregate broadcast into the scan."""
    from .operators import fe

    o = read_table(spark, sf_dir, "orders")
    return fe.robust_scale(o, ["o_totalprice"]).select("o_orderkey", "o_totalprice_r")


@register(
    "target_encode_oof_events",
    None,  # installed below (needs the md5 fold recipe + dsum)
)
def q_target_encode_oof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold smoothed target encoding (r5): each fold's encoding of
    event_type excludes that fold's own labels (md5-deterministic folds by
    user_id) — the leakage-safe training-time variant of
    target_encode_events. The oracle replays fold assignment, decimal
    sums, subtraction, and rounding exactly."""
    from .operators import fe

    e = read_table(spark, sf_dir, "events")
    return fe.target_encode_oof(e, "event_type", "value", "user_id", k=5)


def _install_oof_oracle() -> None:
    from .harness import _ORACLES

    fold = "CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS INTEGER)"
    s = dsum_sql("value")
    _ORACLES["target_encode_oof_events"] = f"""
    WITH per_cf AS (
      SELECT event_type, {fold} AS fold, COUNT(value) AS nf, {s} AS sf
      FROM events GROUP BY event_type, {fold}
    ),
    per_cat AS (
      SELECT event_type, SUM(nf) AS n,
             CAST(SUM(CAST(sf AS DECIMAL(28,4))) AS DOUBLE) AS sc
      FROM per_cf GROUP BY event_type
    ),
    tot AS (SELECT SUM(n) AS tn,
                   CAST(SUM(CAST(sc AS DECIMAL(28,4))) AS DOUBLE) AS ts FROM per_cat)
    SELECT per_cf.event_type, fold,
           CAST(per_cat.n - per_cf.nf AS BIGINT) AS n_oof,
           ROUND(((per_cat.sc - per_cf.sf) + 10.0 * (tot.ts / tot.tn))
                 / ((per_cat.n - per_cf.nf) + 10.0), 9) AS enc
    FROM per_cf JOIN per_cat USING (event_type), tot
    """


_install_oof_oracle()


@register(
    "jsd_event_type_drift",
    """
    WITH e AS (
      SELECT event_type AS category, COUNT(*) AS ne FROM events WHERE user_id % 2 = 0 GROUP BY 1
    ),
    a AS (
      SELECT event_type AS category, COUNT(*) AS na FROM events WHERE user_id % 2 = 1 GROUP BY 1
    ),
    te AS (SELECT SUM(ne) AS t FROM e), ta AS (SELECT SUM(na) AS t FROM a),
    j AS (
      SELECT COALESCE(e.category, a.category) AS category,
             COALESCE(ne, 0) * 1.0 / te.t AS p,
             COALESCE(na, 0) * 1.0 / ta.t AS q
      FROM e FULL OUTER JOIN a USING (category), te, ta
    )
    SELECT category,
           ROUND(p, 9) AS p, ROUND(q, 9) AS q,
           ROUND(0.5 * (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0.0 END
                      + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0.0 END), 9) AS jsd_contrib
    FROM j
    """,
)
def q_jsd_event_type_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift (r5): per-category Jensen–Shannon contributions
    between the even- and odd-user halves of the event stream — PSI's
    categorical sibling (symmetric, bounded, finite on one-sided
    categories with no smoothing constant)."""
    from .operators import drift

    e = read_table(spark, sf_dir, "events")
    return drift.js_divergence_table(
        e.filter(F.col("user_id") % 2 == 0),
        e.filter(F.col("user_id") % 2 == 1),
        "event_type",
    )


@register(
    "standard_scale_events",
    """
    WITH st AS (
      SELECT AVG(value) AS mu, STDDEV_SAMP(value) AS sd FROM events
    )
    SELECT event_id,
           ROUND(CASE WHEN st.sd > 0 THEN (value - st.mu) / st.sd
                      WHEN value IS NOT NULL THEN 0.0 END, 6) AS value_z
    FROM events, st
    """,
)
def q_standard_scale_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score standardization (r5): one stats aggregate broadcast into a
    codegen scan expression — no shuffle of the data, engine-stable via
    rounding. Zero-variance guard maps constants to 0.0."""
    from .operators import fe

    e = read_table(spark, sf_dir, "events")
    return fe.standard_scale(e, ["value"]).select("event_id", "value_z")


@register(
    "group_scale_events",
    """
    WITH st AS (
      SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
      FROM events GROUP BY event_type
    )
    SELECT e.event_id,
           ROUND(CASE WHEN st.sd > 0 THEN (e.value - st.mu) / st.sd
                      WHEN e.value IS NOT NULL THEN 0.0 END, 6) AS value_gz
    FROM events e JOIN st USING (event_type)
    """,
)
def q_group_scale_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category z-score (r5): value standardized WITHIN each
    event_type — the group-stats table broadcasts, the fact scan never
    shuffles."""
    from .operators import fe

    e = read_table(spark, sf_dir, "events")
    return fe.group_standard_scale(e, ["value"], by="event_type").select(
        "event_id", "value_gz"
    )


@register(
    "winsorize_orders",
    """
    WITH b AS (
      SELECT quantile_cont(o_totalprice, 0.05) AS lo,
             quantile_cont(o_totalprice, 0.95) AS hi
      FROM orders
    )
    SELECT o_orderkey,
           ROUND(GREATEST(LEAST(o_totalprice, b.hi), b.lo), 6) AS o_totalprice_w
    FROM orders, b
    """,
)
def q_winsorize_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile clipping (r5): exact [5%, 95%] winsorization of order
    totals — one percentile aggregate broadcast into greatest(least(...))
    on the scan, the tail-taming step before scaling."""
    from .operators import fe

    o = read_table(spark, sf_dir, "orders")
    return fe.winsorize(o, ["o_totalprice"], lower=0.05, upper=0.95).select(
        "o_orderkey", "o_totalprice_w"
    )


@register(
    "index_encode_event_types",
    """
    WITH counts AS (
      SELECT event_type AS value, COUNT(*) AS n FROM events
      WHERE event_type IS NOT NULL GROUP BY event_type
    )
    SELECT value, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, value ASC) - 1 AS INTEGER) AS idx
    FROM counts
    """,
)
def q_index_encode_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ordered label indexing (r5): StringIndexer semantics with
    the tie rule PINNED (count desc, value asc) and the index built by the
    parallel two-level rank — deterministic across engines, partitionings,
    and runs; the vocab table IS the persistable encoder."""
    from .operators import fe

    e = read_table(spark, sf_dir, "events")
    vocab, _ = fe.index_encode(e, "event_type")
    return vocab




@register(
    "negative_sample_pairs",
    None,  # installed below via sampling.negative_sample_sql
)
def q_negative_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling (operators/sampling.py): customer ×
    part purchase pairs (a ~1% customer slice) each draw 2 md5-derived
    candidate parts from the part dim; accidental positives are subtracted.
    Reruns and the DuckDB oracle pick the SAME negatives — the property
    that makes offline metrics comparable across pipeline runs."""
    from .operators.sampling import negative_sample

    o = read_table(spark, sf_dir, "orders").filter(F.col("o_custkey") % 97 == 0)
    li = read_table(spark, sf_dir, "lineitem")
    pos = (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("partkey"))
        .distinct()
    )
    parts = read_table(spark, sf_dir, "part").select(F.col("p_partkey").alias("partkey"))
    return negative_sample(pos, parts, user_col="custkey", item_col="partkey", k=2)


def _install_negative_sample_oracle() -> None:
    from .harness import _ORACLES
    from .operators.sampling import negative_sample_sql

    body = negative_sample_sql(
        "pos", "parts", user_expr="custkey", item_expr="partkey", k=2
    )
    # splice the positives/items CTEs into the generated WITH clause
    body = body.replace(
        "WITH __idx AS (",
        """WITH pos AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey % 97 = 0
    ),
    parts AS (SELECT p_partkey AS partkey FROM part),
    __idx AS (""",
        1,
    )
    _ORACLES["negative_sample_pairs"] = body


_install_negative_sample_oracle()


@register(
    "table_profile_orders",
    None,  # installed below via profile.table_profile_sql
)
def q_table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style one-pass per-column profile of orders (operators/
    profile.py): null counts, exact cardinalities, numeric/timestamp
    ranges, string min/max — long format, one row per column. The 100 TB
    mode swaps exact distincts for HLL (approximate=True); exact here for
    the bit-parity oracle."""
    from .operators.profile import table_profile

    o = read_table(spark, sf_dir, "orders", parallelize=True)
    return table_profile(o)


def _install_table_profile_oracle() -> None:
    from .harness import _ORACLES
    from .operators.profile import table_profile_sql

    _ORACLES["table_profile_orders"] = table_profile_sql(
        "orders",
        [
            ("o_orderkey", "num"),
            ("o_custkey", "num"),
            ("o_orderstatus", "str"),
            ("o_totalprice", "num"),
            ("o_orderdate", "ts"),
            ("o_orderpriority", "str"),
        ],
    )


_install_table_profile_oracle()


# ---------------------------------------------------------------------------
# K-series: serving-parity audit as a first-class query (r7 — was pytest-only)
# ---------------------------------------------------------------------------


@register(
    "serving_parity_audit",
    """
    SELECT CAST(LEAST(100, COUNT(DISTINCT user_id)) AS BIGINT) AS checked,
           CAST(0 AS BIGINT) AS n_mismatches
    FROM events
    """,
)
def q_serving_parity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online/offline serving-parity audit end-to-end (reference `:295-353`
    runs validation before every insert; this is the post-publish half of
    that contract): extract the flagship features from events, register
    them into a throwaway FeatureStore, serve a deterministic md5-ordered
    sample of 100 entities through the ONLINE path (cache index /
    pushed-filter lookup), and compare byte-for-byte against the OFFLINE
    batch read. The oracle pins the audit's two invariants on the same
    raw table: the sample size is min(100, distinct users) and a healthy
    store has ZERO mismatched entities — training/serving skew is the
    classic silent feature-store failure, so "0" here is a real
    assertion, not a tautology (test_store.py proves the audit catches a
    poisoned serving index AND a stale-cache epoch). Staleness SLA: the
    reference resolves feature_version=None to the latest version from
    the DB before its cache lookup, but cache entries are never
    invalidated on re-registration — TTL-only expiry (reference
    `:350,412`) — so a version's cached frames can lag that version's DB
    rows by up to 3600 s; this store's window is ZERO because the
    serving index is version-scoped, latest_version() re-reads the manifest whenever it changed,
    and re-registration rebuilds the index, so the audit of `latest`
    always compares against the version that should be served. The result frame is built from the report
    dict, so it has no lineage into the temp store, which is deleted
    before returning."""
    import shutil
    import tempfile

    from .config import FeatureMetadata
    from .extractors import UserEventExtractor
    from .store import FeatureStore

    events = read_table(spark, sf_dir, "events")
    features = UserEventExtractor(amount_col="value", timestamp_col="ts").extract(events)
    tmp = tempfile.mkdtemp(prefix="serving_parity_audit_")
    try:
        store = FeatureStore(spark, tmp)
        version = store.register_features(
            features, FeatureMetadata(description="serving-parity audit fixture")
        )
        report = store.validate_serving_parity(version, sample_size=100)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_frame(
        spark,
        [(report["checked"], len(report["mismatches"]))],
        "checked long, n_mismatches long",
    )


@register(
    "table_profile_orders_approx",
    """
    SELECT col_name, n_rows, n_nulls, min_num, max_num, min_str, max_str,
           TRUE AS nd_within_5pct
    FROM (
      SELECT 'o_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
             CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
             CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
             CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
      FROM orders
      UNION ALL
      SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
             CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
             CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
      FROM orders
      UNION ALL
      SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             MIN(o_orderstatus), MAX(o_orderstatus)
      FROM orders
      UNION ALL
      SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             MIN(o_orderpriority), MAX(o_orderpriority)
      FROM orders
    )
    """,
)
def q_table_profile_orders_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented 100 TB mode of the ANALYZE profile (r7: previously
    pytest-only while the exact form carried the driver row): per-column
    distincts via HLL sketches instead of exact countDistinct, turning the
    profile's one expensive expand/two-phase aggregation into a single
    partial-merged pass. Counts, null counts, and min/max are EXACT in
    both modes and hash-compare directly; the sketch estimate is checked
    as a bounded invariant in the ANN-recall style — Spark computes
    ``nd_within_5pct`` against its own exact distinct (HLL is
    deterministic, so the flag is stable), DuckDB asserts the same exact
    columns and the literal bound."""
    from .operators.profile import table_profile

    o = read_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    approx = table_profile(o, cols, approximate=True)
    exact = table_profile(o, cols).select(
        F.col("col_name"), F.col("n_distinct").alias("__nd_exact")
    )
    return (
        approx.join(exact, "col_name")
        .select(
            "col_name", "n_rows", "n_nulls", "min_num", "max_num",
            "min_str", "max_str",
            (
                F.abs(F.col("n_distinct") - F.col("__nd_exact"))
                <= 0.05 * F.col("__nd_exact")
            ).alias("nd_within_5pct"),
        )
    )


@register(
    "training_shard_stats",
    f"""
    WITH s AS (
      SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 16 AS shard,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))
               AS n_toks,
             {hash_fraction_sql("concat('ord', CAST(doc_id AS VARCHAR))")} AS ord_frac
      FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           ROUND(SUM(ord_frac), 6) AS order_checksum
    FROM s GROUP BY shard
    """,
)
def q_training_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-export sharding (operators/layout.py, r7):
    every document lands in one of 16 md5-derived shards with a
    reproducible within-shard shuffle order — the trainer-facing layout
    where epoch-0 data order is identical across pipeline reruns and
    shards balance to ~N/16. The oracle re-derives shard id, per-shard
    doc/token counts, and a checksum over the order column (the md5
    fraction that defines the reproducible shuffle), so a drifted hash
    recipe or a lost row shifts a shard row."""
    from .operators.layout import training_shards

    docs = read_table(spark, sf_dir, "documents")
    sharded = training_shards(docs, "doc_id", n_shards=16)
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
        F.round(F.sum("shard_order"), 6).alias("order_checksum"),
    )
