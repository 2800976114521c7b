"""OLAP surface beyond the reference: grouping sets (rollup/cube), pivot/
unpivot, and classic TPC-H filter/join shapes (Q5/Q6).

The reference has no grouping sets (SURVEY §2.C note) — Spark provides them
natively and a complete analytics engine exposes them, so they're covered
here with oracles like everything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import dsum, dsum_sql
from .harness import register
from .sources.readers import read_table


@register(
    "rollup_lineitem",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           {dsum_sql('l_quantity')} AS sum_qty, COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals: (flag, status) → (flag) → (). One pass —
    Catalyst expands grouping sets without rescanning."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        dsum(F.col("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    ).select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")


@register(
    "cube_orders",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n, {dsum_sql('o_totalprice')} AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 4 grouping combinations in one pass."""
    o = read_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("o_totalprice")).alias("total"),
    ).select("o_orderstatus", "o_orderpriority", "gid", "n", "total")


_EVENT_TYPES = ["click", "view", "purchase", "add_to_cart", "search"]


@register(
    "pivot_event_values",
    f"""
    SELECT user_id,
           {', '.join(
               "CAST(SUM(CASE WHEN event_type = '" + t + "' THEN CAST(value AS DECIMAL(28,4)) END) AS DOUBLE)"
               " AS " + t for t in _EVENT_TYPES
           )}
    FROM events GROUP BY user_id
    """,
)
def q_pivot_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type into value-sum columns (explicit value list — no
    extra distinct-scan job, stable output schema)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum(F.col("value").cast("decimal(28,4)")).cast("double"))
    )


@register(
    "unpivot_lineitem",
    """
    SELECT l_orderkey, l_linenumber, 'qty' AS metric, l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price' AS metric, l_extendedprice AS val FROM lineitem
    """,
)
def q_unpivot_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack() — one scan (vs the oracle's two-scan UNION ALL)."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("stack(2, 'qty', l_quantity, 'price', l_extendedprice) AS (metric, val)"),
    )


@register(
    "tpch_q6",
    f"""
    SELECT {dsum_sql('l_extendedprice * l_discount', scale=6)} AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25.0
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-agg — every predicate must reach the
    parquet reader (asserted in test_plans)."""
    li = read_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 25.0)
    )
    return f.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), scale=6).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "tpch_q5_like",
    f"""
    SELECT n.n_name, {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', scale=6)} AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q_tpch_q5_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: selective region filter flows through broadcast dims
    into the two fact tables; only the orders↔lineitem join shuffles."""
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    l = read_table(spark, sf_dir, "lineitem")
    dims = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), o.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6).alias("revenue"))
    )


@register(
    "tpch_q4_like",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted: testdata lineitem has no commit/receipt
    dates, so "late" = shipped after the order date): correlated EXISTS as a
    LEFT SEMI join with a non-equi conjunct. Semi-join keeps one probe row
    per order — no fan-out before the aggregate; the date filter prunes the
    orders scan first."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q12_like",
    """
    SELECT l.l_linestatus,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_linestatus
    """,
)
def q_tpch_q12_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode → linestatus; testdata has no shipmode):
    fact-fact equi-join with conditional counts. Only o_orderkey +
    o_orderpriority are read from orders (pruned ReadSchema)."""
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q18_like",
    f"""
    WITH big AS (
      SELECT l_orderkey, {dsum_sql('l_quantity')} AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING {dsum_sql('l_quantity')} > 150.0
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, big.sum_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (threshold 150 fits testdata's qty distribution):
    group-HAVING over the big fact first (the selective step), then join the
    survivors to orders/customer, global top-100 via TakeOrdered. The
    orderkey tiebreak makes the LIMIT set deterministic for the oracle."""
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150.0)
    )
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "psi_order_price_drift",
    """
    WITH binned AS (
      SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - 0.0) / 60000.0) AS BIGINT), 0), 9) AS bin,
             CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00' THEN 'e' ELSE 'a' END AS side
      FROM orders WHERE o_totalprice IS NOT NULL
    ), counts AS (
      SELECT b.bin,
             COALESCE(SUM(CASE WHEN side = 'e' THEN 1 END), 0) AS n_e,
             COALESCE(SUM(CASE WHEN side = 'a' THEN 1 END), 0) AS n_a
      FROM (SELECT UNNEST(generate_series(0, 9)) AS bin) b
      LEFT JOIN binned USING (bin) GROUP BY b.bin
    ), fr AS (
      SELECT bin,
             GREATEST(CAST(n_e AS DOUBLE) / SUM(n_e) OVER (), 1e-6) AS ef,
             GREATEST(CAST(n_a AS DOUBLE) / SUM(n_a) OVER (), 1e-6) AS af
      FROM counts
    )
    SELECT CAST(bin AS INT) AS bin, ROUND(ef, 9) AS expected_frac,
           ROUND(af, 9) AS actual_frac,
           ROUND((af - ef) * LN(af / ef), 9) AS psi_contrib
    FROM fr
    """,
)
def q_psi_order_price_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-drift PSI: order-price distribution before vs after
    1998-01-01 over 10 fixed [0, 600k) bins (operators.drift). Two
    partial-agg scans + broadcast bin join — never shuffles row data."""
    from .operators.drift import psi_table

    o = read_table(spark, sf_dir, "orders")
    cut = F.lit("1998-01-01 00:00:00").cast("timestamp")
    t = psi_table(
        o.filter(F.col("o_orderdate") < cut),
        o.filter(F.col("o_orderdate") >= cut),
        "o_totalprice",
        lo=0.0,
        hi=600000.0,
        bins=10,
    )
    return t.select(
        "bin",
        F.round("expected_frac", 9).alias("expected_frac"),
        F.round("actual_frac", 9).alias("actual_frac"),
        F.round("psi_contrib", 9).alias("psi_contrib"),
    )


@register(
    "tpch_q10_like",
    f"""
    SELECT c.c_custkey, c.c_name,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', scale=6)} AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, one quarter,
    global top-20. The selective date+flag filters hit both fact scans
    before the join; nation broadcasts; custkey tiebreak makes the LIMIT
    deterministic."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q14",
    f"""
    SELECT 100.0 * {dsum_sql("CASE WHEN p.p_type LIKE 'PROMO%' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END", scale=6)}
                 / {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', scale=6)} AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one month. One selective fact
    scan joined to a two-column part projection (broadcastable); both sums
    come out of a single aggregate."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    l = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01 00:00:00").cast("timestamp"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            (100.0 * dsum(promo, scale=6) / dsum(rev, scale=6)).alias("promo_revenue_pct")
        )
    )


@register(
    "order_price_rank_stats",
    """
    SELECT o_orderkey,
           NTILE(10) OVER w AS decile,
           ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 9) AS cume,
           FIRST_VALUE(o_orderkey) OVER w AS cheapest_in_status,
           NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_orderstatus
                                          ORDER BY o_totalprice, o_orderkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                                   AND UNBOUNDED FOLLOWING) AS second_cheapest
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_order_price_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function breadth: ntile / percent_rank / cume_dist /
    first_value / nth_value over one totally-ordered window (orderkey
    tiebreak makes every function deterministic cross-engine)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_in_status"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_cheapest"),
    )


@register(
    "rolling_hour_user_spend",
    """
    SELECT event_id, user_id, ts,
           ROUND(SUM(CAST(value AS DECIMAL(28,4))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
           )::DOUBLE, 6) AS spend_1h,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
           ) AS n_events_1h
    FROM events
    """,
)
def q_rolling_hour_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (sliding 1 hour per user) — the frame type
    rows-based running_revenue can't express. Spark orders by unix seconds
    with a [-3600, 0] range; DuckDB uses the interval frame directly —
    equal because driver timestamps are whole-second-free microseconds
    (range is closed on both engines)."""
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts") + F.col("ts").cast("double") % 1)
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum(F.col("value").cast("decimal(28,4)")).over(w).cast("double"), 6).alias("spend_1h"),
        F.count(F.lit(1)).over(w).alias("n_events_1h"),
    )


@register(
    "tpch_q7_like",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           YEAR(l.l_shipdate) AS ship_year,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', scale=6)} AS volume
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_q7_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (nation-pair shipping volume): the widest join tree in
    the registry — two broadcast dim chains (supplier→nation, customer→
    nation) hang off the lineitem↔orders shuffle join, and the nation-pair
    disjunction prunes through both chains before the facts meet."""
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        read_table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6).alias("volume"))
    )


@register(
    "tpch_q15_like",
    f"""
    WITH rev AS (
      SELECT l_suppkey, {dsum_sql('l_extendedprice * (1 - l_discount)', scale=6)} AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q_tpch_q15_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier by quarterly revenue): the
    aggregate-then-argmax pattern — revenue agg once, the scalar max joins
    back as a broadcast, supplier dim broadcasts onto the winners. Decimal
    revenue makes the max comparison exact (no float-ULP winner flips)."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_rev == mx.__mx)
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@register(
    "tpch_q19_like",
    f"""
    SELECT {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', scale=6)} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def q_tpch_q19_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive join predicates): the OR-of-ANDs can't
    push below the join whole, but each side's column-local disjunction
    (brand IN (...), quantity <= 30) can and does — asserted pushdown keeps
    the broadcast-side small before the residual OR filters post-join."""
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = read_table(spark, sf_dir, "lineitem")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=6).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@register(
    "tpch_q13_like",
    """
    WITH co AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    """,
)
def q_tpch_q13_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join with
    an extra join-side predicate (must stay in the join condition, NOT a
    post-filter — a post-filter would turn the left join inner and drop
    zero-order customers), then a double aggregation. Both aggs partial-
    aggregate; the second one's input is |customers| rows, not |orders|."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    co = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).cast("long").alias("custdist"))


@register(
    "tpch_q17_like",
    f"""
    WITH pa AS (
      SELECT l_partkey, AVG(l_quantity) AS aq FROM lineitem GROUP BY l_partkey
    )
    SELECT {dsum_sql('l_extendedprice', scale=6)} AS total_price,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < 0.5 * pa.aq
    """,
)
def q_tpch_q17_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity outliers vs per-part average): the
    correlated scalar subquery decorrelates to a self-aggregation + join on
    l_partkey. The per-part averages frame is |parts| rows — broadcast it
    so the lineitem side never shuffles. AVG compares only (never summed
    into the hashed output), so float avg is safe here; the SUM uses the
    deterministic decimal recipe."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pa = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("aq"))
    return (
        li.join(F.broadcast(pa), "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("aq"))
        .agg(
            dsum(F.col("l_extendedprice"), scale=6).alias("total_price"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )


@register(
    "tpch_q22_like",
    """
    WITH avg_bal AS (
      SELECT AVG(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def q_tpch_q22_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (prospective customers): scalar subquery (global avg
    of positive balances) feeds a filter, NOT EXISTS decorrelates to a
    LEFT ANTI join on custkey (against the urgent-order subset, so the
    driver data, where every customer orders, still yields prospects),
    grouped by nation. The scalar is a 1-row crossJoin broadcast; the anti
    join shuffles only custkeys, pre-filtered by the pushed-down priority
    predicate."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(28,6)")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "tpch_q11_like",
    f"""
    WITH tot AS (
      SELECT SUM(CAST(l_extendedprice AS DECIMAL(28,4))) AS t FROM lineitem
    ),
    per_part AS (
      SELECT l_partkey, {dsum_sql('l_extendedprice')} AS part_value
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey AS partkey, part_value
    FROM per_part, tot
    WHERE CAST(part_value AS DECIMAL(28,4)) > 0.0006 * t
    """,
)
def q_tpch_q11_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (group share vs global total): the HAVING compares
    each group's sum against a scalar aggregate of the whole table — one
    grouped agg + one 1-row agg crossJoin-broadcast, both partial-
    aggregated; the fact table is scanned twice but shuffled once per agg
    (per-part rows, then 1 row). Decimal on BOTH sides of the comparison
    so the threshold predicate is exact across engines."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    tot = li.agg(F.sum(F.col("l_extendedprice").cast("decimal(28,4)")).alias("t"))
    per_part = li.groupBy("l_partkey").agg(dsum(F.col("l_extendedprice")).alias("part_value"))
    return (
        per_part.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value").cast("decimal(28,4)") > 0.0006 * F.col("t"))
        .select(F.col("l_partkey").alias("partkey"), "part_value")
    )


@register(
    "tpch_q16_like",
    """
    SELECT p.p_brand, p.p_type,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand NOT IN ('Brand#1', 'Brand#3') AND p.p_size >= 25
    GROUP BY p.p_brand, p.p_type
    """,
)
def q_tpch_q16_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (distinct supplier count per part attribute with an
    exclusion list): NOT-IN and the size predicate push to the broadcast
    part side BEFORE the join, so the fact scan joins against the already-
    filtered dim; count-distinct expands per (brand, type, suppkey) then
    two-phase aggregates."""
    p = (
        read_table(spark, sf_dir, "part")
        .filter(~F.col("p_brand").isin("Brand#1", "Brand#3") & (F.col("p_size") >= 25))
        .select("p_partkey", "p_brand", "p_type")
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q21_like",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN l_shipdate > DATE '1997-06-01'
                                 THEN l_suppkey END) AS n_late_supp,
             MAX(CASE WHEN l_shipdate > DATE '1997-06-01'
                      THEN l_suppkey END) AS late_supp
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT late_supp AS suppkey, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM per_order
    WHERE n_supp >= 2 AND n_late_supp = 1
    GROUP BY late_supp
    """,
)
def q_tpch_q21_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (the sole-blamed supplier): the classic EXISTS /
    NOT-EXISTS pair over the same fact table decorrelates to ONE grouped
    pass per order — distinct suppliers, distinct LATE suppliers, and the
    (unique when n_late_supp=1) late supplier — then a filter + regroup.
    One fact shuffle replaces two correlated self-joins; MAX(CASE) is the
    standard single-member extraction under the n_late_supp=1 predicate."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    late = F.col("l_shipdate") > F.lit("1997-06-01").cast("date")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
        F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
    )
    return (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .groupBy(F.col("late_supp").alias("suppkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


@register(
    "tpch_q2_like",
    """
    WITH unit AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS min_unit
      FROM lineitem WHERE l_quantity > 0 GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT l_partkey, MIN(min_unit) AS part_min FROM unit GROUP BY l_partkey
    )
    SELECT u.l_partkey AS partkey, CAST(MIN(u.l_suppkey) AS BIGINT) AS suppkey
    FROM unit u JOIN best b
      ON u.l_partkey = b.l_partkey AND u.min_unit = b.part_min
    GROUP BY u.l_partkey
    """,
)
def q_tpch_q2_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (cheapest supplier per part): the correlated
    min-subquery decorrelates to two stacked aggregations — (part, supp)
    then (part); the second DOES re-shuffle (hash partitioning on the pair
    does not satisfy a part-only distribution) but its input is the first
    agg's output (one row per (part, supp)), not the fact table — then an
    equi-join on (part, min) recovers the argmin rows.
    Ties keep the lowest suppkey, making the result set deterministic.
    Division before MIN is exact-enough here because both engines evaluate
    the identical double expression per row and MIN picks one value — no
    accumulation-order drift."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("min_unit")
    )
    best = unit.groupBy("l_partkey").agg(F.min("min_unit").alias("part_min"))
    # rename the join keys to break the self-join lineage ambiguity (unit
    # and best share a parent plan)
    best = best.select(F.col("l_partkey").alias("__bp"), F.col("part_min"))
    return (
        unit.join(
            best,
            (F.col("l_partkey") == F.col("__bp")) & (F.col("min_unit") == F.col("part_min")),
        )
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.min("l_suppkey").cast("long").alias("suppkey"))
    )


@register(
    "tpch_q8_like",
    """
    WITH rev AS (
      SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
             n.n_name,
             CAST(l.l_extendedprice AS DECIMAL(28,4)) * (1 - CAST(l.l_discount AS DECIMAL(28,4))) AS volume
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT CAST(o_year AS BIGINT) AS o_year,
           CAST(CAST(SUM(CASE WHEN n_name = 'CHINA' THEN volume END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM rev GROUP BY o_year
    """,
)
def q_tpch_q8_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share by year): one fact pass feeds
    a conditional-sum / total-sum ratio per year — no second scan, no
    join back. Both sums accumulate in DECIMAL (order-insensitive) and the
    ratio divides the two exact totals as doubles, so the quotient is
    bit-identical across engines."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    vol = (
        F.col("l_extendedprice").cast("decimal(28,4)")
        * (1 - F.col("l_discount").cast("decimal(28,4)"))
    )
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            "n_name",
            vol.alias("volume"),
        )
    )
    return rev.groupBy("o_year").agg(
        (
            F.sum(F.when(F.col("n_name") == "CHINA", F.col("volume"))).cast("double")
            / F.sum("volume").cast("double")
        ).cast("double").alias("mkt_share")
    )


@register(
    "tpch_q9_like",
    f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount) - 0.4 * l.l_quantity * p.p_retailprice', scale=6)} AS profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
    """,
)
def q_tpch_q9_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (profit by supplier nation × year; testdata has no
    partsupp, so supply cost is proxied as 40% of retail price): a 5-table
    star with THREE broadcast dims (part, supplier, nation) — the only
    shuffle joins the two fact tables, then one grouped decimal-sum."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount", "l_quantity"
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.4 * F.col("l_quantity") * F.col("p_retailprice")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(amount, scale=6).alias("profit"))
    )


@register(
    "tpch_q20_like",
    """
    WITH part_tot AS (
      SELECT l_partkey, SUM(l_quantity) AS tot
      FROM lineitem GROUP BY l_partkey
    ),
    supp_part AS (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS sq
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT CAST(sp.l_suppkey AS BIGINT) AS suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_dominated_parts
    FROM supp_part sp JOIN part_tot pt ON sp.l_partkey = pt.l_partkey
    WHERE sp.sq > 0.12 * pt.tot
    GROUP BY sp.l_suppkey
    """,
)
def q_tpch_q20_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers holding excess share of a part; adapted
    to shipped-quantity dominance — no partsupp in testdata): two
    independent aggregations of the fact scan — (part, supplier) and
    (part) — each collapsed by map-side partial aggregation before its
    exchange, then a threshold join keeps dominant (supplier, part) pairs
    and regroups per supplier. l_quantity is integral in this data, so
    SUM is exact in both engines."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    supp_part = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("sq"))
    # deliberately aggregated from the scan, not from supp_part: Spark
    # recomputes uncached shared subplans, so deriving totals from the
    # pair-level agg still scans the fact twice AND pays a third exchange;
    # this form is two scans, each partial-aggregated before its exchange
    part_tot = li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("tot"))
    return (
        supp_part.join(part_tot, "l_partkey")
        .filter(F.col("sq") > 0.12 * F.col("tot"))
        .groupBy(F.col("l_suppkey").cast("long").alias("suppkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_dominated_parts"))
    )
