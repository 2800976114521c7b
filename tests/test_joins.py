"""Join operator tests: as-of (inclusive/strict), band, semi/anti, salted."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from ml_feature_store_pipeline_spark.operators import joins


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def quotes_and_trades(spark):
    trades = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:05"), "t1"),
            (1, ts("2024-01-01 10:00:10"), "t2"),
            (2, ts("2024-01-01 10:00:03"), "t3"),
            (3, ts("2024-01-01 10:00:01"), "t4"),  # no quote ever for key 3
        ],
        "key long, t_ts timestamp, trade_id string",
    )
    quotes = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00"), 100.0),
            (1, ts("2024-01-01 10:00:05"), 101.0),  # equal-ts vs t1
            (1, ts("2024-01-01 10:00:07"), 102.0),
            (2, ts("2024-01-01 10:00:04"), 200.0),  # after t3 — must NOT match
        ],
        "key long, q_ts timestamp, price double",
    )
    return trades, quotes


def test_asof_inclusive(quotes_and_trades):
    trades, quotes = quotes_and_trades
    out = joins.asof_join(
        trades, quotes, key="key", left_ts="t_ts", right_ts="q_ts", value_cols=["price"]
    )
    got = {r["trade_id"]: r["price"] for r in out.collect()}
    assert got == {"t1": 101.0, "t2": 102.0, "t3": None, "t4": None}


def test_asof_strict(quotes_and_trades):
    trades, quotes = quotes_and_trades
    out = joins.asof_join(
        trades, quotes, key="key", left_ts="t_ts", right_ts="q_ts",
        value_cols=["price"], strict=True,
    )
    got = {r["trade_id"]: r["price"] for r in out.collect()}
    # strict: the 10:00:05 quote is NOT visible to the 10:00:05 trade
    assert got["t1"] == 100.0
    assert got["t2"] == 102.0


def test_asof_preserves_left_rowcount(quotes_and_trades):
    trades, quotes = quotes_and_trades
    out = joins.asof_join(
        trades, quotes, key="key", left_ts="t_ts", right_ts="q_ts", value_cols=["price"]
    )
    assert out.count() == trades.count()
    assert set(out.columns) == set(trades.columns) | {"price"}


def test_asof_tie_picks_greatest_value_deterministically(spark):
    # two right rows at the SAME (key, ts) with different values: the
    # greatest value tuple must win, on every run and partitioning
    trades = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:05"), "t1")], "key long, t_ts timestamp, trade_id string"
    )
    quotes = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00"), 100.0, "a"),
            (1, ts("2024-01-01 10:00:00"), 105.0, "b"),
            (1, ts("2024-01-01 10:00:00"), 101.0, "c"),
        ],
        "key long, q_ts timestamp, price double, src string",
    ).repartition(4)
    for _ in range(3):
        out = joins.asof_join(
            trades, quotes, key="key", left_ts="t_ts", right_ts="q_ts",
            value_cols=["price", "src"],
        ).collect()
        assert (out[0]["price"], out[0]["src"]) == (105.0, "b")


def test_asof_null_in_matched_row_stays_null(spark):
    # ASOF row semantics: the whole LATEST right row is taken — a NULL
    # field in it must surface as NULL, never be back-filled from an older
    # row (which would mix columns across right rows). Matches DuckDB ASOF.
    trades = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:10"), "t1")], "key long, t_ts timestamp, trade_id string"
    )
    quotes = spark.createDataFrame(
        [
            (1, ts("2024-01-01 10:00:00"), 100.0, "old"),
            (1, ts("2024-01-01 10:00:05"), None, "new"),  # latest row: NULL price
        ],
        "key long, q_ts timestamp, price double, src string",
    )
    kw = dict(key="key", left_ts="t_ts", right_ts="q_ts", value_cols=["price", "src"])
    plain = joins.asof_join(trades, quotes, **kw).collect()[0]
    assert (plain["price"], plain["src"]) == (None, "new")
    for bs in (2, 3600):
        bucketed = joins.asof_join_bucketed(trades, quotes, **kw, bucket_seconds=bs).collect()[0]
        assert (bucketed["price"], bucketed["src"]) == (None, "new")


def _bucketed_equals_plain(spark, trades, quotes, *, strict, bucket_seconds):
    plain = joins.asof_join(
        trades, quotes, key="key", left_ts="t_ts", right_ts="q_ts",
        value_cols=["price"], strict=strict,
    )
    bucketed = joins.asof_join_bucketed(
        trades, quotes, key="key", left_ts="t_ts", right_ts="q_ts",
        value_cols=["price"], strict=strict, bucket_seconds=bucket_seconds,
    )
    key = lambda r: (r["key"], r["t_ts"], r["trade_id"])
    a = sorted(plain.collect(), key=key)
    b = sorted(bucketed.collect(), key=key)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_asof_bucketed_equals_plain(spark, quotes_and_trades):
    trades, quotes = quotes_and_trades
    for strict in (False, True):
        _bucketed_equals_plain(spark, trades, quotes, strict=strict, bucket_seconds=4)


def test_asof_bucketed_hot_key(spark):
    # ONE key, 5000 left rows across ~14 hours: the plain form serializes
    # this into a single window task; the bucketed form must (a) split the
    # window across (key, hour-bucket) partitions and (b) agree exactly,
    # including carry-forward across right-empty buckets.
    base = int(dt.datetime(2024, 1, 1).timestamp())
    trades = spark.range(5000).select(
        F.lit(1).alias("key"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 10).alias("t_ts"),
        F.concat(F.lit("t"), F.col("id")).alias("trade_id"),
    )
    # sparse right side: one quote every ~37 minutes, none in many buckets
    quotes = spark.range(20).select(
        F.lit(1).alias("key"),
        F.timestamp_seconds(F.lit(base) + F.col("id") * 2221 + 1).alias("q_ts"),
        (F.col("id") * 1.5).alias("price"),
    )
    _bucketed_equals_plain(spark, trades, quotes, strict=False, bucket_seconds=3600)
    bucketed = joins.asof_join_bucketed(
        trades, quotes, key="key", left_ts="t_ts", right_ts="q_ts",
        value_cols=["price"], bucket_seconds=3600,
    )
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "__bucket" in plan.split("Window")[1][:400]  # window keyed by (key, bucket)


def test_should_bucket_asof_decision_rule():
    # uniform: hottest key holds ~1 task's share → plain
    assert not joins._should_bucket_asof(100, 32_000, 32, threshold=4.0)
    # hot: one key holds a quarter of the table on 32 partitions → bucketed
    assert joins._should_bucket_asof(8_000, 32_000, 32, threshold=4.0)
    assert not joins._should_bucket_asof(0, 0, 32, threshold=4.0)  # empty input


def test_asof_auto_matches_plain_on_both_skew_regimes(spark, quotes_and_trades):
    # auto must return plain-identical rows whichever branch the probe picks:
    # the uniform fixture takes the plain branch, the hot-key frame the
    # bucketed one (threshold 0 forces it) — results equal either way
    trades, quotes = quotes_and_trades
    kw = dict(key="key", left_ts="t_ts", right_ts="q_ts", value_cols=["price"])
    expected = sorted(map(tuple, joins.asof_join(trades, quotes, **kw).collect()))
    for threshold in (1e9, 0.0):  # force plain branch, then bucketed branch
        auto = joins.asof_join_auto(trades, quotes, **kw, skew_threshold=threshold,
                                    bucket_seconds=4)
        assert sorted(map(tuple, auto.collect())) == expected, threshold


def test_band_join(spark):
    fact = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 150.0)], "id long, v double")
    bands = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 100.0)], "tier string, lo double, hi double"
    )
    out = {r["id"]: r["tier"] for r in joins.band_join(fact, bands, "v").collect()}
    assert out == {1: "low", 2: "mid", 3: None}  # out-of-band keeps row (left join)


def test_semi_anti_partition(spark):
    left = spark.createDataFrame([(i,) for i in range(10)], "k long")
    right = spark.createDataFrame([(i,) for i in range(0, 10, 2)], "k long")
    semi = joins.semi_join(left, right, "k")
    anti = joins.anti_join(left, right, "k")
    assert semi.count() + anti.count() == 10
    assert {r["k"] % 2 for r in semi.collect()} == {0}
    assert {r["k"] % 2 for r in anti.collect()} == {1}


def test_interval_join_bucketed_matches_band_join(spark):
    fact = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 5.0, 49.9, 50.0, 120.0, 999.0])],
        "id long, v double",
    )
    # overlapping intervals: width 75, stride 50 — a value can land in 2
    tiers = spark.createDataFrame(
        [(f"t{i}", i * 50.0, i * 50.0 + 75.0) for i in range(20)],
        "tier string, lo double, hi double",
    )
    expect = {
        (r["id"], r["tier"])
        for r in joins.band_join(fact, tiers, "v").collect()
        if r["tier"] is not None
    }
    got = {
        (r["id"], r["tier"])
        for r in joins.interval_join_bucketed(fact, tiers, "v", bucket_width=50.0).collect()
    }
    assert got == expect and len(got) > len(fact.collect())  # overlap produced dups


def test_interval_join_bucketed_left_keeps_unmatched(spark):
    fact = spark.createDataFrame([(1, 5.0), (2, -100.0)], "id long, v double")
    tiers = spark.createDataFrame([("t", 0.0, 10.0)], "tier string, lo double, hi double")
    out = {r["id"]: r["tier"] for r in
           joins.interval_join_bucketed(fact, tiers, "v", bucket_width=10.0, how="left").collect()}
    assert out == {1: "t", 2: None}
    with pytest.raises(ValueError):
        joins.interval_join_bucketed(fact, tiers, "v", bucket_width=0.0)


def test_key_skew_profile_values(spark):
    from ml_feature_store_pipeline_spark.operators.drift import key_skew_profile

    rows = [(1,)] * 60 + [(2,)] * 30 + [(3,)] * 10
    df = spark.createDataFrame(rows, "k long")
    out = {r["k"]: r for r in key_skew_profile(df, ["k"], top_n=2).collect()}
    assert set(out) == {1, 2}                     # top-2 only
    assert out[1]["n_rows"] == 60
    assert out[1]["share"] == pytest.approx(0.6)
    assert out[1]["skew_ratio"] == pytest.approx(1.8)  # 0.6 share × 3 keys


class TestAsofTolerance:
    """r5: tolerance_seconds = merge_asof's staleness bound — an over-age
    match is NO match (row-wise NULL), across all three as-of forms."""

    def _frames(self, spark):
        trades = spark.createDataFrame(
            [
                (1, ts("2024-01-01 10:00:10"), "fresh"),   # quote 2 s old
                (1, ts("2024-01-01 10:05:00"), "stale"),   # quote 292 s old
                (2, ts("2024-01-01 10:00:10"), "never"),   # no quote at all
            ],
            "key long, t_ts timestamp, trade_id string",
        )
        quotes = spark.createDataFrame(
            [(1, ts("2024-01-01 10:00:08"), 100.0, "q1")],
            "key long, q_ts timestamp, price double, src string",
        )
        return trades, quotes

    def test_stale_match_is_dropped_row_wise(self, spark):
        trades, quotes = self._frames(spark)
        out = {
            r["trade_id"]: (r["price"], r["src"])
            for r in joins.asof_join(
                trades, quotes, key="key", left_ts="t_ts", right_ts="q_ts",
                value_cols=["price", "src"], tolerance_seconds=60,
            ).collect()
        }
        assert out == {
            "fresh": (100.0, "q1"),
            "stale": (None, None),   # whole ROW nulled, fields never mixed
            "never": (None, None),
        }

    def test_boundary_is_inclusive(self, spark):
        trades, quotes = self._frames(spark)
        out = {
            r["trade_id"]: r["price"]
            for r in joins.asof_join(
                trades, quotes, key="key", left_ts="t_ts", right_ts="q_ts",
                value_cols=["price"], tolerance_seconds=2,  # exactly 2 s old
            ).collect()
        }
        assert out["fresh"] == 100.0

    def test_all_three_forms_agree_under_tolerance(self, spark, quotes_and_trades):
        trades, quotes = quotes_and_trades
        kw = dict(key="key", left_ts="t_ts", right_ts="q_ts",
                  value_cols=["price"], tolerance_seconds=4)
        key = lambda r: r["trade_id"]
        plain = sorted(joins.asof_join(trades, quotes, **kw).collect(), key=key)
        buck = sorted(
            joins.asof_join_bucketed(trades, quotes, bucket_seconds=4, **kw).collect(),
            key=key,
        )
        auto = sorted(joins.asof_join_auto(trades, quotes, **kw).collect(), key=key)
        assert plain == buck == auto

    def test_no_tolerance_is_unchanged(self, spark, quotes_and_trades):
        """The default path must not carry __rts or change any result."""
        trades, quotes = quotes_and_trades
        kw = dict(key="key", left_ts="t_ts", right_ts="q_ts", value_cols=["price"])
        with_t = joins.asof_join(trades, quotes, tolerance_seconds=1e12, **kw)
        without = joins.asof_join(trades, quotes, **kw)
        key = lambda r: r["trade_id"]
        assert sorted(with_t.collect(), key=key) == sorted(without.collect(), key=key)


def test_pagerank_star_graph_semantics(spark):
    """Center of a star outranks the leaves; leaves are symmetric; total
    scaled mass converges to |nodes| (the undirected no-dangling
    invariant)."""
    from ml_feature_store_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "a long, b long"
    )
    out = {r["node"]: r["rank"] for r in pagerank(edges, "a", "b", iterations=20).collect()}
    assert out[1] == out[2] == out[3]
    assert out[0] > out[1]
    assert abs(sum(out.values()) - 4.0) < 1e-3


def test_pagerank_matches_unrolled_oracle(spark):
    """The Spark loop and the unrolled-CTE SQL must produce IDENTICAL
    rounded ranks at every node — the engine-replayability claim."""
    import duckdb

    from ml_feature_store_pipeline_spark.operators.graph import pagerank, pagerank_sql

    rows = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (4, 0)]
    edges = spark.createDataFrame(rows, "a long, b long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, "a", "b", iterations=7).collect()}
    con = duckdb.connect()
    con.sql("CREATE TABLE e (a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", rows)
    sql = pagerank_sql("SELECT a, b FROM e", "a", "b", iterations=7)
    want = {int(n): float(r) for n, r in con.sql(sql).fetchall()}
    assert got == want


def test_pagerank_rejects_nonpositive_edges_per_partition(spark):
    """r8 ADVICE: 0 used to surface as ZeroDivisionError only after paying
    the edge derivation + checkpoint + count, and a negative value silently
    collapsed the pin to a single partition. Both must fail fast."""
    import pytest

    from ml_feature_store_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(0, 1)], "a long, b long")
    for bad in (0, -4):
        with pytest.raises(ValueError, match="edges_per_partition"):
            pagerank(edges, "a", "b", edges_per_partition=bad)


def test_pagerank_copartitioned_path_bit_exact_and_no_edge_exchange(spark):
    """The opt-in co-partitioned pin (edges_per_partition set) must
    (a) reproduce the default plain-loop ranks bit-for-bit and (b) never
    re-exchange the pinned edge or degree tables inside the iteration
    loop — the whole point of the AQE-off hash(s) pin. The |nodes|-sized
    rank table MAY re-exchange (dimension-sized, cheap by
    construction)."""
    import re

    from ml_feature_store_pipeline_spark.operators.graph import pagerank

    rows = [(i, (i * 7 + 1) % 50) for i in range(200)]
    edges = spark.createDataFrame(rows, "a long, b long")
    plain = {r["node"]: r["rank"] for r in pagerank(edges, "a", "b", iterations=5).collect()}
    forced_df = pagerank(edges, "a", "b", iterations=5, edges_per_partition=50)
    forced = {r["node"]: r["rank"] for r in forced_df.collect()}
    assert forced == plain
    plan = forced_df._jdf.queryExecution().executedPlan().toString()
    # r8 ADVICE: the old check only matched an Exchange DIRECTLY above the
    # pinned scan, so a regression inserting e.g. a Filter or Project
    # between them would slip through. Walk each pinned scan's ancestor
    # chain (indentation-parsed Final Plan) instead: between the scan and
    # the first join/aggregate there must be NO exchange of any kind —
    # unary ops (Filter/Project/Sort) are partition-preserving and fine.
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    parsed = []
    for ln in final.splitlines():
        m = re.match(r"^([ :]*(?:[+:]- )?)(?:\*\(\d+\) )?(.*)$", ln)
        parsed.append((len(m.group(1)), m.group(2).strip()))
    pinned = re.compile(r"Scan ExistingRDD\[s#\d+L?,(d|deg)#\d+L?\]")
    barrier = re.compile(r"Join|HashAggregate|Union")
    scans_checked = 0
    for i, (ind, op) in enumerate(parsed):
        if not pinned.match(op):
            continue
        scans_checked += 1
        cur = ind
        for j in range(i - 1, -1, -1):
            jind, jop = parsed[j]
            if not jop or jind >= cur:
                continue  # sibling subtree, not an ancestor
            cur = jind
            if barrier.search(jop):
                break  # past the join/agg, exchanges are the transpose's
            assert "Exchange" not in jop, f"pinned scan re-exchanged via {jop}\n{plan}"
    assert scans_checked >= 3, plan  # edge + both deg consumers visible


def test_adamic_adar_brute_force(spark):
    """Adamic–Adar matches the textbook Σ 1/ln(deg) over shared keys, with
    degree-1 keys contributing nothing and the 9 dp weight quantization."""
    import itertools
    import math

    from ml_feature_store_pipeline_spark.operators.graph import adamic_adar_topk

    rows = [
        (10, "a"), (10, "b"), (10, "c"),   # deg 3
        (11, "a"), (11, "b"),              # deg 2
        (12, "b"), (12, "c"),              # deg 2
        (13, "a"),                          # deg 1 -> no pairs, no weight
        (10, "a"),                          # duplicate collapses
    ]
    df = spark.createDataFrame(rows, "k int, t string")
    out = {
        (r["node_a"], r["node_b"]): r
        for r in adamic_adar_topk(df, "k", "t", top_k=100).collect()
    }
    keys = {10: {"a", "b", "c"}, 11: {"a", "b"}, 12: {"b", "c"}, 13: {"a"}}
    expect = {}
    for x, y in itertools.combinations(sorted({t for s in keys.values() for t in s}), 2):
        shared = [k for k, s in keys.items() if len(s) >= 2 and x in s and y in s]
        if shared:
            aa = sum(round(1.0 / math.log(len(keys[k])), 9) for k in shared)
            expect[(x, y)] = (len(shared), round(aa, 6))
    assert set(out) == set(expect)
    for k, (n, aa) in expect.items():
        assert out[k]["n_common_keys"] == n
        assert out[k]["adamic_adar"] == pytest.approx(aa, abs=1e-9)


def test_adamic_adar_small_baskets_outrank_one_huge(spark):
    """The inverse-log weighting: a pair tied by two 2-item baskets must
    outscore a pair tied only by one 5-item basket (counts say otherwise)."""
    from ml_feature_store_pipeline_spark.operators.graph import adamic_adar_topk

    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y")]  # two tiny baskets
    rows += [(3, c) for c in ["p", "q", "r", "s", "t"]]  # one huge basket
    df = spark.createDataFrame(rows, "k int, t string")
    out = adamic_adar_topk(df, "k", "t", top_k=1).collect()
    assert (out[0]["node_a"], out[0]["node_b"]) == ("x", "y")
