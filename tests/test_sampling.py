"""Deterministic sampling/split: partition-stability, disjointness, accuracy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_feature_store_pipeline_spark.operators import sampling


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 5000).select(F.col("id").alias("key"))


def test_sample_stable_under_repartitioning(spark, ids):
    a = {r["key"] for r in sampling.deterministic_sample(ids, "key", 0.1).collect()}
    b = {
        r["key"]
        for r in sampling.deterministic_sample(ids.repartition(13), "key", 0.1).collect()
    }
    assert a == b
    assert len(a) == pytest.approx(500, rel=0.15)


def test_split_is_disjoint_and_exhaustive(spark, ids):
    train, test = sampling.train_test_split(ids, "key", 0.2)
    tr = {r["key"] for r in train.collect()}
    te = {r["key"] for r in test.collect()}
    assert tr.isdisjoint(te)
    assert len(tr) + len(te) == 5000
    assert len(te) == pytest.approx(1000, rel=0.15)


def test_split_column_agrees_with_split_frames(spark, ids):
    train, test = sampling.train_test_split(ids, "key", 0.2)
    te = {r["key"] for r in test.collect()}
    labeled = ids.withColumn("split", sampling.split_column(F.col("key"), 0.2))
    assert {r["key"] for r in labeled.filter(F.col("split") == "test").collect()} == te


def test_split_assignment_is_growth_stable(spark, ids):
    """A key's side must not change when the table doubles — the property
    that prevents train/test leakage over time."""
    _, test_small = sampling.train_test_split(ids.limit(1000), "key", 0.2)
    _, test_big = sampling.train_test_split(ids, "key", 0.2)
    small = {r["key"] for r in test_small.collect()}
    big = {r["key"] for r in test_big.collect()}
    assert small == {k for k in big if k < 1000}


def test_salt_gives_independent_samples(spark, ids):
    a = {r["key"] for r in sampling.deterministic_sample(ids, "key", 0.1, salt="a").collect()}
    b = {r["key"] for r in sampling.deterministic_sample(ids, "key", 0.1, salt="b").collect()}
    # independent ⇒ overlap ≈ 1% of rows, certainly nowhere near identical
    assert len(a & b) < len(a) / 2


def test_fold_column_partitions_keys_evenly(spark, ids):
    from ml_feature_store_pipeline_spark.operators.sampling import fold_column

    labeled = ids.withColumn("fold", fold_column(F.col("key"), 5))
    counts = {r["fold"]: r["n"] for r in labeled.groupBy("fold").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {0, 1, 2, 3, 4}
    assert all(c == pytest.approx(1000, rel=0.15) for c in counts.values())
    # deterministic: same assignment on recompute
    again = {r["key"]: r["fold"] for r in labeled.collect()}
    redo = {r["key"]: r["fold"] for r in ids.repartition(7).withColumn("fold", fold_column(F.col("key"), 5)).collect()}
    assert again == redo


def test_stratified_deterministic_nested_and_default(spark):
    rows = [(i, "a" if i % 2 == 0 else ("b" if i % 4 == 1 else "c")) for i in range(4000)]
    df = spark.createDataFrame(rows, "key long, cls string")
    small = sampling.stratified_sample_deterministic(
        df, "key", "cls", {"a": 0.1, "b": 0.5}, default_fraction=0.0
    )
    big = sampling.stratified_sample_deterministic(
        df, "key", "cls", {"a": 0.3, "b": 1.0}, default_fraction=0.2
    )
    s = {(r["key"], r["cls"]) for r in small.collect()}
    b = {(r["key"], r["cls"]) for r in big.collect()}
    assert s <= b                                # growing fractions nest the sample
    assert not any(c == "c" for _, c in s)       # default 0.0 drops unlisted strata
    by_cls = {}
    for _, c in b:
        by_cls[c] = by_cls.get(c, 0) + 1
    assert by_cls["b"] == 1000                   # fraction 1.0 keeps the whole stratum
    assert by_cls["a"] == pytest.approx(600, rel=0.2)
    assert by_cls["c"] == pytest.approx(200, rel=0.3)


def test_stratified_deterministic_stable_under_repartition(spark):
    rows = [(i, "a" if i % 3 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "key long, cls string")
    frac = {"a": 0.25, "b": 0.75}
    one = {r["key"] for r in
           sampling.stratified_sample_deterministic(df, "key", "cls", frac).collect()}
    two = {r["key"] for r in
           sampling.stratified_sample_deterministic(df.repartition(17), "key", "cls", frac).collect()}
    assert one == two


# ------------------------------------------------- token mixture sampling
def _mix_docs(spark):
    rows = []
    for i in range(300):
        src = f"s{i % 3}"
        # s0 docs are long (20 tokens), s1 medium (10), s2 short (5)
        n = {0: 20, 1: 10, 2: 5}[i % 3]
        rows.append((i, src, " ".join(f"w{j}" for j in range(n))))
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_token_mixture_plan_proportionality(spark):
    from ml_feature_store_pipeline_spark.functions import token_count
    from ml_feature_store_pipeline_spark.operators import sampling

    docs = _mix_docs(spark)
    # equal weights: every source should target the same kept-token count;
    # binding source is s2 (fewest tokens: 500 vs 1000 vs 2000)
    plan = sampling.token_mixture_plan(
        docs, "source", token_count(F.col("text")), {"s0": 1, "s1": 1, "s2": 1}
    )
    fracs = {s: num / den for s, (num, den) in plan.items()}
    assert fracs["s2"] == 1.0  # binding source keeps everything
    assert abs(fracs["s0"] - 0.25) < 1e-12 and abs(fracs["s1"] - 0.5) < 1e-12
    # expected kept tokens equal across sources: f_s * T_s = 500 each
    assert {s: round(fracs[s] * t) for s, t in {"s0": 2000, "s1": 1000, "s2": 500}.items()} == {
        "s0": 500, "s1": 500, "s2": 500
    }


def test_mixture_sample_membership_and_drop(spark):
    from ml_feature_store_pipeline_spark.functions import token_count
    from ml_feature_store_pipeline_spark.operators import sampling

    docs = _mix_docs(spark)
    out = sampling.mixture_sample_by_tokens(
        docs, "doc_id", "source", {"s0": 1, "s1": 1},
        n_tokens=token_count(F.col("text")),
    ).collect()
    # unlisted source dropped entirely
    assert all(r["source"] != "s2" for r in out)
    # membership is stable under repartitioning (pure function of doc_id)
    out2 = sampling.mixture_sample_by_tokens(
        docs.repartition(7), "doc_id", "source", {"s0": 1, "s1": 1},
        n_tokens=token_count(F.col("text")),
    ).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in out2)
    # binding source (s1: fewer tokens) keeps all its rows
    s1_total = sum(1 for i in range(300) if i % 3 == 1)
    assert sum(1 for r in out if r["source"] == "s1") == s1_total


def test_mixture_sample_nested_growth(spark):
    from ml_feature_store_pipeline_spark.functions import token_count
    from ml_feature_store_pipeline_spark.operators import sampling

    docs = _mix_docs(spark)
    kw = dict(n_tokens=token_count(F.col("text")))
    small = sampling.mixture_sample_by_tokens(
        docs, "doc_id", "source", {"s0": 1, "s2": 4}, **kw
    )
    big = sampling.mixture_sample_by_tokens(
        docs, "doc_id", "source", {"s0": 2, "s2": 4}, **kw
    )
    a = {r["doc_id"] for r in small.filter(F.col("source") == "s0").collect()}
    b = {r["doc_id"] for r in big.filter(F.col("source") == "s0").collect()}
    assert a.issubset(b) and len(b) > len(a)


def test_negative_sample_properties(spark):
    from ml_feature_store_pipeline_spark.operators.sampling import negative_sample

    pos = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (3, 12)], "u long, it long"
    )
    items = spark.createDataFrame([(i,) for i in range(10, 20)], "it long")
    out = negative_sample(pos, items, user_col="u", item_col="it", k=3)
    rows = out.collect()
    assert rows and all(r["label"] == 0 for r in rows)
    # no sampled negative is an actual positive
    pos_set = {(1, 10), (1, 11), (2, 10), (3, 12)}
    assert all((r["u"], r["it"]) not in pos_set for r in rows)
    # items come from the universe
    assert all(10 <= r["it"] < 20 for r in rows)
    # deterministic under repartitioning
    again = negative_sample(pos.repartition(7), items, user_col="u", item_col="it", k=3)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))
    # a salted draw is still valid (never a positive) and reproducible
    salted = negative_sample(pos, items, user_col="u", item_col="it", k=3, salt="v2")
    assert all((r["u"], r["it"]) not in pos_set for r in salted.collect())


def test_dense_index_matches_single_window(spark):
    """The parallel two-level index is bit-identical to the one-task
    `row_number() OVER (ORDER BY v)` form, for any partition-count choice
    (r5: negative_sample's dense item index must stay draw-stable)."""
    from pyspark.sql.window import Window

    from ml_feature_store_pipeline_spark.operators.sampling import dense_index

    vals = [(v,) for v in [7, 3, 99, 42, 0, 55, 13, 21, 8, 77, 31, 2]]
    df = spark.createDataFrame(vals, "v long").repartition(5)
    expected = {
        (r["v"], r["__idx"])
        for r in df.withColumn(
            "__idx", F.row_number().over(Window.orderBy("v")) - 1
        ).collect()
    }
    for rpp in (1, 3, 1_000_000):  # many partitions … exactly one
        got = {
            (r["v"], r["__idx"])
            for r in dense_index(df, "v", rows_per_partition=rpp).collect()
        }
        assert got == expected, rpp


def test_negative_sample_no_single_partition_window(spark):
    """r5: the dense item index must not serialize the catalog through one
    task — the final plan has no Window fed by Exchange SinglePartition."""
    import sys

    sys.path.insert(0, ".")
    from tools.plan_audit import _final_plan, _single_partition_windows

    from ml_feature_store_pipeline_spark.operators.sampling import negative_sample

    pos = spark.createDataFrame([(1, 10), (2, 11)], "u long, it long")
    items = spark.createDataFrame([(i,) for i in range(10, 30)], "it long")
    out = negative_sample(pos, items, user_col="u", item_col="it", k=2)
    out.collect()
    plan = _final_plan(out._jdf.queryExecution().executedPlan().toString())
    assert _single_partition_windows(plan) == 0


def test_mixture_sample_epochs_copy_counts_match_plan(spark):
    """r7: multi-epoch mixture — every row is emitted exactly
    base + (md5 draw < frac cut) times with epochs 0..n-1; a source with
    no budget vanishes; output is deterministic across invocations."""
    from ml_feature_store_pipeline_spark.operators.sampling import (
        epoch_mixture_plan,
        hash_bucket,
        mixture_sample_epochs,
    )

    rows = [
        (1, "wiki", 10), (2, "wiki", 30),          # T=40
        (3, "web", 100), (4, "web", 60), (5, "web", 40),  # T=200
        (6, "junk", 50),                           # T=50, no budget
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, nt long")
    targets = {"wiki": 100, "web": 90}  # wiki 2.5 epochs, web 0.45, junk 0
    out = mixture_sample_epochs(
        df, "doc_id", "source", targets, n_tokens=F.col("nt")
    )
    got = sorted((r["doc_id"], r["epoch"]) for r in out.collect())

    plan = epoch_mixture_plan(df, "source", F.col("nt"), targets)
    assert plan["wiki"] == (2, 20, 40) and plan["web"] == (0, 90, 200)
    assert plan["junk"] == (0, 0, 1)
    buckets = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id", hash_bucket(F.col("doc_id"), 10000).alias("b")
        ).collect()
    }
    expect = []
    for doc_id, src, _nt in rows:
        base, num, den = plan[src]
        n = base + (1 if buckets[doc_id] < (10000 * num) // den else 0)
        expect.extend((doc_id, e) for e in range(n))
    assert got == sorted(expect)
    # junk emitted nothing; wiki docs appear at least twice each
    assert all(d not in (6,) for d, _ in got)
    assert {d for d, e in got if e >= 2} <= {1, 2}
    # deterministic: a second run is identical
    again = sorted((r["doc_id"], r["epoch"]) for r in out.collect())
    assert again == got


def test_proportional_targets_integer_split(spark):
    from ml_feature_store_pipeline_spark.operators.sampling import (
        proportional_targets,
    )

    totals = {"a": 100, "b": 50, "c": 0}
    # c has no tokens: its weight leaves the denominator and its target is 0
    assert proportional_targets(totals, {"a": 3, "b": 1, "c": 5}, 1000) == {
        "a": 750,
        "b": 250,
        "c": 0,
    }
    assert proportional_targets(totals, {}, 1000) == {"a": 0, "b": 0, "c": 0}


def test_experiment_assignment_sticky_and_partitioned(spark):
    from ml_feature_store_pipeline_spark.operators.sampling import (
        experiment_assignment,
        srm_check,
    )

    users = spark.range(2000).withColumnRenamed("id", "uid")
    arms = {"a": 0.5, "b": 0.5}
    one = {r["uid"]: r["arm"] for r in experiment_assignment(users, "uid", salt="s", arms=arms).collect()}
    two = {r["uid"]: r["arm"] for r in experiment_assignment(
        users.repartition(7), "uid", salt="s", arms=arms
    ).collect()}
    assert one == two  # sticky across partitionings
    other = {r["uid"]: r["arm"] for r in experiment_assignment(users, "uid", salt="s2", arms=arms).collect()}
    assert one != other  # a new salt is a new experiment
    # roughly balanced, and the SRM readout reflects the same counts
    n_a = sum(1 for v in one.values() if v == "a")
    assert 0.45 < n_a / 2000 < 0.55
    srm = {r["arm"]: r for r in srm_check(
        experiment_assignment(users, "uid", salt="s", arms=arms), "arm", arms
    ).collect()}
    assert srm["a"]["n"] == n_a and srm["b"]["n"] == 2000 - n_a
    assert srm["a"]["expected_frac"] == 0.5


def test_srm_check_zero_count_arm_appears(spark):
    from ml_feature_store_pipeline_spark.operators.sampling import srm_check

    assigned = spark.createDataFrame([("x",)] * 10, "arm string")
    out = {r["arm"]: r for r in srm_check(assigned, "arm", {"x": 0.5, "y": 0.5}).collect()}
    assert out["y"]["n"] == 0
    assert out["y"]["chi2_contrib"] == 5.0  # (0 - 5)^2 / 5
    assert out["x"]["chi2_contrib"] == 5.0


def test_bootstrap_mean_ci_brackets_and_converges(spark):
    import hashlib

    from ml_feature_store_pipeline_spark.operators.sampling import (
        _POISSON1_CDF,
        bootstrap_mean_ci,
    )
    from pyspark.sql import functions as F

    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 100).cast("double").alias("v")
    )
    r = bootstrap_mean_ci(df, "v", "k", n_replicates=16).collect()[0]
    true_mean = sum(i % 100 for i in range(2000)) / 2000
    assert r["n"] == 2000 and r["mean"] == true_mean
    # the CI must bracket the point estimate and be sane-width for n=2000
    assert r["ci_lo"] <= r["mean"] <= r["ci_hi"]
    assert 0 < r["ci_hi"] - r["ci_lo"] < 10

    # python-recount one replicate's weighted mean exactly
    def pois(u: float) -> int:
        for k, t in enumerate(_POISSON1_CDF):
            if u < t:
                return k
        return len(_POISSON1_CDF)

    def frac(s: str) -> float:
        # replicate 0 = first 8-hex (32-bit) chunk of md5('boot::0:' || key)
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) / 16**8

    ws = wn = 0.0
    for i in range(2000):
        w = pois(frac(f"boot::0:{i}"))
        ws += round(w * float(i % 100), 6)  # decimal(28,6) truncation-free here
        wn += w
    # replicate 0's mean must be within the CI computation's value set:
    # re-run with 1 replicate, where lo = hi = that replicate's mean
    one = bootstrap_mean_ci(df, "v", "k", n_replicates=1).collect()[0]
    assert one["ci_lo"] == one["ci_hi"] == round(ws / wn, 6)


def test_bootstrap_mean_ci_excludes_nulls(spark):
    from ml_feature_store_pipeline_spark.operators.sampling import bootstrap_mean_ci

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None)], "k long, v double"
    )
    r = bootstrap_mean_ci(df, "v", "k", n_replicates=4).collect()[0]
    assert r["n"] == 2 and r["mean"] == 15.0


def test_kl_mixture_weights_shape_and_floor():
    """r10 loop-closer: exp(-KL) weights in decimal half-up space — KL 0
    keeps full scale, ln(2) halves it (rounded), huge KL floors at 1, and
    ordering is monotone-decreasing in KL."""
    import math

    from ml_feature_store_pipeline_spark.operators.sampling import kl_mixture_weights

    w = kl_mixture_weights({"a": 0.0, "b": math.log(2), "c": 0.25, "d": 50.0})
    assert w["a"] == 10000
    assert w["b"] == 5000
    assert w["c"] == round(10000 * round(math.exp(-0.25), 6))
    assert w["d"] == 1  # floor: skewed sources stay represented, never dropped
    assert w["a"] > w["c"] > w["b"] > w["d"]


def test_kl_mixture_weights_feed_token_mixture_plan(spark):
    """The derived weights slot straight into the existing mixture
    machinery: the binding source keeps cut=buckets, others scale by the
    exact integer rational."""
    from ml_feature_store_pipeline_spark.operators.sampling import (
        kl_mixture_weights,
        token_mixture_plan,
    )

    df = spark.createDataFrame(
        [(1, "s0", 100), (2, "s0", 100), (3, "s1", 50)],
        "id long, source string, nt long",
    )
    weights = kl_mixture_weights({"s0": 0.0, "s1": 2.0})
    assert weights == {"s0": 10000, "s1": 1353}
    plan = token_mixture_plan(df, "source", F.col("nt"), weights)
    # binding source = min T/w: s0 at 200/10000=0.02 < s1 at 50/1353 ->
    # s0 keeps everything, s1 downsamples to the exact integer rational
    # (t_m*w_s)/(w_m*T_s) = (200*1353)/(10000*50)
    num0, den0 = plan["s0"]
    assert num0 == den0
    assert plan["s1"] == (200 * 1353, 10000 * 50)
