"""Quality validator tests against hand-computed C9–C13 values (SURVEY §5.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ml_feature_store_pipeline_spark.quality import DataQualityValidator, profile


def test_duplicate_fraction_matches_pandas_duplicated(spark):
    # [1,1,2] ⇒ duplicated fraction 1/3 (verified reference semantics, SURVEY C10)
    df = spark.createDataFrame([(1,), (1,), (2,)], "x long")
    prof = profile(df)
    assert prof.duplicate_percentage == pytest.approx(1 / 3)


def test_null_fraction_over_cell_grid(spark):
    df = spark.createDataFrame([(1, None), (None, "a"), (3, "b")], "x: long, y: string")
    prof = profile(df)
    # 2 nulls / 6 cells
    assert prof.null_percentage == pytest.approx(2 / 6)


def test_quartiles_linear_interpolation(spark):
    # pandas quantile(0.25) of [1,2,3,4] = 1.75 (linear interpolation) — C11
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "v double")
    prof = profile(df)
    q1, q3 = prof.quartiles["v"]
    assert q1 == pytest.approx(1.75)
    assert q3 == pytest.approx(3.25)


def test_outlier_fraction_iqr(spark):
    # 9 values 1..9 plus one 1000: Q1=3.25, Q3=7.75, IQR=4.5 → band [-3.5, 14.5]
    vals = [(float(i),) for i in range(1, 10)] + [(1000.0,)]
    df = spark.createDataFrame(vals, "v double")
    prof = profile(df)
    assert prof.outlier_counts["v"] == 1
    assert prof.outlier_percentage == pytest.approx(1 / 10)


def test_score_formula_and_default_checks(spark):
    df = spark.createDataFrame([(1, 1.0), (1, 1.0), (2, 4.0)], "user_id long, v double")
    metrics, prof = DataQualityValidator().validate(df)
    # dup 1/3, no nulls, no IQR outliers with 3 points, all default checks pass
    assert metrics.schema_violations == 0
    assert metrics.overall_score == pytest.approx(1 - 1 / 3)


def test_custom_check_failure_and_exception_count_as_violations(spark):
    df = spark.createDataFrame([(1,)], "user_id long")
    v = DataQualityValidator()
    v.add_check("always_false", lambda d: False)
    v.add_check("raises", lambda d: 1 / 0)
    metrics, _ = v.validate(df)
    assert metrics.schema_violations == 2  # each worth 0.1 in the score (`:152`)
    assert metrics.overall_score == pytest.approx(0.8)


def test_all_null_column_detected(spark):
    df = spark.createDataFrame([(1, None), (2, None)], "user_id: long, dead: string")
    metrics, _ = DataQualityValidator().validate(df)
    assert metrics.schema_violations == 1  # no_all_null_columns fails


def test_missing_user_id_column_flagged(spark):
    df = spark.createDataFrame([(1,)], "x long")
    metrics, _ = DataQualityValidator().validate(df)
    assert metrics.schema_violations == 1  # has_user_id fails


def test_approximate_profile_tracks_exact(spark):
    """The sketch-based 100 TB profile must track the exact one: identical
    nulls/counts (those stay exact), HLL distinct within its published ~2-5%
    error, approx quartiles close enough that the IQR band decision holds."""
    from ml_feature_store_pipeline_spark.sources.readers import read_table

    df = read_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    exact = profile(df)
    approx = profile(df, approximate=True)

    assert approx.row_count == exact.row_count
    assert approx.null_counts == exact.null_counts
    assert approx.numeric_non_null == exact.numeric_non_null
    assert approx.distinct_rows == pytest.approx(exact.distinct_rows, rel=0.05)
    for c, (q1, q3) in exact.quartiles.items():
        aq1, aq3 = approx.quartiles[c]
        spread = (q3 - q1) or 1.0
        assert abs(aq1 - q1) / spread < 0.05
        assert abs(aq3 - q3) / spread < 0.05


class TestDrift:
    def test_identical_distributions_have_near_zero_psi(self, spark):
        from ml_feature_store_pipeline_spark.operators import drift

        df = spark.range(0, 2000).select((F.col("id") % 100).cast("double").alias("v"))
        assert drift.psi(df, df, "v", lo=0.0, hi=100.0, bins=10) == pytest.approx(0.0, abs=1e-12)

    def test_shift_raises_psi_above_alarm(self, spark):
        from ml_feature_store_pipeline_spark.operators import drift

        base = spark.range(0, 2000).select((F.col("id") % 100).cast("double").alias("v"))
        shifted = base.select((F.col("v") + 50.0).alias("v"))  # half mass clamps into top bin
        assert drift.psi(base, shifted, "v", lo=0.0, hi=100.0, bins=10) > 0.25

    def test_empty_bins_stay_finite_and_all_bins_present(self, spark):
        import math

        from ml_feature_store_pipeline_spark.operators import drift

        e = spark.range(0, 100).select(F.lit(5.0).alias("v"))     # all in bin 0
        a = spark.range(0, 100).select(F.lit(95.0).alias("v"))    # all in bin 9
        rows = drift.psi_table(e, a, "v", lo=0.0, hi=100.0, bins=10).collect()
        assert [r["bin"] for r in rows] == list(range(10))
        assert all(math.isfinite(r["psi_contrib"]) for r in rows)

    def test_outliers_clamp_into_edge_bins(self, spark):
        from ml_feature_store_pipeline_spark.operators import drift

        df = spark.createDataFrame([(-50.0,), (500.0,)], "v double")
        got = {r["bin"]: r["n"] for r in drift.histogram(df, "v", 0.0, 100.0, 10).collect()}
        assert got == {0: 1, 9: 1}


def test_approximate_outlier_estimate_tracks_exact(spark):
    """r5 fusion: approximate mode derives outlier counts from the quantile
    grid's CDF (no second pass) — the estimate must track the exact count
    to within the sketch's rank error on a heavy-tailed column."""
    import math

    rows = [(float(i % 97),) for i in range(2000)] + [(1e6,)] * 25 + [(-1e6,)] * 15
    df = spark.createDataFrame(rows, "v double")
    exact = profile(df)
    approx = profile(df, approximate=True)
    n = exact.row_count
    got, want = sum(approx.outlier_counts.values()), sum(exact.outlier_counts.values())
    assert math.isclose(got, want, abs_tol=max(5, 0.01 * n)), (got, want)


def test_approximate_profile_survives_nan(edge_frame):
    """The grid CDF orders NaN as Spark does, so a NaN in the grid or at a
    band edge gives a count, not a ValueError."""
    import math

    exact = profile(edge_frame)
    approx = profile(edge_frame, approximate=True)
    assert approx.row_count == exact.row_count
    assert approx.null_counts == exact.null_counts
    assert approx.numeric_non_null == exact.numeric_non_null
    assert set(approx.outlier_counts) == set(exact.outlier_counts)
    for v in approx.outlier_counts.values():
        assert isinstance(v, int) and math.isfinite(v)


def test_profile_plan_shape(spark):
    """Approximate mode scans the input ONCE (quantile grid + CDF-derived
    outliers, no second pass)."""
    import re

    from ml_feature_store_pipeline_spark.quality import profile_aggregates

    df = spark.createDataFrame(
        [(i, float(i % 13), str(i % 3)) for i in range(500)], "id long, v double, s string"
    )
    approx = df.agg(*profile_aggregates(df, approximate=True))
    approx.collect()
    plan = approx._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Scan (?:parquet|ExistingRDD)", plan)) == 1


def test_profile_of_empty_input_runs_only_the_bounds_aggregate(spark, jobs_run_by):
    from ml_feature_store_pipeline_spark.quality import profile_aggregates

    df = spark.createDataFrame([], "user_id long, v double, s string")
    prof, jobs = jobs_run_by(lambda: profile(df))
    assert prof.row_count == 0 and prof.distinct_rows == 0
    assert prof.null_counts == {"user_id": 0, "v": 0, "s": 0}
    assert prof.numeric_non_null == {"user_id": 0, "v": 0}
    assert prof.quartiles == {} and prof.outlier_counts == {}
    # NULL quartiles build no violation sum, so no second aggregate runs
    _, bounds_jobs = jobs_run_by(
        lambda: df.agg(*profile_aggregates(df)).collect()
    )
    assert jobs == bounds_jobs
    metrics, _ = DataQualityValidator().validate(df)
    assert metrics.schema_violations == 1  # only the non_empty check fails


def _jsd(expected, actual, col):
    """The scalar JSD in nats: the sum of ``js_divergence_table``'s
    per-category contributions."""
    from ml_feature_store_pipeline_spark.operators.drift import js_divergence_table

    t = js_divergence_table(expected, actual, col)
    return t.agg(F.sum("jsd_contrib")).collect()[0][0]


class TestJsDivergence:
    def test_identical_distributions_are_zero(self, spark):
        df = spark.createDataFrame([(i, f"c{i % 4}") for i in range(100)], "id long, c string")
        assert _jsd(df, df, "c") == pytest.approx(0.0, abs=1e-9)

    def test_disjoint_distributions_hit_ln2(self, spark):
        import math

        e = spark.createDataFrame([("a",)] * 10, "c string")
        a = spark.createDataFrame([("b",)] * 10, "c string")
        assert _jsd(e, a, "c") == pytest.approx(math.log(2), abs=1e-6)

    def test_symmetry_and_hand_value(self, spark):
        import math

        e = spark.createDataFrame([("a",)] * 3 + [("b",)] * 1, "c string")
        a = spark.createDataFrame([("a",)] * 1 + [("b",)] * 3, "c string")
        d1, d2 = _jsd(e, a, "c"), _jsd(a, e, "c")
        assert d1 == pytest.approx(d2, abs=1e-9)
        # closed form: p=(3/4,1/4), q=(1/4,3/4), m=(1/2,1/2)
        want = 0.5 * (0.75 * math.log(1.5) + 0.25 * math.log(0.5)) * 2
        assert d1 == pytest.approx(want, abs=1e-6)


def test_k_anonymity_profile_hand_checked(spark):
    from ml_feature_store_pipeline_spark.quality import k_anonymity_profile

    rows = (
        [("a", 1)] * 6      # safe group (>= k)
        + [("a", 2)] * 2    # at risk
        + [("b", 1)] * 1    # at risk
        + [(None, 1)] * 5   # NULL tuple groups together -> safe at k=5
    )
    df = spark.createDataFrame(rows, "qa string, qb int")
    out = k_anonymity_profile(df, ["qa", "qb"], k=5).collect()[0]
    assert out["n_rows"] == 14 and out["n_groups"] == 4
    assert out["n_groups_at_risk"] == 2 and out["n_rows_at_risk"] == 3
    assert out["rows_at_risk_frac"] == round(3 / 14, 6)
    assert out["min_group_size"] == 1
    safe = k_anonymity_profile(df, ["qa", "qb"], k=1).collect()[0]
    assert safe["n_groups_at_risk"] == 0 and safe["n_rows_at_risk"] == 0


def test_categorical_entropy_uniform_and_degenerate(spark):
    import math

    from ml_feature_store_pipeline_spark.operators.drift import categorical_entropy

    rows = (
        [(1, "a")] * 3 + [(1, "b")] * 3          # uniform over 2 types
        + [(2, "a")] * 4                          # single type
        + [(3, "a"), (3, "b"), (3, "b"), (3, None)]  # NULL excluded
    )
    df = spark.createDataFrame(rows, "k long, c string")
    out = {r["k"]: r for r in categorical_entropy(df, "k", "c").collect()}
    assert out[1]["n_events"] == 6 and out[1]["n_types"] == 2
    assert out[1]["entropy"] == pytest.approx(math.log(2), abs=1e-6)
    assert out[1]["norm_entropy"] == pytest.approx(1.0, abs=1e-6)
    # single type: entropy exactly +0.0 (not -0.0), normalizer undefined
    assert out[2]["entropy"] == 0.0 and str(out[2]["entropy"]) == "0.0"
    assert out[2]["norm_entropy"] is None
    # NULL category rows don't count: key 3 is (a=1, b=2) over n=3
    assert out[3]["n_events"] == 3 and out[3]["n_types"] == 2
    want = -(1 / 3 * math.log(1 / 3) + 2 / 3 * math.log(2 / 3))
    assert out[3]["entropy"] == pytest.approx(want, abs=1e-6)


def test_benford_profile_hand_checked(spark):
    from ml_feature_store_pipeline_spark.quality import (
        BENFORD_EXPECTED,
        benford_profile,
    )

    # first digits: 1, 1, 2, 9; 0.5 excluded (< 1)
    df = spark.createDataFrame(
        [(1.5,), (123.4,), (250.0,), (9000.01,), (0.5,)], "v double"
    )
    rows = {r["digit"]: r for r in benford_profile(df, "v").collect()}
    assert set(rows) == set(range(1, 10))  # zero-count digits still appear
    assert rows[1]["n"] == 2 and rows[2]["n"] == 1 and rows[9]["n"] == 1
    assert rows[3]["n"] == 0
    assert rows[1]["freq"] == 0.5
    assert rows[1]["expected_freq"] == round(BENFORD_EXPECTED[1], 6)
    # chi2 contribution for digit 3: (0 - e*4)^2 / (e*4) = e*4
    e3 = BENFORD_EXPECTED[3]
    assert rows[3]["chi2_contrib"] == pytest.approx(e3 * 4, abs=1e-6)


def test_l_diversity_profile_hand_checked(spark):
    from ml_feature_store_pipeline_spark.quality import l_diversity_profile

    rows = (
        [("g1", "s1")] * 3 + [("g1", "s2")] * 2 + [("g1", "s3")]  # l=3, safe
        + [("g2", "s1")] * 4                                      # l=1, below
        + [("g3", "s1"), ("g3", None), ("g3", None)]              # NULLs don't diversify → l=1
    )
    df = spark.createDataFrame(rows, "qa string, s string")
    out = l_diversity_profile(df, ["qa"], "s", l=3).collect()[0]
    assert out["n_rows"] == 13 and out["n_groups"] == 3
    assert out["n_groups_below"] == 2
    assert out["n_rows_below"] == 7
    assert out["rows_below_frac"] == round(7 / 13, 6)
    assert out["min_distinct_sensitive"] == 1


def test_key_gini_skew_extremes(spark):
    from ml_feature_store_pipeline_spark.operators.drift import key_gini_skew

    # perfectly even: 4 keys x 3 rows -> gini 0, hhi_norm 0
    even = spark.createDataFrame([(k,) for k in range(4) for _ in range(3)], "k long")
    r = key_gini_skew(even, ["k"]).collect()[0]
    assert r["n_keys"] == 4 and r["n_rows"] == 12
    assert r["gini"] == 0.0 and r["hhi_norm"] == 0.0
    assert r["max_key_rows"] == 3

    # one dominant key: 1 key with 97 rows + 3 keys with 1 -> high gini
    skewed = spark.createDataFrame(
        [(0,)] * 97 + [(1,), (2,), (3,)], "k long"
    )
    s = key_gini_skew(skewed, ["k"]).collect()[0]
    # exact: counts [1,1,1,97]; G = (2*(1+2+3+4*97) - 5*100)/(4*100)
    assert s["gini"] == round((2 * (1 + 2 + 3 + 4 * 97) - 5 * 100) / 400, 6)
    assert s["max_key_rows"] == 97
    assert s["hhi_norm"] == round(((3 + 97 * 97) / 10000 - 0.25) / 0.75, 6)

    # single key: hhi_norm undefined
    one = key_gini_skew(spark.createDataFrame([(1,), (1,)], "k long"), ["k"]).collect()[0]
    assert one["gini"] == 0.0 and one["hhi_norm"] is None


def test_mutual_information_extremes(spark):
    import math

    from ml_feature_store_pipeline_spark.operators.drift import mutual_information

    # perfect dependence: cat determines the bin exactly
    dep = spark.createDataFrame(
        [("a", 5.0)] * 10 + [("b", 95.0)] * 10, "c string, v double"
    )
    r = mutual_information(dep, "c", "v", lo=0.0, hi=100.0, bins=10).collect()[0]
    assert r["n"] == 20 and r["n_cells"] == 2
    assert r["mi"] == pytest.approx(math.log(2), abs=1e-6)
    assert r["nmi"] == pytest.approx(1.0, abs=1e-6)

    # independence: every (cat, bin) cell equally likely -> mi 0
    ind = spark.createDataFrame(
        [(c, v) for c in ("a", "b") for v in (5.0, 95.0) for _ in range(5)],
        "c string, v double",
    )
    r0 = mutual_information(ind, "c", "v", lo=0.0, hi=100.0, bins=10).collect()[0]
    assert r0["mi"] == 0.0
    assert r0["nmi"] == 0.0


def test_daily_anomaly_profile_flags_spike(spark):
    import datetime as dt

    from ml_feature_store_pipeline_spark.operators.drift import daily_anomaly_profile

    b = dt.datetime(2024, 1, 1, 12, 0)
    rows = []
    # 8 flat days at total 10.0 (2 events x 5.0), then a 100x spike day
    for d in range(8):
        rows += [(b + dt.timedelta(days=d), 5.0), (b + dt.timedelta(days=d), 5.0)]
    rows += [(b + dt.timedelta(days=8), 1000.0)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r["day"].isoformat(): r for r in daily_anomaly_profile(df, "ts", "value").collect()}
    assert out["2024-01-01"]["z_score"] is None          # no baseline yet
    assert out["2024-01-02"]["z_score"] is None          # 1 baseline day < 2
    assert out["2024-01-03"]["z_score"] is None          # zero variance
    assert out["2024-01-03"]["is_anomaly"] is False
    spike = out["2024-01-09"]
    assert spike["baseline_days"] == 7
    assert spike["z_score"] is None or spike["z_score"] > 3  # flat baseline → var 0 → NULL
    # flat baseline has zero variance, so the spike z is NULL but wow fires
    assert spike["wow_change"] == 99.0                   # 1000/10 - 1
    # perturb one baseline day so variance > 0 and the z flag fires
    rows2 = rows[:-1] + [(b + dt.timedelta(days=3), 1.0)] + [(b + dt.timedelta(days=8), 1000.0)]
    df2 = spark.createDataFrame(rows2, "ts timestamp, value double")
    out2 = {r["day"].isoformat(): r for r in daily_anomaly_profile(df2, "ts", "value").collect()}
    assert out2["2024-01-09"]["is_anomaly"] is True
    assert out2["2024-01-09"]["z_score"] > 3


def test_referential_integrity_audit_hand_checked(spark):
    from ml_feature_store_pipeline_spark.quality import referential_integrity_audit

    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (99,), (None,)], "fk long"
    )
    parent = spark.createDataFrame([(1,), (2,), (2,), (3,)], "pk long")
    r = referential_integrity_audit(child, parent, "fk", "pk").collect()[0]
    assert r["n_child"] == 6 and r["n_parent"] == 4
    assert r["n_orphan_child_rows"] == 2      # the two fk=99 rows
    assert r["n_orphan_child_keys"] == 1
    assert r["n_childless_parents"] == 1      # pk=3
    assert r["n_dup_parent_rows"] == 1        # pk=2 appears twice


def test_welch_ttest_matches_scipy_formula(spark):
    from ml_feature_store_pipeline_spark.operators.drift import welch_ttest

    a = [1.0, 2.0, 3.0, 4.0, 5.0]
    b = [2.0, 4.0, 6.0, 8.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b] + [("c", 100.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = welch_ttest(df, "g", "v", "a", "b").collect()[0]
    import statistics

    ma, mb = statistics.mean(a), statistics.mean(b)
    va, vb = statistics.variance(a), statistics.variance(b)
    se2 = va / len(a) + vb / len(b)
    t = (ma - mb) / se2**0.5
    dof = se2**2 / (
        (va / len(a)) ** 2 / (len(a) - 1) + (vb / len(b)) ** 2 / (len(b) - 1)
    )
    assert r["n_a"] == 5 and r["n_b"] == 4
    assert r["mean_a"] == ma and r["mean_b"] == mb
    assert r["t_stat"] == pytest.approx(t, abs=1e-6)
    assert r["df"] == pytest.approx(dof, abs=1e-6)


def test_ks_statistic_extremes(spark):
    from ml_feature_store_pipeline_spark.operators.drift import ks_statistic

    same = spark.createDataFrame([(float(v),) for v in range(100)], "v double")
    r = ks_statistic(same, same, "v", lo=0.0, hi=100.0, bins=100).collect()[0]
    assert r["d_stat"] == 0.0 and r["n_a"] == r["n_b"] == 100

    lowv = spark.createDataFrame([(5.0,)] * 10, "v double")
    high = spark.createDataFrame([(95.0,)] * 10, "v double")
    s = ks_statistic(lowv, high, "v", lo=0.0, hi=100.0, bins=10).collect()[0]
    # disjoint masses: F_a jumps to 1 at bin 0, F_b stays 0 until bin 9
    assert s["d_stat"] == 1.0
    assert s["at_bin"] == 0


def test_mad_outlier_profile_robust_to_extremes(spark):
    from ml_feature_store_pipeline_spark.quality import mad_outlier_profile

    # 99 values near 10 (median 10, MAD 1) + one wild point
    rows = [("g", 10.0 + (i % 3) - 1) for i in range(99)] + [("g", 1e6)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mad_outlier_profile(df, ["g"], "v").collect()[0]
    assert r["median"] == 10.0 and r["mad"] == 1.0
    assert r["n_outliers"] == 1 and r["outlier_frac"] == 0.01

    # constant group: MAD 0 -> flags nothing, by contract
    const = spark.createDataFrame([("c", 5.0)] * 10 + [("c", 5.0)], "g string, v double")
    c = mad_outlier_profile(const, ["g"], "v").collect()[0]
    assert c["mad"] == 0.0 and c["n_outliers"] == 0


def test_banded_avg_rank_matches_pandas(spark):
    import pandas as pd

    from ml_feature_store_pipeline_spark.operators.drift import banded_avg_rank

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    # small n_bands forces multi-band offsets; ties must still average
    got = banded_avg_rank(df, "v", n_bands=3, rank_col="r").toPandas()
    got = got.sort_values(["v", "r"], ignore_index=True)
    exp = pd.Series(vals).rank(method="average").sort_values(ignore_index=True)
    want = pd.DataFrame({"v": sorted(vals), "r": exp.to_numpy()})
    assert (got["r"].to_numpy() == want["r"].to_numpy()).all()


def test_correlation_matrix_matches_numpy(spark):
    import numpy as np

    from ml_feature_store_pipeline_spark.operators.drift import correlation_matrix

    rng = [(float(i), float(i * 2 + (i % 3)), float(10 - i)) for i in range(20)]
    df = spark.createDataFrame(rng + [(None, 1.0, 1.0)], "a double, b double, c double")
    out = {
        (r["col_x"], r["col_y"]): r["corr"]
        for r in correlation_matrix(df, ["a", "b", "c"]).collect()
    }
    arr = np.array(rng)
    for (i, x), (j, y) in [((0, "a"), (1, "b")), ((0, "a"), (2, "c")), ((1, "b"), (2, "c"))]:
        assert out[(x, y)] == pytest.approx(np.corrcoef(arr[:, i], arr[:, j])[0, 1], abs=1e-6)


def test_correlation_matrix_constant_column_is_null(spark):
    from ml_feature_store_pipeline_spark.operators.drift import correlation_matrix

    df = spark.createDataFrame([(1.0, 7.0), (2.0, 7.0), (3.0, 7.0)], "a double, k double")
    r = correlation_matrix(df, ["a", "k"]).collect()[0]
    assert r["corr"] is None and r["n"] == 3


def test_spearman_corr_matches_pandas(spark):
    import pandas as pd

    from ml_feature_store_pipeline_spark.operators.drift import spearman_corr

    xs = [1.0, 2.0, 2.0, 3.0, 4.0, 5.0, 5.0, 7.0]
    ys = [10.0, 9.0, 9.0, 7.0, 8.0, 3.0, 2.0, 1.0]
    df = spark.createDataFrame(list(zip(xs, ys)) + [(None, 1.0)], "x double, y double")
    r = spearman_corr(df, "x", "y", n_bands=3).collect()[0]
    # pandas spearman needs scipy (absent here): rank by hand, Pearson on ranks
    want = pd.Series(xs).rank(method="average").corr(pd.Series(ys).rank(method="average"))
    assert r["n"] == 8
    assert r["spearman"] == pytest.approx(want, abs=1e-6)


def test_mann_whitney_u_hand_computed(spark):
    from ml_feature_store_pipeline_spark.operators.drift import mann_whitney_u

    # classic small example with a tie across groups
    a = [1.0, 2.0, 4.0, 4.0, 7.0]
    b = [3.0, 4.0, 6.0, 8.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b] + [("z", 0.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = mann_whitney_u(df, "g", "v", "a", "b", n_bands=2).collect()[0]
    # combined ranks: 1:1, 2:2, 3:3, 4s -> (4+5+6)/3 = 5 each, 6:7, 7:8, 8:9
    ra = 1 + 2 + 5 + 5 + 8
    rb = 3 + 5 + 7 + 9
    ua = ra - 5 * 6 / 2
    ub = rb - 4 * 5 / 2
    assert (r["n_a"], r["n_b"]) == (5, 4)
    assert r["u_a"] == ua and r["u_b"] == ub
    # U_a + U_b == n_a * n_b  (rank-sum identity)
    assert r["u_a"] + r["u_b"] == 20
    n = 9
    tie = 3**3 - 3
    var = 5 * 4 / 12 * ((n + 1) - tie / (n * (n - 1)))
    mean_u = 10.0
    z = (ua - mean_u + (0.5 if ua < mean_u else -0.5 if ua > mean_u else 0.0)) / var**0.5
    assert r["z"] == pytest.approx(z, abs=1e-6)


def test_daily_acf_constant_series_null_and_shift_detects_period(spark):
    import datetime

    from ml_feature_store_pipeline_spark.operators.drift import daily_acf

    base = datetime.datetime(2024, 1, 1)
    # period-2 alternating daily totals -> strong negative lag-1, positive lag-2
    rows = [
        (base + datetime.timedelta(days=i), 100.0 if i % 2 == 0 else 10.0)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r["lag"]: r for r in daily_acf(df, "ts", "value", max_lag=3).collect()}
    assert out[1]["n_pairs"] == 29 and out[2]["n_pairs"] == 28
    assert out[1]["acf"] < -0.9 and out[2]["acf"] > 0.9

    const = spark.createDataFrame(
        [(base + datetime.timedelta(days=i), 5.0) for i in range(10)],
        "ts timestamp, value double",
    )
    for r in daily_acf(const, "ts", "value", max_lag=2).collect():
        assert r["acf"] is None


def test_chi_square_independence_matches_formula(spark):
    from ml_feature_store_pipeline_spark.operators.drift import chi_square_independence

    # 2x2 with a known chi-square: [[10, 20], [20, 10]]
    rows = (
        [("x", "u")] * 10 + [("x", "v")] * 20 + [("y", "u")] * 20 + [("y", "v")] * 10
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_independence(df, "a", "b").collect()[0]
    assert r["n"] == 60 and r["dof"] == 1
    # e = 15 everywhere; chi2 = 4 * (5^2 / 15)
    assert r["chi2"] == pytest.approx(4 * 25 / 15, abs=1e-6)


def test_chi_square_independence_absent_cells_counted(spark):
    from ml_feature_store_pipeline_spark.operators.drift import chi_square_independence

    # cell (y, v) has ZERO observations -> contributes e, via the closed form
    rows = [("x", "u")] * 5 + [("x", "v")] * 5 + [("y", "u")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    r = chi_square_independence(df, "a", "b").collect()[0]
    n = 20
    exp = {("x", "u"): 10 * 15 / n, ("x", "v"): 10 * 5 / n,
           ("y", "u"): 10 * 15 / n, ("y", "v"): 10 * 5 / n}
    obs = {("x", "u"): 5, ("x", "v"): 5, ("y", "u"): 10, ("y", "v"): 0}
    want = sum((obs[c] - e) ** 2 / e for c, e in exp.items())
    assert r["chi2"] == pytest.approx(want, abs=1e-6)


def test_diff_in_diff_recovers_planted_effect(spark):
    from ml_feature_store_pipeline_spark.operators.drift import diff_in_diff

    rows = []
    # control: 10 pre at 5.0, 10 post at 6.0 (secular trend +1)
    rows += [(0, 0, 5.0)] * 10 + [(0, 1, 6.0)] * 10
    # treatment: 10 pre at 7.0, 10 post at 11.0 (+1 trend, +3 effect)
    rows += [(1, 0, 7.0)] * 10 + [(1, 1, 11.0)] * 10
    rows += [(None, 1, 9.9), (1, None, 9.9), (1, 1, None)]  # all excluded
    df = spark.createDataFrame(rows, "t int, p int, v double")
    from pyspark.sql import functions as F

    r = diff_in_diff(df, F.col("t") == 1, F.col("p") == 1, "v").collect()[0]
    assert (r["n_treat_pre"], r["n_treat_post"], r["n_ctrl_pre"], r["n_ctrl_post"]) == (
        10, 10, 10, 10,
    )
    assert r["did"] == pytest.approx(3.0)
    assert r["mean_ctrl_post"] == 6.0


def test_diff_in_diff_empty_cell_is_null(spark):
    from ml_feature_store_pipeline_spark.operators.drift import diff_in_diff
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 1, 2.0), (0, 0, 1.0), (0, 1, 1.5)], "t int, p int, v double"
    )  # no treat-pre cell
    r = diff_in_diff(df, F.col("t") == 1, F.col("p") == 1, "v").collect()[0]
    assert r["n_treat_pre"] is None and r["did"] is None


def test_seasonal_decompose_recovers_planted_components(spark):
    import datetime

    from ml_feature_store_pipeline_spark.operators.drift import seasonal_decompose_daily

    base = datetime.datetime(2024, 1, 1)  # a Monday
    day = datetime.timedelta(days=1)
    # value(t) = 100 + 2t (trend) + weekday bump (+20 on Saturdays idx 5)
    rows = []
    for t in range(28):
        v = 100.0 + 2.0 * t + (20.0 if t % 7 == 5 else 0.0)
        rows.append((base + t * day, v))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r["day"].isoformat(): r for r in seasonal_decompose_daily(df, "ts", "value").collect()}
    assert len(out) == 28
    # edges (first/last 3 days) have no full 7-day neighborhood
    assert out["2024-01-01"]["trend"] is None and out["2024-01-28"]["trend"] is None
    # interior: centered MA of a linear trend = the trend + the bump's
    # 1/7 share; Saturday seasonal ~ +20 * 6/7, others ~ -20/7
    mid = out["2024-01-10"]  # Wednesday, t=9
    assert mid["trend"] == pytest.approx(100 + 2 * 9 + 20 / 7, abs=1e-4)
    sat = out["2024-01-06"]  # Saturday, t=5
    assert sat["seasonal"] == pytest.approx(20 * 6 / 7, abs=1e-4)
    assert mid["seasonal"] == pytest.approx(-20 / 7, abs=1e-4)
    # decomposition identity holds wherever trend exists
    for r in out.values():
        if r["trend"] is not None:
            assert r["residual"] == pytest.approx(
                r["value"] - r["trend"] - r["seasonal"], abs=1e-5
            )
            assert abs(r["residual"]) < 0.5  # planted signal fully explained


def test_cuped_lift_removes_covariate_noise(spark):
    from ml_feature_store_pipeline_spark.operators.drift import cuped_lift
    from pyspark.sql import functions as F

    # y = x + effect·t: raw lift is polluted by an unlucky x imbalance;
    # CUPED with theta == 1 recovers the planted effect exactly
    rows = []
    for i in range(200):
        t = i % 2
        x = float(i)  # strongly imbalanced across arms (odd ids are treat)
        y = x + (3.0 if t else 0.0)
        rows.append((t, x, y))
    df = spark.createDataFrame(rows, "t int, x double, y double")
    r = cuped_lift(df, F.col("t") == 1, "x", "y").collect()[0]
    assert (r["n_treat"], r["n_ctrl"]) == (100, 100)
    # raw lift = effect + x imbalance (odd mean − even mean = 1): 3 + 1
    assert r["raw_lift"] == pytest.approx(4.0, abs=1e-4)
    # the alternating arm correlates faintly with x, so theta ~ 1 + O(1/var)
    assert r["theta"] == pytest.approx(1.0, abs=1e-2)
    assert r["cuped_lift"] == pytest.approx(3.0, abs=0.05)
    assert abs(r["cuped_lift"] - 3.0) < abs(r["raw_lift"] - 3.0)  # strictly better
    assert r["var_reduction"] > 0.99  # x explains almost all variance


def test_cuped_lift_null_guards(spark):
    from ml_feature_store_pipeline_spark.operators.drift import cuped_lift
    from pyspark.sql import functions as F

    # constant covariate: theta undefined, cuped NULL, raw still reported
    df = spark.createDataFrame(
        [(1, 5.0, 10.0), (0, 5.0, 8.0), (1, 5.0, 12.0), (0, 5.0, 9.0)],
        "t int, x double, y double",
    )
    r = cuped_lift(df, F.col("t") == 1, "x", "y").collect()[0]
    assert r["theta"] is None and r["cuped_lift"] is None
    assert r["raw_lift"] == pytest.approx(11.0 - 8.5)


def test_robust_trend_detects_monotone_and_resists_outlier(spark):
    import datetime

    from ml_feature_store_pipeline_spark.operators.drift import robust_trend_daily

    base = datetime.datetime(2024, 3, 1)
    day = datetime.timedelta(days=1)
    # strictly increasing daily totals +5/day, one wild outlier day
    rows = []
    for t in range(20):
        v = 100.0 + 5.0 * t if t != 10 else 100000.0
        rows.append((base + t * day, v))
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = robust_trend_daily(df, "ts", "value").collect()[0]
    assert r["n_days"] == 20
    # S near max: all pairs increasing except those crossing the spike
    assert r["mk_s"] > 100 and r["mk_z"] > 3
    # Theil-Sen ignores the outlier: slope stays ~5/day (OLS would not)
    assert r["sen_slope_per_day"] == pytest.approx(5.0, abs=0.5)


def test_robust_trend_constant_series(spark):
    import datetime

    from ml_feature_store_pipeline_spark.operators.drift import robust_trend_daily

    base = datetime.datetime(2024, 3, 1)
    rows = [(base + datetime.timedelta(days=t), 7.0) for t in range(10)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    r = robust_trend_daily(df, "ts", "value").collect()[0]
    assert r["mk_s"] == 0 and r["mk_z"] is None
    assert r["sen_slope_per_day"] == 0.0


def test_mann_whitney_empty_group_returns_one_null_row(spark):
    from ml_feature_store_pipeline_spark.operators.drift import mann_whitney_u

    df = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double")
    r = mann_whitney_u(df, "g", "v", "a", "b").collect()
    assert len(r) == 1  # the documented one-row contract
    assert (r[0]["n_a"], r[0]["n_b"]) == (2, 0)
    assert r[0]["z"] is None


def test_daily_acf_emits_every_lag_even_without_pairs(spark):
    import datetime

    from ml_feature_store_pipeline_spark.operators.drift import daily_acf

    base = datetime.datetime(2024, 1, 1)
    rows = [(base + datetime.timedelta(days=i), float(i)) for i in range(3)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r["lag"]: r for r in daily_acf(df, "ts", "value", max_lag=7).collect()}
    assert set(out) == set(range(1, 8))  # full spine
    assert out[2]["n_pairs"] == 1
    for lag in range(3, 8):
        assert out[lag]["n_pairs"] == 0 and out[lag]["acf"] is None


def test_survival_curve_ignores_null_timestamps(spark):
    import datetime

    from ml_feature_store_pipeline_spark.operators.windows import survival_curve

    base = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)
    rows = [
        (1, base), (1, base + day),
        (2, None), (2, None),            # all-NULL key: no lifetime info
        (3, base + 30 * day),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = survival_curve(df, "user_id", "ts", censor_days=7).collect()
    assert all(r["t_days"] is not None for r in out)
    assert sum(r["n_events"] + r["n_censored"] for r in out) == 2  # key 2 dropped


def test_trimmed_mean_hand_computed_with_tie_straddle(spark):
    from ml_feature_store_pipeline_spark.operators.drift import trimmed_mean

    # 10 values; trim 20% -> k=2 each side. Ties straddle the low cut:
    # [1, 1, 1, 4, 5, 6, 7, 8, 100, 200] -> keep positions 3..8
    vals = [1.0, 1.0, 1.0, 4.0, 5.0, 6.0, 7.0, 8.0, 100.0, 200.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    r = trimmed_mean(df, "v", trim_frac=0.2, n_bands=3).collect()[0]
    want = (1.0 + 4 + 5 + 6 + 7 + 8) / 6  # one of the three 1s survives
    assert (r["n"], r["n_trimmed_each_side"]) == (10, 2)
    assert r["trimmed_mean"] == pytest.approx(want, abs=1e-6)
    # robustness: the two big outliers are gone; plain mean is far away
    assert abs(r["trimmed_mean"] - sum(vals) / 10) > 25


def test_value_gini_extremes(spark):
    from ml_feature_store_pipeline_spark.operators.drift import value_gini

    equal = spark.createDataFrame([(5.0,)] * 10, "v double")
    assert value_gini(equal, "v").collect()[0]["gini"] == 0.0

    # one row owns everything: G = (n-1)/n
    conc = spark.createDataFrame([(0.0,)] * 9 + [(90.0,)], "v double")
    r = value_gini(conc, "v").collect()[0]
    assert r["gini"] == pytest.approx(9 / 10, abs=1e-9)

    neg = spark.createDataFrame([(1.0,), (-1.0,)], "v double")
    assert value_gini(neg, "v").collect()[0]["gini"] is None


def test_cusum_matches_recursive_fold_and_detects_shift(spark):
    import datetime

    from ml_feature_store_pipeline_spark.operators.drift import cusum_daily

    base = datetime.datetime(2024, 5, 1)
    day = datetime.timedelta(days=1)
    # baseline 7 days around 100 (sigma ~ small but > 0), then +8 shift:
    # too small for a per-day z alarm, accumulates in the CUSUM
    series = [100.0, 104.0, 96.0, 102.0, 98.0, 101.0, 99.0] + [108.0] * 10
    rows = [(base + i * day, v) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {r["day"].isoformat(): r for r in cusum_daily(df, "ts", "value").collect()}
    mu = sum(series[:7]) / 7
    sigma = (sum(v * v for v in series[:7]) / 7 - mu * mu) ** 0.5

    # recursive reference fold
    sp = 0.0
    expect = {}
    for i, v in enumerate(series):
        sp = max(0.0, sp + round(v - mu, 6))
        expect[(base + i * day).date().isoformat()] = sp
    for d, want in expect.items():
        assert out[d]["cusum_pos"] == pytest.approx(want, abs=1e-5)
    # baseline days never alarm; the shift eventually does
    for i in range(7):
        assert not out[(base + i * day).date().isoformat()]["is_alarm"]
    assert out[(base + 16 * day).date().isoformat()]["is_alarm"]
    # alarm day consistent with the threshold
    alarm_days = [d for d, r in out.items() if r["is_alarm"]]
    assert all(expect[d] > 5 * sigma for d in alarm_days)


def test_completeness_by_day_detects_null_burst(spark):
    import datetime

    from ml_feature_store_pipeline_spark.quality import completeness_by_day

    d1 = datetime.datetime(2024, 6, 1, 10)
    d2 = datetime.datetime(2024, 6, 2, 10)
    rows = [
        (d1, 1, "x"), (d1, 2, "y"),                 # day 1 clean
        (d2, None, "z"), (d2, None, None), (d2, 3, "w"),  # day 2 broken
        (None, 4, "q"),                              # NULL ts -> NULL day row
    ]
    df = spark.createDataFrame(rows, "ts timestamp, uid long, s string")
    out = {
        (r["day"].isoformat() if r["day"] else None, r["column_name"]): r
        for r in completeness_by_day(df, "ts", ["uid", "s"]).collect()
    }
    assert out[("2024-06-01", "uid")]["null_frac"] == 0.0
    assert out[("2024-06-02", "uid")]["null_frac"] == pytest.approx(2 / 3)
    assert out[("2024-06-02", "s")]["null_frac"] == pytest.approx(1 / 3)
    assert out[(None, "uid")]["n"] == 1  # NULL-ts rows reported, not hidden


def test_mann_whitney_oracle_matches_operator_on_degenerate_group(spark):
    """The registered DuckDB oracle must agree with the operator when one
    group is ABSENT: one row, nb=0, z NULL (r7 ADVICE — the old
    per-group 1-row CTEs cross-joined to zero rows)."""
    import duckdb

    from ml_feature_store_pipeline_spark.harness import oracle_registry
    from ml_feature_store_pipeline_spark.operators.drift import mann_whitney_u

    rows = [("view", 1.0), ("view", 2.0), ("view", 2.0)]
    con = duckdb.connect()
    con.sql("CREATE TABLE events (event_type VARCHAR, value DOUBLE)")
    con.executemany("INSERT INTO events VALUES (?, ?)", rows)
    got = con.sql(oracle_registry()["mann_whitney_view_purchase"]).fetchall()
    assert len(got) == 1  # the one-row contract, even with no 'purchase'
    df = spark.createDataFrame(rows, "event_type string, value double")
    want = mann_whitney_u(df, "event_type", "value", "view", "purchase").collect()[0]
    o = dict(zip(("n_a", "n_b", "u_a", "u_b", "z"), got[0]))
    assert (o["n_a"], o["n_b"]) == (want["n_a"], want["n_b"]) == (3, 0)
    assert o["u_a"] == want["u_a"] and o["u_b"] == want["u_b"] == 0.0
    assert o["z"] is None and want["z"] is None


def test_holt_forecast_matches_reference_fold(spark):
    import datetime

    from ml_feature_store_pipeline_spark.operators.drift import holt_forecast_daily

    base = datetime.datetime(2024, 5, 1, 12)
    day = datetime.timedelta(days=1)
    series = [100.0, 110.0, 105.0, 120.0, 130.0, 125.0, 140.0, 150.0]
    rows = [(base + i * day, v) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = {
        (r["day"].isoformat(), r["is_forecast"]): r
        for r in holt_forecast_daily(df, "ts", "value", alpha=0.5, beta=0.3).collect()
    }

    # the engines round HALF_UP in decimal space; python round() is
    # banker's — the in-sample series hits a real 6 dp half-boundary
    def r6(x):
        import decimal

        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    # reference fold with the operator's 9 dp state quantization
    a, b_ = 0.5, 0.3
    l, b = series[0], 0.0
    states = [(l, b)]
    for x in series[1:]:
        l_new = round(a * x + (1 - a) * (l + b), 9)
        b = round(b_ * (l_new - l) + (1 - b_) * b, 9)
        l = l_new
        states.append((l, b))
    for i, (lv, tr) in enumerate(states):
        d = (base + i * day).date().isoformat()
        r = out[(d, False)]
        assert r["level"] == pytest.approx(r6(lv), abs=1e-9)
        assert r["trend"] == pytest.approx(r6(tr), abs=1e-9)
        if i == 0:
            assert r["fitted"] is None
        else:
            lp, bp = states[i - 1]
            assert r["fitted"] == pytest.approx(r6(lp + bp), abs=1e-9)
    # 7 forecast rows extend the last level linearly along the trend
    fc = [r for (d, is_f), r in out.items() if is_f]
    assert len(fc) == 7
    ln, bn = states[-1]
    for r in fc:
        h = (r["day"] - (base + (len(series) - 1) * day).date()).days
        assert 1 <= h <= 7 and r["value"] is None and r["level"] is None
        assert r["fitted"] == pytest.approx(r6(ln + h * bn), abs=1e-9)


def test_holt_forecast_single_day_degenerates_flat(spark):
    import datetime

    from ml_feature_store_pipeline_spark.operators.drift import holt_forecast_daily

    df = spark.createDataFrame(
        [(datetime.datetime(2024, 5, 1, 9), 42.0)], "ts timestamp, value double"
    )
    rows = holt_forecast_daily(df, "ts", "value").collect()
    assert len(rows) == 8  # 1 in-sample + 7 forecast
    fc = [r for r in rows if r["is_forecast"]]
    assert all(r["fitted"] == pytest.approx(42.0) for r in fc)  # b0 = 0 -> flat


def test_t_closeness_hand_computed(spark):
    """TVD per group against the global distribution, including the
    absent-category complement mass and the NULL sensitive category."""
    from ml_feature_store_pipeline_spark.quality import t_closeness_profile

    rows = (
        [("g1", "a")] * 2 + [("g1", "b")] * 2          # g1 mirrors nothing exactly
        + [("g2", "a")] * 4                            # g2 is pure-a (skew leak)
        + [("g3", None)] * 2 + [("g3", "b")] * 2       # null sensitive is a category
    )
    df = spark.createDataFrame(rows, "g string, s string")
    out = {r["g"]: r for r in t_closeness_profile(df, ["g"], "s", t=0.3).collect()}
    # global: a=6/12, b=4/12, null=2/12
    pa, pb, pn = 6 / 12, 4 / 12, 2 / 12

    def tvd(dist):
        cats = {"a": pa, "b": pb, None: pn}
        return 0.5 * sum(abs(dist.get(c, 0.0) - p) for c, p in cats.items())

    assert out["g1"]["tvd"] == pytest.approx(tvd({"a": 0.5, "b": 0.5}), abs=1e-6)
    assert out["g2"]["tvd"] == pytest.approx(tvd({"a": 1.0}), abs=1e-6)
    assert out["g3"]["tvd"] == pytest.approx(tvd({None: 0.5, "b": 0.5}), abs=1e-6)
    assert not out["g2"]["meets_t"] and out["g1"]["meets_t"]
    assert all(r["n_rows"] == 4 for r in out.values())


def test_best_split_finds_the_level_shift(spark):
    import datetime

    from ml_feature_store_pipeline_spark.operators.drift import best_split_daily

    base = datetime.datetime(2024, 5, 1, 12)
    day = datetime.timedelta(days=1)
    series = [100.0] * 10 + [180.0] * 8  # clean break after day 10
    rows = [(base + i * day, v) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = best_split_daily(df, "ts", "value").collect()
    assert len(out) == 1
    r = out[0]
    assert r["split_day"].isoformat() == (base + 9 * day).date().isoformat()
    assert r["n_days"] == 18
    assert r["mean_left"] == pytest.approx(100.0)
    assert r["mean_right"] == pytest.approx(180.0)
    assert r["sse_split"] == pytest.approx(0.0)
    # sse_total = sum((v - mean)^2), mean = (1000+1440)/18
    mean = sum(series) / 18
    sse_t = sum((v - mean) ** 2 for v in series)
    assert r["sse_total"] == pytest.approx(sse_t, rel=1e-9)
    assert r["gain"] == pytest.approx(sse_t, rel=1e-9)


def test_best_split_too_short_series_is_empty(spark):
    import datetime

    from ml_feature_store_pipeline_spark.operators.drift import best_split_daily

    base = datetime.datetime(2024, 5, 1)
    rows = [(base + datetime.timedelta(days=i), 10.0) for i in range(3)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    assert best_split_daily(df, "ts", "value").count() == 0  # needs >= 4 days


def test_forecast_backtest_prefers_the_right_model(spark):
    """On a pure weekly-seasonal series the 7-day naive is perfect
    (mae_naive=0 -> mase NULL); on a pure linear trend Holt wins
    (mase < 1)."""
    import datetime

    from ml_feature_store_pipeline_spark.operators.drift import forecast_backtest_daily

    base = datetime.datetime(2024, 5, 1, 12)
    day = datetime.timedelta(days=1)

    weekly = [100.0, 120.0, 90.0, 110.0, 95.0, 130.0, 105.0] * 4
    df_w = spark.createDataFrame(
        [(base + i * day, v) for i, v in enumerate(weekly)],
        "ts timestamp, value double",
    )
    r = forecast_backtest_daily(df_w, "ts", "value").collect()[0]
    assert r["mae_naive"] == pytest.approx(0.0)
    assert r["mase"] is None  # guarded division
    assert r["n_days"] == len(weekly) - 7

    trend = [100.0 + 10.0 * i for i in range(28)]
    df_t = spark.createDataFrame(
        [(base + i * day, v) for i, v in enumerate(trend)],
        "ts timestamp, value double",
    )
    r = forecast_backtest_daily(df_t, "ts", "value").collect()[0]
    assert r["mase"] is not None and r["mase"] < 1.0  # Holt tracks the trend
    assert r["mae_naive"] == pytest.approx(70.0)  # lag-7 misses by 7x slope


def test_stl_anomaly_flags_the_seasonal_break_not_the_weekends(spark):
    """A weekly-seasonal series with one broken day: raw-value z would
    flag every weekend; the residual test flags only the break."""
    import datetime

    from ml_feature_store_pipeline_spark.operators.drift import stl_anomaly_days

    base = datetime.datetime(2024, 1, 1, 12)  # a Monday
    day = datetime.timedelta(days=1)
    pattern = [100.0, 100.0, 100.0, 100.0, 100.0, 300.0, 300.0]  # weekend spike
    # deterministic jitter keeps the residuals continuous — a perfectly
    # repeating series has MAD 0, where the modified-z test (correctly)
    # abstains with null z
    series = [v + (i * 37 % 11) * 0.8 for i, v in enumerate(pattern * 5)]
    series[17] += 500.0  # one genuinely broken day (a Thursday)
    rows = [(base + i * day, v) for i, v in enumerate(series)]
    df = spark.createDataFrame(rows, "ts timestamp, value double")
    out = stl_anomaly_days(df, "ts", "value").collect()
    by_day = {r["day"].isoformat(): r for r in out}
    broken = (base + 17 * day).date().isoformat()
    # the break is flagged and DOMINATES every seasonal imperfection (the
    # centered MA bleeds the outlier into its neighborhood, so neighbors
    # may also trip the 3.5 threshold — the test is the margin, not
    # exclusivity)
    assert by_day[broken]["is_anomaly"]
    z_break = abs(by_day[broken]["modified_z"])
    z_rest = max(
        abs(r["modified_z"]) for r in out
        if r["modified_z"] is not None and r["day"].isoformat() != broken
    )
    assert z_break > 2 * z_rest
    # flag/threshold consistency
    for r in out:
        if r["is_anomaly"]:
            assert abs(r["modified_z"]) > 3.5
        if r["modified_z"] is None:
            assert not r["is_anomaly"]
