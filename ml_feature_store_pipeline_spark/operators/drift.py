"""Feature-drift monitoring: population stability index over histograms.

The reference's monitor alerts on a single quality score (``ML Feature
Store Pipeline.py:211-220``); production feature stores also need
DISTRIBUTION drift between a baseline snapshot (training time) and the
serving population. PSI over fixed-width bins is the standard check:
``PSI = Σ (a_i − e_i) · ln(a_i / e_i)`` over bin fractions, with
ε-smoothing so empty bins stay finite. Rule of thumb: <0.1 stable,
0.1–0.25 drifting, >0.25 alarm.

Scale shape: each side is ONE partial-aggregated groupBy over a codegen'd
bin expression (shuffles ``bins`` rows per partition, never data), and the
bin tables join broadcast. Fixed, explicit [lo, hi) keeps bin edges
deterministic across engines and snapshots — never derive edges from the
actual side or drift becomes invisible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import local_frame


def bin_index(col: Column, lo: float, hi: float, bins: int) -> Column:
    """Fixed-width bin in [0, bins): outliers clamp into the edge bins,
    nulls are excluded by the aggregation (count ignores them)."""
    width = (hi - lo) / bins
    raw = F.floor((col.cast("double") - F.lit(lo)) / F.lit(width))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("int")


def histogram(df: DataFrame, value_col: str, lo: float, hi: float, bins: int) -> DataFrame:
    """(bin, n) counts over fixed-width bins — one partial-agg shuffle of
    ≤ ``bins`` rows per partition."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(bin_index(F.col(value_col), lo, hi, bins).alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def psi_table(
    expected: DataFrame,
    actual: DataFrame,
    value_col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-bin PSI decomposition: (bin, expected_frac, actual_frac,
    psi_contrib). Empty bins appear with ε-smoothed fractions, so the
    output always has exactly ``bins`` rows — auditable bin-by-bin."""
    spark = expected.sparkSession
    all_bins = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    e = histogram(expected, value_col, lo, hi, bins).withColumnRenamed("n", "n_e")
    a = histogram(actual, value_col, lo, hi, bins).withColumnRenamed("n", "n_a")
    joined = (
        all_bins.join(F.broadcast(e), "bin", "left")
        .join(F.broadcast(a), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_e", F.lit(0)).alias("n_e"),
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
        )
    )
    tot = joined.select(F.sum("n_e").alias("te"), F.sum("n_a").alias("ta"))
    ef = F.greatest(F.col("n_e") / F.col("te"), F.lit(eps))
    af = F.greatest(F.col("n_a") / F.col("ta"), F.lit(eps))
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            ef.alias("expected_frac"),
            af.alias("actual_frac"),
            ((af - ef) * F.log(af / ef)).alias("psi_contrib"),
        )
        .orderBy("bin")
    )


def psi(
    expected: DataFrame,
    actual: DataFrame,
    value_col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 10,
    eps: float = 1e-6,
) -> float:
    """Total PSI (driver scalar — collects ``bins`` rows, nothing more)."""
    t = psi_table(expected, actual, value_col, lo=lo, hi=hi, bins=bins, eps=eps)
    return float(t.agg(F.sum("psi_contrib")).collect()[0][0])


def key_skew_profile(df: DataFrame, key_cols: list[str], *, top_n: int = 20) -> DataFrame:
    """Heavy-hitter profile of a prospective shuffle key: the ``top_n``
    hottest keys with their row counts and share of the table.

    This is the pre-flight check for every partitionBy/groupBy/join-key
    decision in this repo (as-of joins, sessionization, dedup buckets): a
    key with share ≫ 1/shuffle_partitions predicts a straggler task and
    argues for salting the hot key, time-bucketing
    (:func:`~.joins.asof_join_bucketed`), or AQE skew splitting.

    Cost: one partial-aggregated groupBy on the key (the same shuffle the
    real query would do, but carrying count-rows only), then a global
    top-n (TakeOrdered — no full sort) and a broadcast of the 1-row total.
    Deterministic output: ties broken by key ascending.
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(
        F.sum("n_rows").alias("__total"), F.count(F.lit(1)).alias("n_keys")
    )
    top = counts.orderBy(F.desc("n_rows"), *[F.asc(c) for c in key_cols]).limit(top_n)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            "n_rows",
            (F.col("n_rows") / F.col("__total")).alias("share"),
            (F.col("n_rows") * F.col("n_keys") / F.col("__total")).alias("skew_ratio"),
        )
    )


def js_divergence_table(
    expected: DataFrame,
    actual: DataFrame,
    cat_col: str,
    *,
    round_digits: int = 9,
) -> DataFrame:
    """Categorical drift: per-category Jensen–Shannon divergence
    contributions between a baseline and a serving population — PSI's
    categorical sibling, and the better-behaved one (JSD is symmetric,
    bounded by ln 2, and finite even for categories present on only ONE
    side — exactly where PSI's ε fudge lives).

    ``JSD(P, Q) = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m)`` with ``m = (p+q)/2``;
    a category absent from one side contributes ``½·p·ln 2`` from the
    other (the natural limit — no smoothing constant to tune).

    Scale shape: one partial-aggregated groupBy per side (shuffles
    |categories| rows, never data), full-outer join of the two category
    tables, totals broadcast. Output: (category, p, q, jsd_contrib),
    rounded for engine-stable comparison; sum the column for the scalar.
    """
    e = expected.filter(F.col(cat_col).isNotNull()).groupBy(
        F.col(cat_col).alias("category")
    ).agg(F.count(F.lit(1)).alias("__ne"))
    a = actual.filter(F.col(cat_col).isNotNull()).groupBy(
        F.col(cat_col).alias("category")
    ).agg(F.count(F.lit(1)).alias("__na"))
    te = e.agg(F.sum("__ne").alias("__te"))
    ta = a.agg(F.sum("__na").alias("__ta"))
    j = (
        e.join(a, "category", "full_outer")
        .crossJoin(F.broadcast(te))
        .crossJoin(F.broadcast(ta))
    )
    p = F.coalesce(F.col("__ne"), F.lit(0)) / F.col("__te")
    q = F.coalesce(F.col("__na"), F.lit(0)) / F.col("__ta")
    m = (p + q) / 2
    term = lambda x: F.when(x > 0, x * F.log(x / m)).otherwise(F.lit(0.0))
    return j.select(
        "category",
        F.round(p, round_digits).alias("p"),
        F.round(q, round_digits).alias("q"),
        F.round(0.5 * (term(p) + term(q)), round_digits).alias("jsd_contrib"),
    )


def categorical_entropy(
    df: DataFrame,
    key_col: str,
    cat_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Per-key Shannon entropy of a categorical column — the behavioral-
    diversity feature ("does this user do one thing or many?") and the
    per-segment label-balance audit, in one operator. Output per key:
    ``n_events``, ``n_types``, ``entropy`` (nats), and ``norm_entropy``
    = entropy / ln(n_types) ∈ [0, 1] (NULL for single-type keys, where
    the normalizer is 0).

    Engine-stable math: each category's ``p·ln p`` term is summed through
    a decimal(28,9) cast (the :func:`~..functions.dsum` recipe at higher
    scale — the term magnitudes are ≤ 1/e so 9 fractional digits keep
    ~1e-9 accuracy while staying order-insensitive and bit-identical
    across engines); ``ln`` parity between the JVM and DuckDB libm is the
    same contract the green JSD oracle already rides. NULL categories are
    excluded (entropy of observed values).

    Scale shape: one map-side-combinable count per (key, category), then
    a key-level aggregate over the |keys × vocab| count table — for a
    bounded vocabulary that second shuffle carries dimension-sized rows.
    No window, no join, no row egress.
    """
    counts = (
        df.filter(F.col(cat_col).isNotNull())
        .groupBy(key_col, cat_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    tot = Window.partitionBy(key_col)
    # p per (key, cat) needs the key total: a window-sum over the count
    # table (dimension-sized) avoids a self-join
    with_p = counts.withColumn("__n", F.sum("__c").over(tot)).withColumn(
        "__p", F.col("__c") / F.col("__n")
    )
    term = (F.col("__p") * F.log(F.col("__p"))).cast("decimal(28,9)")
    per_key = with_p.groupBy(key_col).agg(
        F.max("__n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        # + 0.0 normalizes the single-type key's -0.0 to +0.0 (a -0.0
        # would hash differently from the oracle's 0.0)
        (-F.sum(term).cast("double") + F.lit(0.0)).alias("__h"),
    )
    return per_key.select(
        key_col,
        "n_events",
        "n_types",
        F.round(F.col("__h"), round_digits).alias("entropy"),
        F.round(
            F.when(
                F.col("n_types") > 1,
                F.col("__h") / F.log(F.col("n_types").cast("double")),
            ),
            round_digits,
        ).alias("norm_entropy"),
    )


def key_gini_skew(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Single-row inequality summary of a prospective shuffle key: the
    GINI coefficient of the per-key row counts (0 = perfectly even, → 1 =
    one key owns everything) and the normalized Herfindahl index — the
    scalar companions to :func:`key_skew_profile`'s top-N listing, and
    the number a capacity planner thresholds on before picking a
    partitioning.

    Gini via the sorted-rank identity
    ``G = (2·Σᵢ i·cᵢ − (n+1)·Σ cᵢ) / (n·Σ cᵢ)`` (counts ascending,
    i = 1..n), folded over RUNS of equal counts: a count value ``c`` with
    multiplicity ``m`` whose run starts after ``S`` smaller keys
    contributes ``Σ i·c = c·(m·S + m(m+1)/2)`` — exact integers all the
    way, one double division at the end. HHI_norm =
    (Σ(cᵢ/N)² − 1/n) / (1 − 1/n), NULL for a single key.

    Scale shape: one map-side-combined count per key, then a second
    count-of-counts aggregate — the global cumulative window runs over
    |distinct count VALUES| (heavily concentrated in practice; worst case
    |keys| when every key has a unique count), never over keys or rows.
    """
    counts = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("__c")
    )
    runs = counts.groupBy("__c").agg(F.count(F.lit(1)).alias("__m"))
    w = Window.orderBy(F.asc("__c")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # rank·count and count² overflow int64 past ~1e9 keys × 1e9 rows/key;
    # decimal(38,0) keeps the integer identity exact (DuckDB's HUGEINT
    # promotion gives the oracle the same headroom for free)
    dec = lambda c: c.cast("decimal(38,0)")
    staged = runs.select(
        "__c",
        "__m",
        F.coalesce(F.sum("__m").over(w), F.lit(0)).alias("__s"),
    )
    c, m, s = dec(F.col("__c")), dec(F.col("__m")), dec(F.col("__s"))
    n = F.sum(dec(F.col("__m")))
    tot = F.sum(c * m)
    # 2·Σ i·cᵢ over the run, kept integral: c·(2mS + m² + m)
    weighted2 = F.sum(c * (2 * m * s + m * m + m))
    hh = F.sum(c * c * m)
    gini = (weighted2 - (n + 1) * tot).cast("double") / (n * tot).cast(
        "double"
    )
    hhi = hh.cast("double") / (tot * tot).cast("double")
    n_keys = F.sum("__m")
    hhi_norm = F.when(n_keys > 1, (hhi - 1 / n_keys) / (1 - 1 / n_keys))
    return staged.agg(
        n_keys.cast("long").alias("n_keys"),
        F.sum(F.col("__c") * F.col("__m")).cast("long").alias("n_rows"),
        F.round(gini, 6).alias("gini"),
        F.round(hhi_norm, 6).alias("hhi_norm"),
        F.max("__c").cast("long").alias("max_key_rows"),
    )


def mutual_information(
    a: DataFrame,
    cat_col: str,
    value_col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Mutual information (nats) between a categorical column and a BINNED
    numeric column — the model-free dependence screen ("does event type
    carry any signal about value?") that feature selection runs before
    training anything. One row: (n, n_cells, mi, nmi) with
    ``nmi = mi / min(H(cat), H(bin))`` ∈ [0, 1] (NULL when either
    marginal entropy is 0).

    Terms ``p_xy·ln(p_xy/(p_x·p_y))`` are decimal(28,9)-summed (the
    engine-stable recipe from :func:`categorical_entropy`); marginals
    come from window sums over the |cells| contingency table. Rows with
    NULL category or NULL/out-of-range value are excluded.

    Scale shape: ONE map-side-combined count to ≤ |cats|·bins cells;
    everything after runs on that dimension-sized table. No row egress.
    """
    v = F.col(value_col)
    cells = (
        a.filter(F.col(cat_col).isNotNull() & v.isNotNull() & (v >= lo) & (v <= hi))
        .select(F.col(cat_col).alias("__x"), bin_index(v, lo, hi, bins).alias("__y"))
        .groupBy("__x", "__y")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    tot = Window.partitionBy()
    wx = Window.partitionBy("__x")
    wy = Window.partitionBy("__y")
    with_m = cells.select(
        "__c",
        F.sum("__c").over(tot).alias("__n"),
        F.sum("__c").over(wx).alias("__cx"),
        F.sum("__c").over(wy).alias("__cy"),
    )
    pxy = F.col("__c") / F.col("__n")
    px = F.col("__cx") / F.col("__n")
    py = F.col("__cy") / F.col("__n")
    mi_term = (pxy * F.log(pxy / (px * py))).cast("decimal(28,9)")
    hx_term = (pxy * F.log(px)).cast("decimal(28,9)")
    hy_term = (pxy * F.log(py)).cast("decimal(28,9)")
    agg = with_m.agg(
        F.max("__n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        (F.sum(mi_term).cast("double") + F.lit(0.0)).alias("__mi"),
        (-F.sum(hx_term).cast("double") + F.lit(0.0)).alias("__hx"),
        (-F.sum(hy_term).cast("double") + F.lit(0.0)).alias("__hy"),
    )
    hmin = F.least(F.col("__hx"), F.col("__hy"))
    return agg.select(
        "n",
        "n_cells",
        F.round(F.col("__mi"), round_digits).alias("mi"),
        F.round(F.when(hmin > 0, F.col("__mi") / hmin), round_digits).alias("nmi"),
    )


def daily_anomaly_profile(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    baseline_days: int = 7,
    z_threshold: float = 3.0,
    round_digits: int = 6,
) -> DataFrame:
    """Daily metric monitoring: per day, the decimal-exact total, a
    z-score against the TRAILING ``baseline_days`` (strictly before the
    day — the day never scores against itself), week-over-week change,
    and an anomaly flag — the alerting row every metrics pipeline ends up
    writing. Days with fewer than 2 baseline days (or zero baseline
    variance) get NULL z.

    Engine-stable math: daily totals are decimal sums; the trailing
    mean/variance come from decimal-summed Σx and Σx² over the ≤
    ``baseline_days`` frame (population variance, one closed form — no
    engine ``stddev`` whose summation order could differ), so both
    engines evaluate the identical double expression.

    Scale shape: one map-side-combinable day aggregate; every window after
    runs on the |days| table (a single-partition frame over day-grain
    rows — dimension-sized by construction).
    """
    from ..functions import dsum

    day = F.date_trunc("day", F.col(ts_col)).cast("date").alias("day")
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(day)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dsum(F.col(value_col)).alias("total"),
        )
    )
    frame = (
        Window.orderBy(F.asc("day"))
        .rowsBetween(-baseline_days, -1)
    )
    dec = lambda c: c.cast("decimal(28,6)")
    cnt = F.count("total").over(frame)
    s1 = F.sum(dec(F.col("total"))).over(frame).cast("double")
    s2 = F.sum(dec(F.col("total") * F.col("total"))).over(frame).cast("double")
    wow = F.lag("total", 7).over(Window.orderBy(F.asc("day")))
    staged = daily.select(
        "day",
        "n",
        "total",
        cnt.alias("__bn"),
        s1.alias("__s1"),
        s2.alias("__s2"),
        wow.alias("__wow"),
    )
    mean = F.col("__s1") / F.col("__bn")
    var = F.col("__s2") / F.col("__bn") - mean * mean
    z = F.when(
        (F.col("__bn") >= 2) & (var > 0),
        (F.col("total") - mean) / F.sqrt(var),
    )
    return staged.select(
        "day",
        "n",
        "total",
        F.col("__bn").cast("long").alias("baseline_days"),
        F.round(z, round_digits).alias("z_score"),
        F.round(
            F.when(F.col("__wow") != 0, F.col("total") / F.col("__wow") - 1),
            round_digits,
        ).alias("wow_change"),
        F.coalesce(F.abs(z) > z_threshold, F.lit(False)).alias("is_anomaly"),
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Welch's two-sample t-test between two groups of a metric — the A/B
    readout: one row (n_a, n_b, mean_a, mean_b, mean_diff, t_stat, df).
    Compare ``t_stat`` to the t-distribution at ``df`` degrees of freedom
    (Welch–Satterthwaite) driver-side; the engine's job is the moments.

    Engine-stable: means and sample variances come from decimal-summed
    Σx / Σx² (one closed form, both engines evaluate the identical
    doubles); NULL values are excluded; t/df are NULL when either group
    has < 2 rows or both variances are 0.

    Scale shape: ONE map-side-combinable aggregate over the filtered
    scan — five partials per group, zero row egress, no shuffle beyond
    the 2-row group table.
    """
    v = F.col(value_col)
    dec = lambda c: c.cast("decimal(28,6)")
    g = (
        df.filter(F.col(group_col).isin([group_a, group_b]) & v.isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(dec(v)).cast("double").alias("__s1"),
            F.sum(dec(v * v)).cast("double").alias("__s2"),
        )
    )
    a = g.filter(F.col("__g") == group_a).select(
        F.col("__n").alias("na"), F.col("__s1").alias("sa1"), F.col("__s2").alias("sa2")
    )
    b = g.filter(F.col("__g") == group_b).select(
        F.col("__n").alias("nb"), F.col("__s1").alias("sb1"), F.col("__s2").alias("sb2")
    )
    j = a.crossJoin(b)
    ma = F.col("sa1") / F.col("na")
    mb = F.col("sb1") / F.col("nb")
    va = (F.col("sa2") - F.col("na") * ma * ma) / (F.col("na") - 1)
    vb = (F.col("sb2") - F.col("nb") * mb * mb) / (F.col("nb") - 1)
    se2 = va / F.col("na") + vb / F.col("nb")
    t = F.when(
        (F.col("na") >= 2) & (F.col("nb") >= 2) & (se2 > 0), (ma - mb) / F.sqrt(se2)
    )
    dof = F.when(
        (F.col("na") >= 2) & (F.col("nb") >= 2) & (se2 > 0),
        (se2 * se2)
        / (
            (va / F.col("na")) * (va / F.col("na")) / (F.col("na") - 1)
            + (vb / F.col("nb")) * (vb / F.col("nb")) / (F.col("nb") - 1)
        ),
    )
    return j.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(ma, round_digits).alias("mean_a"),
        F.round(mb, round_digits).alias("mean_b"),
        F.round(ma - mb, round_digits).alias("mean_diff"),
        F.round(t, round_digits).alias("t_stat"),
        F.round(dof, round_digits).alias("df"),
    )


def ks_statistic(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    *,
    lo: float,
    hi: float,
    bins: int = 1000,
    round_digits: int = 6,
) -> DataFrame:
    """Binned two-sample Kolmogorov–Smirnov statistic — the numeric-drift
    test that PSI's binning hides: ``D = max |F_a − F_b|`` over the bin
    right-edges of fixed-width [lo, hi] bins (exact for the binned
    distributions; resolution (hi−lo)/bins, tighten with ``bins``).
    One row: (n_a, n_b, d_stat, at_bin) — ``at_bin`` the smallest bin
    attaining the max. Compare ``d_stat`` to c(α)·√((n_a+n_b)/(n_a·n_b))
    driver-side.

    Scale shape: one ≤``bins``-row count per side (map-side combined);
    CDFs are cumulative windows over the joined bin table — the
    single-partition frame is |bins| rows by construction. NULL and
    out-of-range values are excluded from both CDFs (same filter both
    sides — drift in the tails outside [lo, hi] is invisible by design,
    like :func:`psi_table`'s clamp).
    """
    spark = a.sparkSession
    spine = spark.range(bins).select(F.col("id").cast("int").alias("bin"))

    def side(df: DataFrame, name: str) -> DataFrame:
        v = F.col(value_col)
        return (
            df.filter(v.isNotNull() & (v >= lo) & (v <= hi))
            .groupBy(bin_index(v, lo, hi, bins).alias("bin"))
            .agg(F.count(F.lit(1)).alias(name))
        )

    joined = (
        spine.join(F.broadcast(side(a, "__na")), "bin", "left")
        .join(F.broadcast(side(b, "__nb")), "bin", "left")
        .select(
            "bin",
            F.coalesce("__na", F.lit(0)).alias("__na"),
            F.coalesce("__nb", F.lit(0)).alias("__nb"),
        )
    )
    w = Window.orderBy(F.asc("bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    staged = joined.select(
        "bin",
        (F.sum("__na").over(w) / F.sum("__na").over(tot)).alias("__fa"),
        (F.sum("__nb").over(w) / F.sum("__nb").over(tot)).alias("__fb"),
        F.sum("__na").over(tot).alias("__ta"),
        F.sum("__nb").over(tot).alias("__tb"),
    )
    d = F.abs(F.col("__fa") - F.col("__fb"))
    return staged.select("bin", "__ta", "__tb", d.alias("__d")).agg(
        F.max("__ta").cast("long").alias("n_a"),
        F.max("__tb").cast("long").alias("n_b"),
        F.round(F.max("__d"), round_digits).alias("d_stat"),
        F.min_by(F.col("bin"), F.struct(-F.col("__d"), F.col("bin"))).alias("at_bin"),
    )


def banded_avg_rank(
    df: DataFrame,
    value_col: str,
    *,
    n_bands: int = 256,
    rank_col: str = "avg_rank",
    return_count: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """Average (fractional) rank of ``value_col`` ascending, 1-based, ties
    sharing the mean of their positions — the rank transform under every
    rank statistic (Spearman, Mann-Whitney). NULL values must be filtered
    by the caller (a NULL has no rank). With ``return_count=True``,
    returns ``(ranked_df, n_rows)`` — the total is already known from the
    bounds probe, so callers that need N (quantile_transform) avoid a
    third full scan.

    Scale shape: a single global ``ORDER BY`` window would rank the table
    on one task, so ranking is BANDED exactly like
    :func:`~.selection.select_by_budget`'s prefix sum: values map
    monotonically into ``n_bands`` range bands (one min/max aggregate),
    per-band counts aggregate to driver-side offsets (``n_bands`` rows),
    and rank()/tie-count windows run PER BAND — the biggest task sorts
    ~N/n_bands rows. Banding is a pure function of the value, so ties can
    never straddle a band and (band, in-band rank) equals the global rank.

    Average ranks are integers or half-integers — exact in binary doubles
    and in ``DECIMAL(…, 1)``, so downstream decimal sums stay engine-exact.
    """
    v = F.col(value_col)
    bounds = df.agg(
        F.min(v).alias("lo"), F.max(v).alias("hi"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    n_rows = int(bounds["n"])
    if not n_rows:
        empty = df.withColumn(rank_col, F.lit(None).cast("double")).limit(0)
        return (empty, 0) if return_count else empty
    lo, hi = float(bounds["lo"]), float(bounds["hi"])
    if hi > lo:
        band = F.least(
            F.greatest(
                F.floor((v - F.lit(lo)) / F.lit(hi - lo) * n_bands).cast("int"),
                F.lit(0),
            ),
            F.lit(n_bands - 1),
        )
    else:
        band = F.lit(0)
    banded = df.withColumn("__band", band)
    counts = {
        r["__band"]: r["c"]
        for r in banded.groupBy("__band").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):  # offset = rows in all LOWER-value bands
        offsets[b] = acc
        acc += counts[b]
    off_df = local_frame(
        df.sparkSession, [(int(b), int(o)) for b, o in offsets.items()], "__band int, __off long"
    )
    w_rank = Window.partitionBy("__band").orderBy(v.asc())
    w_tie = Window.partitionBy("__band", v)
    ranked = (
        banded.join(F.broadcast(off_df), "__band")
        .withColumn(
            rank_col,
            F.col("__off")
            + F.rank().over(w_rank)
            + (F.count(F.lit(1)).over(w_tie) - F.lit(1)) / F.lit(2.0),
        )
        .drop("__band", "__off")
    )
    return (ranked, n_rows) if return_count else ranked


def correlation_matrix(
    df: DataFrame, cols: list[str], *, round_digits: int = 6
) -> DataFrame:
    """Pearson correlation for every column pair — the numeric-redundancy
    screen before feature selection. Long format, one row per unordered
    pair (i < j in ``cols`` order): (col_x, col_y, n, corr); ``corr`` NULL
    when either column is constant. Rows with a NULL in ANY of ``cols``
    are excluded (listwise deletion), so every pair shares one n.

    Engine-stable: Σx, Σx², Σxy come from one decimal-summed aggregate;
    the correlation closed form then runs in IEEE doubles — identical
    inputs, identical operation order, identical results both engines.

    Scale shape: ONE map-side-combinable aggregate over the scan —
    2·k + k·(k−1)/2 + 1 partials, zero row egress. The pair fan-out
    happens on the single aggregate row.
    """
    dec = lambda c: c.cast("decimal(28,6)")
    keep = df
    for c in cols:
        keep = keep.filter(F.col(c).isNotNull())
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(dec(F.col(c))).cast("double").alias(f"__s_{c}"))
        aggs.append(F.sum(dec(F.col(c) * F.col(c))).cast("double").alias(f"__q_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(
                F.sum(dec(F.col(a) * F.col(b))).cast("double").alias(f"__p_{a}_{b}")
            )
    g = keep.agg(*aggs)
    n = F.col("__n")
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sa, qa = F.col(f"__s_{a}"), F.col(f"__q_{a}")
            sb, qb = F.col(f"__s_{b}"), F.col(f"__q_{b}")
            sab = F.col(f"__p_{a}_{b}")
            ma, mb = sa / n, sb / n
            cov = sab - n * ma * mb
            va = qa - n * ma * ma
            vb = qb - n * mb * mb
            corr = F.when((n >= 2) & (va > 0) & (vb > 0), cov / F.sqrt(va * vb))
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    n.cast("long").alias("n"),
                    F.round(corr, round_digits).alias("corr"),
                )
            )
    return g.select(F.explode(F.array(*pairs)).alias("__pair")).select("__pair.*")


def spearman_corr(
    df: DataFrame,
    col_x: str,
    col_y: str,
    *,
    n_bands: int = 256,
    round_digits: int = 6,
) -> DataFrame:
    """Spearman rank correlation — Pearson on the average-rank transforms
    of both columns, the monotone-dependence screen that survives
    outliers and nonlinear scales. One row: (n, spearman). NULL in either
    column excludes the row; constant columns yield NULL.

    Exactness: ranks from :func:`banded_avg_rank` are half-integers, so
    the rank moments are decimal-exact; the closed form runs in identical
    IEEE doubles both engines. The rank-product sum grows ≈ N³/3, so the
    DECIMAL(38,6) accumulators (~1e32 of integer headroom) stay exact to
    ~4e10 rows — far past any population a single Spearman readout
    should see; shard by group above that. (DECIMAL(28,6) — ~1e22 —
    would overflow at ~3e7 rows under ANSI mode, r7 ADVICE.)

    Scale shape: two banded rank passes (each: min/max probe + band-count
    probe + per-band window) and one combinable moment aggregate. No
    global single-task sort.
    """
    keep = df.filter(F.col(col_x).isNotNull() & F.col(col_y).isNotNull()).select(
        F.col(col_x).alias("__x"), F.col(col_y).alias("__y")
    )
    ranked = banded_avg_rank(keep, "__x", n_bands=n_bands, rank_col="__rx")
    ranked = banded_avg_rank(ranked, "__y", n_bands=n_bands, rank_col="__ry")
    dec = lambda c: c.cast("decimal(38,6)")
    rx, ry = F.col("__rx"), F.col("__ry")
    g = ranked.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(dec(rx)).cast("double").alias("__sx"),
        F.sum(dec(rx * rx)).cast("double").alias("__qx"),
        F.sum(dec(ry)).cast("double").alias("__sy"),
        F.sum(dec(ry * ry)).cast("double").alias("__qy"),
        F.sum(dec(rx * ry)).cast("double").alias("__pxy"),
    )
    n = F.col("__n")
    mx, my = F.col("__sx") / n, F.col("__sy") / n
    cov = F.col("__pxy") - n * mx * my
    vx = F.col("__qx") - n * mx * mx
    vy = F.col("__qy") - n * my * my
    corr = F.when((n >= 2) & (vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    return g.select(
        n.cast("long").alias("n"), F.round(corr, round_digits).alias("spearman")
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    *,
    n_bands: int = 256,
    round_digits: int = 6,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between two groups — the
    nonparametric A/B test for when :func:`welch_ttest`'s normality is
    indefensible (heavy-tailed spend, latencies). One row:
    (n_a, n_b, u_a, u_b, z) with average ranks for ties, the normal
    approximation's tie-corrected variance
    ``σ² = n_a·n_b/12 · ((N+1) − Σ(t³−t)/(N·(N−1)))``, and a ±0.5
    continuity correction toward the null. ``z`` is NULL when either
    group is empty or every value ties (σ = 0).

    Exactness: rank sums are half-integer decimal sums; tie counts come
    from a value-grain aggregate; the z closed form runs in identical
    IEEE doubles both engines.

    Scale shape: one banded rank pass over the two groups' union, one
    rank-sum aggregate, one value-grain tie aggregate (map-side
    combined) — no global sort, no row egress.
    """
    v = F.col(value_col)
    keep = df.filter(
        F.col(group_col).isin([group_a, group_b]) & v.isNotNull()
    ).select(F.col(group_col).alias("__g"), v.alias("__v"))
    ranked = banded_avg_rank(keep, "__v", n_bands=n_bands, rank_col="__r")
    dec = lambda c: c.cast("decimal(28,6)")
    # ONE conditional aggregate (not per-group frames joined after): the
    # output stays exactly one row even when a group is empty — the
    # documented NULL-z contract (review finding: the old crossJoin of
    # filtered 1-row frames returned ZERO rows for an absent group)
    is_a = F.col("__g") == group_a
    sums = ranked.agg(
        F.count(F.when(is_a, F.lit(1))).cast("long").alias("na"),
        F.coalesce(
            F.sum(F.when(is_a, dec(F.col("__r")))).cast("double"), F.lit(0.0)
        ).alias("ra"),
        F.count(F.when(~is_a, F.lit(1))).cast("long").alias("nb"),
        F.coalesce(
            F.sum(F.when(~is_a, dec(F.col("__r")))).cast("double"), F.lit(0.0)
        ).alias("rb"),
    )
    # t³ overflows long once one tie group passes ~2.1M rows (found by the
    # 20M-row stress: a 2-value column has t ≈ 10M). Cube in DECIMAL(38,0)
    # — exact integers to t ≈ 2e12, no ANSI overflow; the oracle's HUGEINT
    # cube is the same exact integer, so the double casts agree.
    t_dec = F.col("__t").cast("decimal(38,0)")
    ties = (
        keep.groupBy("__v")
        .agg(F.count(F.lit(1)).alias("__t"))
        .agg(
            F.coalesce(
                F.sum(
                    t_dec * F.col("__t") * F.col("__t") - F.col("__t")
                ).cast("double"),
                F.lit(0.0),
            ).alias("tie_term")
        )
    )
    j = sums.crossJoin(ties)
    na, nb = F.col("na"), F.col("nb")
    u_a = F.col("ra") - na * (na + 1) / 2
    u_b = F.col("rb") - nb * (nb + 1) / 2
    n_tot = na + nb
    var = (
        na * nb / F.lit(12.0)
        * ((n_tot + 1) - F.col("tie_term") / (n_tot * (n_tot - 1)))
    )
    mean_u = na * nb / F.lit(2.0)
    cc = F.when(u_a > mean_u, F.lit(-0.5)).when(u_a < mean_u, F.lit(0.5)).otherwise(
        F.lit(0.0)
    )
    z = F.when((na >= 1) & (nb >= 1) & (var > 0), (u_a - mean_u + cc) / F.sqrt(var))
    return j.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(u_a, round_digits).alias("u_a"),
        F.round(u_b, round_digits).alias("u_b"),
        F.round(z, round_digits).alias("z"),
    )


def daily_acf(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    max_lag: int = 7,
    round_digits: int = 6,
) -> DataFrame:
    """Autocorrelation of the DAILY total of ``value_col`` at calendar
    lags 1..``max_lag`` — the seasonality screen behind
    :func:`daily_anomaly_profile`'s trailing window (a 7-day echo in the
    ACF says "compare to last week, not yesterday"). One row per lag:
    (lag, n_pairs, acf). Lag pairs match on CALENDAR day (t, t+k days);
    days with no rows are absent, not zero — a gap simply produces no
    pair at the lags it interrupts. The denominator is the full-series
    variance (the standard biased estimator), so ``acf`` is NULL only
    when the series is constant or shorter than 2 days.

    Engine-stable: daily totals are decimal sums cast once to double;
    per-lag products are decimal-summed; the final closed form
    ``(Sxy − x̄·(Sx_h + Sy_t) + n_k·x̄²) / Sxx_centered`` runs in
    identical IEEE doubles both engines.

    Scale shape: one day-grain aggregate (map-side combined), then every
    window/join runs on the |days|-sized series — dimension-sized by
    construction, broadcast throughout. The lag fan-out is an explode on
    the series (|days|·max_lag rows) feeding an equi-join on the shifted
    day, so the plan is a hash join, not a nested loop.
    """
    dec = lambda c: c.cast("decimal(28,6)")
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("__day"))
        .agg(F.sum(dec(F.col(value_col))).cast("double").alias("__x"))
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(dec(F.col("__x"))).cast("double").alias("__sx"),
        F.sum(dec(F.col("__x") * F.col("__x"))).cast("double").alias("__qx"),
    )
    lag_arr = F.array(*[F.lit(k) for k in range(1, max_lag + 1)])
    head = daily.select(
        F.explode(lag_arr).alias("lag"),
        F.col("__day").alias("__d1"),
        F.col("__x").alias("__x1"),
    )
    tail = daily.select(F.col("__day").alias("__d2"), F.col("__x").alias("__x2"))
    pairs = (
        head.join(F.broadcast(tail), F.expr("date_add(__d1, lag)") == F.col("__d2"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(dec(F.col("__x1") * F.col("__x2"))).cast("double").alias("__sxy"),
            F.sum(dec(F.col("__x1"))).cast("double").alias("__sh"),
            F.sum(dec(F.col("__x2"))).cast("double").alias("__st"),
        )
    )
    # left-join the full 1..max_lag spine so pair-less lags (short or
    # gapped series) still appear as (lag, 0, NULL) — the documented
    # one-row-per-lag contract (review finding: the inner groupBy dropped
    # them)
    spark = df.sparkSession
    spine = spark.range(1, max_lag + 1).select(F.col("id").cast("int").alias("lag"))
    full = spine.join(F.broadcast(pairs), "lag", "left")
    n = F.col("__n")
    mean = F.col("__sx") / n
    sxx = F.col("__qx") - n * mean * mean
    num = F.col("__sxy") - mean * (F.col("__sh") + F.col("__st")) + F.col("n_pairs") * mean * mean
    acf = F.when((n >= 2) & (sxx > 0) & (F.col("n_pairs") > 0), num / sxx)
    out = full.crossJoin(F.broadcast(stats)).select(
        "lag",
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
        F.round(acf, round_digits).alias("acf"),
    )
    return out


def chi_square_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Pearson chi-square test of independence between two categoricals —
    the dependence screen for pairs of discrete features (the categorical
    twin of :func:`mutual_information`, in test-statistic units). One
    row: (n, dof, chi2) with ``chi2 = Σ (o − e)²/e`` over observed cells,
    ``e = row_tot · col_tot / n``, ``dof = (|a|−1)(|b|−1)``. Rows with a
    NULL in either column are excluded. Compare to the chi-square
    distribution driver-side.

    Only OBSERVED cells enter the sum — absent combinations contribute
    ``(0 − e)²/e = e``, so the missing mass is added in closed form:
    ``Σ_all = Σ_observed((o−e)²/e) + (n − Σ_observed e)`` (the expected
    totals sum to n over the full grid). This keeps the plan free of a
    grid-completing join.

    Exactness: cell/marginal counts are exact longs; per-cell terms are
    9-dp-rounded doubles summed in DECIMAL(28,9); the closed form runs in
    identical IEEE doubles both engines.

    Scale shape: one (a, b) contingency aggregate (map-side combined,
    ≤ |a|·|b| rows), marginals re-aggregated from it, everything after
    dimension-sized.
    """
    a, b = F.col(col_a), F.col(col_b)
    cells = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("__a"), b.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    row_t = cells.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    col_t = cells.groupBy("__b").agg(F.sum("__o").alias("__rb"))
    tot = cells.agg(
        F.sum("__o").alias("__n"),
        F.countDistinct("__a").alias("__ka"),
        F.countDistinct("__b").alias("__kb"),
    )
    j = (
        cells.join(F.broadcast(row_t), "__a")
        .join(F.broadcast(col_t), "__b")
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("__ra") * F.col("__rb") / F.col("__n")
    term = (F.col("__o") - e) * (F.col("__o") - e) / e
    agg = j.agg(
        F.max("__n").alias("__n"),
        F.max("__ka").alias("__ka"),
        F.max("__kb").alias("__kb"),
        F.sum(F.round(term, 9).cast("decimal(28,9)")).cast("double").alias("__obs"),
        F.sum(F.round(e, 9).cast("decimal(28,9)")).cast("double").alias("__esum"),
    )
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        ((F.col("__ka") - 1) * (F.col("__kb") - 1)).cast("long").alias("dof"),
        F.round(F.col("__obs") + (F.col("__n") - F.col("__esum")), round_digits).alias(
            "chi2"
        ),
    )


def diff_in_diff(
    df: DataFrame,
    treat: Column,
    post: Column,
    value_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Difference-in-differences estimate — the quasi-experimental readout
    when assignment wasn't randomized: ``DiD = (ȳ_treat,post −
    ȳ_treat,pre) − (ȳ_control,post − ȳ_control,pre)``. ``treat`` and
    ``post`` are boolean Columns; rows where either is NULL (or the value
    is NULL) are excluded. One row: the four cell (n, mean) pairs plus
    ``did``; NULL when any cell is empty.

    Engine-stable: one decimal-summed aggregate per cell (a single
    map-side-combinable groupBy over the scan); the four means and the
    double subtraction chain are identical IEEE both engines.

    Scale shape: ONE 4-row aggregate — zero row egress, no joins.
    """
    v = F.col(value_col)
    base = df.filter(treat.isNotNull() & post.isNotNull() & v.isNotNull()).select(
        treat.cast("int").alias("__t"), post.cast("int").alias("__p"),
        v.alias("__v"),
    )
    cells = base.groupBy("__t", "__p").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__v").cast("decimal(28,6)")).cast("double").alias("__s"),
    )
    def cell(t: int, p: int, name: str):
        return [
            F.max(F.when((F.col("__t") == t) & (F.col("__p") == p), F.col("__n")))
            .cast("long").alias(f"n_{name}"),
            F.max(F.when((F.col("__t") == t) & (F.col("__p") == p),
                         F.col("__s") / F.col("__n"))).alias(f"__m_{name}"),
        ]
    agg = cells.agg(
        *cell(1, 0, "treat_pre"), *cell(1, 1, "treat_post"),
        *cell(0, 0, "ctrl_pre"), *cell(0, 1, "ctrl_post"),
    )
    m = lambda name: F.col(f"__m_{name}")
    did = (m("treat_post") - m("treat_pre")) - (m("ctrl_post") - m("ctrl_pre"))
    return agg.select(
        "n_treat_pre", "n_treat_post", "n_ctrl_pre", "n_ctrl_post",
        F.round(m("treat_pre"), round_digits).alias("mean_treat_pre"),
        F.round(m("treat_post"), round_digits).alias("mean_treat_post"),
        F.round(m("ctrl_pre"), round_digits).alias("mean_ctrl_pre"),
        F.round(m("ctrl_post"), round_digits).alias("mean_ctrl_post"),
        F.round(did, round_digits).alias("did"),
    )


def seasonal_decompose_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Classical additive decomposition of the DAILY total —
    ``value = trend + seasonal + residual`` with a centered 7-day moving
    average trend and mean-centered ISO-weekday seasonality: the
    explainable split behind :func:`daily_anomaly_profile` ("is Monday
    low, or is the business down?"). One row per day with a complete
    7-day neighborhood: (day, value, trend, seasonal, residual).

    Semantics pinned for engine parity: the trend at day t averages the
    7 CALENDAR days t−3..t+3 and is NULL unless all 7 exist (absent days
    are missing data, not zeros — edges and gaps drop rather than bias);
    weekday indexes are ISO (Monday 1); the seasonal component is the
    weekday mean of (value − trend) minus the grand mean of those
    weekday means (so seasonals sum to ~0 and trend keeps the level).

    Exactness: daily totals are decimal sums; the trend/seasonal means
    are decimal-summed over 6-dp-rounded terms; every division runs on
    identical doubles both engines.

    Scale shape: one day-grain aggregate, then everything — the ±3-day
    self-join, weekday means, final assembly — is |days|-sized and
    broadcast-friendly.
    """
    dec = lambda c: c.cast("decimal(28,6)")
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.sum(dec(F.col(value_col))).cast("double").alias("value"))
    )
    off = F.array(*[F.lit(k) for k in range(-3, 4)])
    neigh = daily.select(
        F.explode(off).alias("__k"), F.col("day").alias("__d"), F.col("value").alias("__v")
    ).select(F.expr("date_add(__d, __k)").alias("day"), "__v")
    trend = neigh.groupBy("day").agg(
        F.count(F.lit(1)).alias("__n7"),
        (F.sum(dec(F.col("__v"))).cast("double") / F.lit(7.0)).alias("__t"),
    )
    based = daily.join(F.broadcast(trend), "day", "left").select(
        "day",
        "value",
        F.when(F.col("__n7") == 7, F.col("__t")).alias("trend"),
    )
    detr = based.select(
        "day", "value", "trend",
        F.expr("weekday(day) + 1").alias("__dow"),  # ISO: Monday = 1
        (F.col("value") - F.col("trend")).alias("__detr"),
    )
    dow_means = detr.filter(F.col("__detr").isNotNull()).groupBy("__dow").agg(
        (
            F.sum(F.round(F.col("__detr"), 6).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__dm")
    )
    grand = dow_means.agg(
        (
            F.sum(F.round(F.col("__dm"), 6).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__gm")
    )
    seasonal = dow_means.crossJoin(F.broadcast(grand)).select(
        "__dow", (F.col("__dm") - F.col("__gm")).alias("__seas")
    )
    out = detr.join(F.broadcast(seasonal), "__dow", "left").select(
        "day",
        F.round(F.col("value"), round_digits).alias("value"),
        F.round(F.col("trend"), round_digits).alias("trend"),
        F.round(F.col("__seas"), round_digits).alias("seasonal"),
        F.round(
            F.col("value") - F.col("trend") - F.col("__seas"), round_digits
        ).alias("residual"),
    )
    return out


def cuped_lift(
    df: DataFrame,
    treat: Column,
    pre_col: str,
    post_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """CUPED variance-reduced experiment lift (Deng et al. 2013 —
    "Improving the sensitivity of online controlled experiments"): adjust
    each unit's metric by its PRE-EXPERIMENT covariate,
    ``y* = y − θ·(x − x̄)`` with ``θ = cov(x, y)/var(x)`` pooled over all
    units, then read the treatment-control difference off the adjusted
    means — same expectation as the raw lift, variance shrunk by the
    squared pre/post correlation. One row: (n_treat, n_ctrl, theta,
    raw_lift, cuped_lift, var_reduction) where ``var_reduction = ρ²``;
    ``cuped_lift = raw_lift − θ·(x̄_t − x̄_c)`` (the algebraic identity —
    no per-unit adjusted column is materialized). Units with NULL in
    either period or the arm are excluded; theta/lift NULL when var(x)
    is 0 or an arm is empty.

    Engine-stable: ONE aggregate of decimal moments (global Σx/Σy/
    9-dp-rounded Σx²/Σy²/Σxy + arm-conditional n/Σx/Σy); every closed
    form runs on identical IEEE doubles.

    Scale shape: one map-side-combinable aggregate over the per-unit
    table — zero joins, zero row egress.
    """
    x, y = F.col(pre_col), F.col(post_col)
    base = df.filter(treat.isNotNull() & x.isNotNull() & y.isNotNull()).select(
        treat.cast("int").alias("__t"), x.alias("__x"), y.alias("__y")
    )
    dec6 = lambda c: c.cast("decimal(28,6)")
    dec9 = lambda c: F.round(c, 9).cast("decimal(28,9)")
    xx, yy = F.col("__x"), F.col("__y")
    g = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(dec6(xx)).cast("double").alias("__sx"),
        F.sum(dec6(yy)).cast("double").alias("__sy"),
        F.sum(dec9(xx * xx)).cast("double").alias("__sxx"),
        F.sum(dec9(yy * yy)).cast("double").alias("__syy"),
        F.sum(dec9(xx * yy)).cast("double").alias("__sxy"),
        F.sum("__t").cast("long").alias("__nt"),
        F.sum(F.when(F.col("__t") == 1, dec6(xx))).cast("double").alias("__stx"),
        F.sum(F.when(F.col("__t") == 1, dec6(yy))).cast("double").alias("__sty"),
        F.sum(F.lit(1) - F.col("__t")).cast("long").alias("__nc"),
        F.sum(F.when(F.col("__t") == 0, dec6(xx))).cast("double").alias("__scx"),
        F.sum(F.when(F.col("__t") == 0, dec6(yy))).cast("double").alias("__scy"),
    )
    n = F.col("__n")
    mx, my = F.col("__sx") / n, F.col("__sy") / n
    cov = F.col("__sxy") - n * mx * my
    vx = F.col("__sxx") - n * mx * mx
    vy = F.col("__syy") - n * my * my
    theta = F.when(vx > 0, cov / vx)
    ok = (F.col("__nt") > 0) & (F.col("__nc") > 0)
    raw = F.when(
        ok, F.col("__sty") / F.col("__nt") - F.col("__scy") / F.col("__nc")
    )
    dx = F.col("__stx") / F.col("__nt") - F.col("__scx") / F.col("__nc")
    cuped = F.when(ok & (vx > 0), raw - theta * dx)
    rho2 = F.when((vx > 0) & (vy > 0), cov * cov / (vx * vy))
    return g.select(
        F.col("__nt").alias("n_treat"),
        F.col("__nc").alias("n_ctrl"),
        F.round(theta, round_digits).alias("theta"),
        F.round(raw, round_digits).alias("raw_lift"),
        F.round(cuped, round_digits).alias("cuped_lift"),
        F.round(rho2, round_digits).alias("var_reduction"),
    )


def robust_trend_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Nonparametric trend readout for the DAILY series: the Mann-Kendall
    test (S = Σ sign(x_j − x_i) over day pairs i<j, tie-corrected normal
    z with continuity correction) plus the Theil-Sen slope (median of
    pairwise slopes, value-units per day) — the robust twin of
    :func:`~.fe.trend_slope` that one outlier day can't bend. One row:
    (n_days, mk_s, mk_z, sen_slope_per_day); z NULL below 2 days or when
    every value ties.

    Exactness: S and tie counts are exact integers; the variance closed
    form and the interpolated slope median run on identical doubles both
    engines (slopes are ratios of identical doubles over integer day
    gaps).

    Scale shape: one day-grain decimal aggregate; the pairwise self-join
    is |days|² — dimension-sized by construction (a decade is ~6.7M
    pairs), broadcast-friendly.
    """
    dec = lambda c: c.cast("decimal(28,6)")
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("__day"))
        .agg(F.sum(dec(F.col(value_col))).cast("double").alias("__x"))
    )
    a = daily.select(F.col("__day").alias("__d1"), F.col("__x").alias("__x1"))
    b = daily.select(F.col("__day").alias("__d2"), F.col("__x").alias("__x2"))
    pairs = a.join(F.broadcast(b), F.col("__d1") < F.col("__d2")).select(
        F.signum(F.col("__x2") - F.col("__x1")).cast("long").alias("__sgn"),
        (
            (F.col("__x2") - F.col("__x1"))
            / F.datediff(F.col("__d2"), F.col("__d1"))
        ).alias("__slope"),
    )
    ps = pairs.agg(
        F.sum("__sgn").cast("long").alias("mk_s"),
        F.percentile(F.col("__slope"), F.lit(0.5)).alias("__sen"),
    )
    ties = (
        daily.groupBy("__x")
        .agg(F.count(F.lit(1)).alias("__t"))
        .agg(
            F.sum(
                F.col("__t").cast("decimal(38,0)")
                * (F.col("__t") - 1)
                * (2 * F.col("__t") + 5)
            ).cast("double").alias("__tie_term"),
            F.sum("__t").cast("long").alias("__n"),
        )
    )
    j = ps.crossJoin(F.broadcast(ties))
    n = F.col("__n")
    var = (
        n.cast("double") * (n - 1) * (2 * n + 5) - F.col("__tie_term")
    ) / F.lit(18.0)
    s = F.col("mk_s")
    cc = F.when(s > 0, s - 1).when(s < 0, s + 1).otherwise(F.lit(0))
    z = F.when((n >= 2) & (var > 0), cc / F.sqrt(var))
    return j.select(
        n.alias("n_days"),
        "mk_s",
        F.round(z, round_digits).alias("mk_z"),
        F.round(F.col("__sen"), round_digits).alias("sen_slope_per_day"),
    )


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    *,
    trim_frac: float = 0.05,
    n_bands: int = 256,
    round_digits: int = 6,
) -> DataFrame:
    """Exact symmetric trimmed mean — drop the ``⌊n·trim_frac⌋`` smallest
    and largest observations (by rank, ties broken low-rank-first so the
    cut is well-defined) and decimal-average the rest: the robust center
    between the mean (trim 0) and the median (trim 0.5) that a fat tail
    can't drag. One row: (n, n_trimmed_each_side, trimmed_mean). NULLs
    are excluded; all-trimmed inputs yield NULL.

    Exactness: equal values are interchangeable, so the cut only needs
    KEEP-COUNTS per value group — each group's rows occupy the contiguous
    row positions [r−(t−1)/2, r+(t−1)/2] around its average rank r, and
    the overlap of that span with [k+1, n−k] (exact integer arithmetic in
    doubles — ranks are half-integers) says how many copies survive. The
    oracle replays the identical overlap; the survivor mean is a decimal
    sum.

    Scale shape: one banded rank pass (no global single-task sort) + one
    decimal mean over the survivors.
    """
    v = F.col(value_col)
    nn = df.filter(v.isNotNull()).select(v.alias("__v"))
    ranked, n = banded_avg_rank(
        nn, "__v", n_bands=n_bands, rank_col="__r", return_count=True
    )
    if n == 0:
        return local_frame(
            nn.sparkSession, [], "n long, n_trimmed_each_side long, trimmed_mean double"
        )
    k = int(n * trim_frac)
    # avg rank r with tie count t spans row positions [r−(t−1)/2, r+(t−1)/2]:
    # a value group is FULLY below the low cut iff r + (t−1)/2 <= k, fully
    # above the high cut iff r − (t−1)/2 > n − k; a group STRADDLING a cut
    # keeps (boundary-count) copies — equal values are interchangeable, so
    # keep-counts per group are enough (no per-row tiebreak needed)
    grp = ranked.groupBy("__v", "__r").agg(F.count(F.lit(1)).alias("__t"))
    lo_pos = F.col("__r") - (F.col("__t") - 1) / 2  # first row position
    hi_pos = F.col("__r") + (F.col("__t") - 1) / 2  # last row position
    keep = F.greatest(
        F.least(hi_pos, F.lit(float(n - k))) - F.greatest(lo_pos, F.lit(float(k + 1)))
        + 1,
        F.lit(0.0),
    ).cast("long")
    dec = lambda c: c.cast("decimal(28,6)")
    surv = grp.withColumn("__keep", keep).filter(F.col("__keep") > 0)
    out = surv.agg(
        F.sum(dec(F.col("__v")) * F.col("__keep")).cast("double").alias("__s"),
        F.sum("__keep").cast("long").alias("__m"),
    )
    return out.select(
        F.lit(n).cast("long").alias("n"),
        F.lit(k).cast("long").alias("n_trimmed_each_side"),
        F.round(
            F.when(F.col("__m") > 0, F.col("__s") / F.col("__m")), round_digits
        ).alias("trimmed_mean"),
    )


def value_gini(
    df: DataFrame,
    value_col: str,
    *,
    n_bands: int = 256,
    round_digits: int = 6,
) -> DataFrame:
    """Gini coefficient of a NONNEGATIVE metric's distribution across rows
    (revenue concentration, whale analysis) — the value-weighted
    counterpart of :func:`key_gini_skew`'s count inequality:
    ``G = 2·Σ rᵢxᵢ / (n·Σx) − (n+1)/n`` over ascending average ranks
    (tied values share a rank; the identity still holds exactly because
    tied x's are equal). One row: (n, total, gini); gini is NULL when the
    total is 0, n < 2, or ANY value is negative (the index is undefined
    there — a NULL beats a nonsense number).

    Exactness: ranks are half-integers; rank-value products are
    9-dp-rounded decimal sums; the closed form runs on identical doubles
    both engines.

    Scale shape: one banded rank pass + one combinable aggregate.
    """
    v = F.col(value_col)
    nn = df.filter(v.isNotNull()).select(v.alias("__v"))
    ranked = banded_avg_rank(nn, "__v", n_bands=n_bands, rank_col="__r")
    neg = F.sum((F.col("__v") < 0).cast("int")).alias("__neg")
    g = ranked.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.round(F.col("__r") * F.col("__v"), 9).cast("decimal(28,9)"))
        .cast("double")
        .alias("__srx"),
        F.sum(F.col("__v").cast("decimal(28,6)")).cast("double").alias("__sx"),
        neg,
    )
    n = F.col("__n")
    gini = F.when(
        (n >= 2) & (F.col("__sx") > 0) & (F.col("__neg") == 0),
        F.lit(2.0) * F.col("__srx") / (n * F.col("__sx")) - (n + 1) / n,
    )
    return g.select(
        n.cast("long").alias("n"),
        F.round(F.col("__sx"), round_digits).alias("total"),
        F.round(gini, round_digits).alias("gini"),
    )


def cusum_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    baseline_days: int = 7,
    slack: float = 0.0,
    threshold_sigmas: float = 5.0,
    round_digits: int = 6,
) -> DataFrame:
    """One-sided CUSUM change detection on the daily total — the
    sequential level-shift detector :func:`daily_anomaly_profile`'s
    single-day z-scores can't replace (a small persistent shift never
    trips a per-day z but accumulates in the CUSUM). Per day:
    (day, value, cusum_pos, cusum_neg, is_alarm).

    The recursive statistic ``s_t = max(0, s_{t−1} + (x_t − μ₀ − slack))``
    folds EXACTLY into windows via the running-min identity:
    ``s_t = cum_t − min_{u≤t}(cum_u)`` with ``cum`` the inclusive
    cumulative sum of deviations (and ``cum_0 = 0`` injected by clamping
    the running min at 0) — no recursion, no UDF. μ₀ and σ₀ come from the
    FIRST ``baseline_days`` days (decimal moments); the alarm fires when
    either side exceeds ``threshold_sigmas·σ₀``. Baseline days themselves
    are never alarmed (the detector needs a reference before it can
    accuse).

    Exactness: daily totals and deviation cumsums are decimal (exact,
    order-free; the window's running order is the day order); μ₀/σ₀ and
    the final thresholds are identical IEEE doubles.

    Scale shape: one day-grain aggregate; all windows run on the |days|
    table (the documented dimension-sized exception).
    """
    dec = lambda c: c.cast("decimal(28,6)")
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.sum(dec(F.col(value_col))).cast("double").alias("value"))
    )
    w_idx = Window.orderBy(F.asc("day"))
    idx = daily.withColumn("__i", F.row_number().over(w_idx))
    base = idx.filter(F.col("__i") <= baseline_days).agg(
        F.count(F.lit(1)).alias("__bn"),
        F.sum(dec(F.col("value"))).cast("double").alias("__bs"),
        F.sum(F.round(F.col("value") * F.col("value"), 6).cast("decimal(38,6)"))
        .cast("double")
        .alias("__bq"),
    )
    j = idx.crossJoin(F.broadcast(base))
    bn = F.col("__bn")
    mu = F.col("__bs") / bn
    sigma = F.sqrt(
        F.greatest(F.col("__bq") / bn - mu * mu, F.lit(0.0))
    )
    dev_p = F.round(F.col("value") - mu - F.lit(slack), 6)
    dev_n = F.round(mu - F.col("value") - F.lit(slack), 6)
    w_cum = Window.orderBy(F.asc("day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum_p = F.sum(dev_p.cast("decimal(28,6)")).over(w_cum).cast("double")
    cum_n = F.sum(dev_n.cast("decimal(28,6)")).over(w_cum).cast("double")
    staged = j.select(
        "day", "value", F.col("__i").alias("__i"),
        cum_p.alias("__cp"), cum_n.alias("__cn"),
        sigma.alias("__sig"), bn.alias("__bn"),
    )
    run_min = lambda c: F.least(
        F.min(c).over(w_cum), F.lit(0.0)
    )  # cum_0 = 0 enters the min
    s_p = F.col("__cp") - run_min(F.col("__cp"))
    s_n = F.col("__cn") - run_min(F.col("__cn"))
    thr = F.lit(threshold_sigmas) * F.col("__sig")
    return staged.select(
        "day",
        F.round(F.col("value"), round_digits).alias("value"),
        F.round(s_p, round_digits).alias("cusum_pos"),
        F.round(s_n, round_digits).alias("cusum_neg"),
        (
            (F.col("__i") > F.col("__bn"))
            & (F.col("__sig") > 0)
            & ((s_p > thr) | (s_n > thr))
        ).alias("is_alarm"),
    )


def holt_forecast_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    alpha: float = 0.5,
    beta: float = 0.3,
    horizon: int = 7,
    round_digits: int = 6,
) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) on the
    daily value total, with an ``horizon``-day linear forecast — the
    capacity-planning companion to :func:`cusum_daily` (CUSUM says "the
    level SHIFTED"; Holt says "and here is where it is HEADING").

    Recursion: ``l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1})``,
    ``b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}``, seeded ``l_0 = x_0``,
    ``b_0 = 0``. Per in-sample day: (day, value, level, trend, fitted,
    is_forecast=false) with ``fitted`` the one-step-ahead prediction
    ``l_{t−1}+b_{t−1}`` (null on day 0 — no prior state). Then
    ``horizon`` rows (last_day+h, null, null, null, l_n + h·b_n, true).

    Exactness: the coupled recursion has no windowed closed form (unlike
    CUSUM's running-min identity), so it folds via ``aggregate`` over the
    day-sorted array — each step's level/trend round to 9 dp, making the
    state an exact function of the day sequence that a recursive CTE
    reproduces double-for-double; α/β literals are injected from the same
    Python floats on both engines; the 6 dp outputs round in DECIMAL
    space (the lattice states hit double-round half-boundaries).

    Scale shape: the daily aggregate is distributed and map-side
    combinable; only the |days| series (the documented dimension-sized
    exception — bounded by calendar, not data volume) funnels into the
    single-task fold, and the whole output leaves as ONE projection +
    explode over that row.
    """
    horizon = int(horizon)
    if horizon < 0:
        # F.sequence(1, h) auto-steps -1 below its start, so a negative
        # (or zero, handled below) horizon would silently emit phantom
        # forecast rows instead of none
        raise ValueError("horizon must be a non-negative integer")
    a, b_ = float(alpha), float(beta)
    ca, cb = 1.0 - a, 1.0 - b_
    dec = lambda c: c.cast("decimal(28,6)")
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(F.sum(dec(F.col(value_col))).cast("double").alias("value"))
    )
    series = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "value"))).alias("__s")
    ).filter(F.size("__s") > 0)

    init = F.struct(
        F.expr("CAST(array() AS array<double>)").alias("ls"),
        F.expr("CAST(array() AS array<double>)").alias("bs"),
    )

    def step(acc: Column, x: Column) -> Column:
        first = F.size(acc["ls"]) == 0
        l_prev, b_prev = F.element_at(acc["ls"], -1), F.element_at(acc["bs"], -1)
        l_new = F.when(first, x["value"]).otherwise(
            F.round(a * x["value"] + ca * (l_prev + b_prev), 9)
        )
        b_new = F.when(first, F.lit(0.0)).otherwise(
            F.round(b_ * (l_new - l_prev) + cb * b_prev, 9)
        )
        return F.struct(
            F.concat(acc["ls"], F.array(l_new)).alias("ls"),
            F.concat(acc["bs"], F.array(b_new)).alias("bs"),
        )

    folded = series.select(
        F.col("__s"), F.aggregate(F.col("__s"), init, step).alias("__f")
    )
    s, ls, bs = F.col("__s"), F.col("__f")["ls"], F.col("__f")["bs"]
    insample = F.transform(
        s,
        lambda x, i: F.struct(
            x["day"].alias("day"),
            F.round(x["value"], round_digits).alias("value"),
            # outputs round in DECIMAL space: the 9 dp states are
            # 1e-9-lattice doubles, where a double-side round splits on
            # exact half-boundaries between the engines (the PageRank
            # lesson); decimal ROUND is HALF_UP on both.
            F.round(F.element_at(ls, i + 1).cast("decimal(28,9)"), round_digits)
            .cast("double")
            .alias("level"),
            F.round(F.element_at(bs, i + 1).cast("decimal(28,9)"), round_digits)
            .cast("double")
            .alias("trend"),
            F.when(
                i > 0,
                F.round(
                    (F.element_at(ls, i) + F.element_at(bs, i)).cast("decimal(28,9)"),
                    round_digits,
                ).cast("double"),
            ).alias("fitted"),
            F.lit(False).alias("is_forecast"),
        ),
    )
    last = F.element_at(s, -1)
    l_n, b_n = F.element_at(ls, -1), F.element_at(bs, -1)
    fcst = F.transform(
        F.sequence(F.lit(1), F.lit(int(horizon))),
        lambda h: F.struct(
            F.date_add(last["day"], h).alias("day"),
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("double").alias("level"),
            F.lit(None).cast("double").alias("trend"),
            F.round(
                (l_n + h.cast("double") * b_n).cast("decimal(28,9)"), round_digits
            )
            .cast("double")
            .alias("fitted"),
            F.lit(True).alias("is_forecast"),
        ),
    )
    rows = F.concat(insample, fcst) if horizon > 0 else insample
    return folded.select(F.explode(rows).alias("r")).select("r.*")


def best_split_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    min_segment_days: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Single best CHANGEPOINT in the daily value series — binary
    segmentation's first cut (the greedy step PELT/BinSeg iterate): the
    split day minimizing total within-segment squared error, i.e.
    maximizing the variance-reduction gain over the unsplit series.
    Complements :func:`cusum_daily` (CUSUM detects online with a known
    baseline; this finds the single best retrospective break with none).

    One row: (split_day, n_days, mean_left, mean_right, sse_total,
    sse_split, gain) where the split is the LAST day of the left
    segment, both segments have ≥ ``min_segment_days`` days, and ties
    on gain break to the earliest day. Fewer than 2·min_segment_days
    days → zero rows.

    Exactness: the detector consumes INTEGER-QUANTIZED daily totals
    (HALF_UP to whole units — at analytic magnitudes sub-unit noise is
    irrelevant; pre-scale the value if unit precision matters). That
    makes every moment a scale-0 decimal: the SSE identity runs as
    ``i·SS − S²`` in EXACT integer arithmetic, and scale-0 decimals
    convert to double identically on both engines (one correctly-
    rounded int→double; nonzero-scale decimals do NOT — DuckDB's
    int128→double-then-÷10ˢ double-rounds, observed 1 ulp off Spark's
    BigDecimal at 24 significant digits, which the ~ulp-sized SSE
    cancellation then amplified to 1e-4). Bounds, documented not
    checked: |daily total| < 10¹⁵ and n_days·max(total²) < 10³⁸.

    Scale shape: one distributed day-grain aggregate; prefix sums and
    the argmax run as windows on the |days| table (the documented
    dimension-sized exception).
    """
    dec = lambda c: c.cast("decimal(28,6)")
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.to_date(F.col(ts_col)).alias("day"))
        .agg(
            F.round(F.sum(dec(F.col(value_col))), 0)
            .cast("decimal(15,0)")
            .alias("__v")
        )
    )
    w = Window.orderBy(F.asc("day")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy(F.asc("day")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sq = F.col("__v") * F.col("__v")  # (15,0)x(15,0) -> (31,0), exact
    pre = daily.select(
        F.col("day"),
        F.row_number().over(Window.orderBy(F.asc("day"))).alias("__i"),
        F.sum(F.col("__v")).over(w).cast("decimal(18,0)").alias("__s"),
        F.sum(sq).over(w).cast("decimal(31,0)").alias("__ss"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
        F.sum(F.col("__v")).over(w_all).cast("decimal(18,0)").alias("__st"),
        F.sum(sq).over(w_all).cast("decimal(31,0)").alias("__sst"),
    )
    i, n = F.col("__i"), F.col("__n")
    i6 = i.cast("decimal(6,0)")
    n6 = n.cast("decimal(6,0)")
    m6 = (n - i).cast("decimal(6,0)")
    s, ss = F.col("__s"), F.col("__ss")
    st, sst = F.col("__st"), F.col("__sst")
    sr = (st - s).cast("decimal(18,0)")
    ssr = (sst - ss).cast("decimal(31,0)")
    # exact integer numerators: k·SS − S² as (38,0) − (37,0)
    num_l = (i6 * ss - s * s).cast("double")
    num_r = (m6 * ssr - sr * sr).cast("double")
    num_t = (n6 * sst - st * st).cast("double")
    m_l, m_r, m_n = i.cast("double"), (n - i).cast("double"), n.cast("double")
    sse_l = num_l / m_l
    sse_r = num_r / m_r
    sse_t = num_t / m_n
    cand = pre.filter(
        (i >= F.lit(int(min_segment_days))) & (n - i >= F.lit(int(min_segment_days)))
    ).select(
        F.col("day").alias("split_day"),
        n.cast("long").alias("n_days"),
        F.round(s.cast("double") / m_l, round_digits).alias("mean_left"),
        F.round(sr.cast("double") / m_r, round_digits).alias("mean_right"),
        F.round(sse_t, round_digits).alias("sse_total"),
        F.round(sse_l + sse_r, round_digits).alias("sse_split"),
        (sse_t - (sse_l + sse_r)).alias("__gain"),
    )
    return (
        cand.orderBy(F.desc("__gain"), F.asc("split_day"))
        .limit(1)
        .select(
            "split_day",
            "n_days",
            "mean_left",
            "mean_right",
            "sse_total",
            "sse_split",
            F.round(F.col("__gain"), round_digits).alias("gain"),
        )
    )


def forecast_backtest_daily(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    alpha: float = 0.5,
    beta: float = 0.3,
    season_lag: int = 7,
    round_digits: int = 6,
) -> DataFrame:
    """In-sample one-step backtest of :func:`holt_forecast_daily` against
    the SEASONAL-NAIVE baseline (forecast_d = value at CALENDAR day
    d − ``season_lag``) — the eval that decides whether the smoother
    earns its keep: a MASE ≥ 1 says "ship the naive lag instead". One
    row: (n_days, mae_holt, mae_naive, mase, mape_holt), scored over the
    days where BOTH forecasts exist; zero rows when no day has a
    same-weekday predecessor. The naive lag is a calendar self-join on
    ``date_sub(day, season_lag)``, NOT a row-position ``F.lag`` — on a
    gapped daily series a positional lag silently slides off the weekday
    and MASE stops comparing against the same-weekday naive; days whose
    calendar predecessor is missing are excluded from the score.

    Exactness: errors difference the 6 dp-rounded published Holt fitted
    values against 6 dp daily totals — a 1e-6 lattice, summed as
    DECIMAL(28,9) after a 9 dp term round (no-op on the lattice, pins
    the per-term MAPE divisions); the closing means/ratios are identical
    IEEE doubles.

    Scale shape: the day-grain Holt pass (see there) + one |days|-sized
    self-join on the shifted day + one scalar aggregate.
    """
    ins = holt_forecast_daily(
        df, ts_col, value_col, alpha=alpha, beta=beta, horizon=1,
        round_digits=round_digits,
    ).filter(~F.col("is_forecast"))
    naive = ins.select(
        F.date_add(F.col("day"), int(season_lag)).alias("day"),
        F.col("value").alias("__naive"),
    )
    both = (
        ins.select("day", "value", "fitted")
        .join(naive, "day")
        .filter(F.col("fitted").isNotNull() & F.col("__naive").isNotNull())
    )
    dec9 = lambda c: F.round(c, 9).cast("decimal(28,9)")
    err_h = F.abs(F.col("value") - F.col("fitted"))
    err_n = F.abs(F.col("value") - F.col("__naive"))
    ape = F.when(F.col("value") != 0, err_h / F.abs(F.col("value")))
    agg = both.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(dec9(err_h)).cast("double").alias("__se_h"),
        F.sum(dec9(err_n)).cast("double").alias("__se_n"),
        F.sum(dec9(ape)).cast("double").alias("__sape"),
        F.count(ape).cast("long").alias("__n_ape"),
    )
    n = F.col("n_days").cast("double")
    mae_h = F.col("__se_h") / n
    mae_n = F.col("__se_n") / n
    return agg.filter(F.col("n_days") > 0).select(
        "n_days",
        F.round(mae_h, round_digits).alias("mae_holt"),
        F.round(mae_n, round_digits).alias("mae_naive"),
        F.round(
            F.when(F.col("__se_n") > 0, mae_h / mae_n), round_digits
        ).alias("mase"),
        F.round(
            F.when(F.col("__n_ape") > 0, F.col("__sape") / F.col("__n_ape")),
            round_digits,
        ).alias("mape_holt"),
    )


def stl_anomaly_days(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    threshold: float = 3.5,
    round_digits: int = 6,
) -> DataFrame:
    """Seasonally-adjusted day anomalies — :func:`seasonal_decompose_daily`
    closed with the Iglewicz–Hoaglin modified-z test on the RESIDUAL
    (the raw-value z of :func:`daily_anomaly_profile` flags every
    weekend on a weekly-seasonal metric; testing the residual flags
    only what the trend+weekday model CANNOT explain).

    Per decomposed day (edge days without a full 7-day trend
    neighborhood carry no residual and are excluded): (day, value,
    residual, modified_z, is_anomaly), with
    ``modified_z = 0.6745·(r − median(r)) / MAD(r)`` and the flag at
    |z| > ``threshold``; a zero MAD yields null z and no flags.

    Exactness: residuals are the decompose's 6 dp-rounded outputs
    (identical doubles both engines); median/MAD are one exact
    interpolated-percentile aggregate each; the closing ratio is
    identical IEEE arithmetic.

    Scale shape: the decompose's one day-grain aggregate; the
    median/MAD scalars and the z projection run on the |days| table.
    """
    dec = seasonal_decompose_daily(df, ts_col, value_col).filter(
        F.col("residual").isNotNull()
    )
    med = dec.agg(F.expr("percentile(residual, 0.5)").alias("__med"))
    withmed = dec.crossJoin(F.broadcast(med))
    mad = withmed.agg(
        F.expr("percentile(abs(residual - __med), 0.5)").alias("__mad")
    )
    z = F.when(
        F.col("__mad") > 0,
        F.lit(0.6745) * (F.col("residual") - F.col("__med")) / F.col("__mad"),
    )
    return (
        withmed.crossJoin(F.broadcast(mad))
        .select(
            "day",
            "value",
            "residual",
            F.round(z, round_digits).alias("modified_z"),
            F.coalesce(F.abs(z) > F.lit(float(threshold)), F.lit(False)).alias(
                "is_anomaly"
            ),
        )
    )
