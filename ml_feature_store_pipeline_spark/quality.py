"""Data-quality validation as aggregate queries (SURVEY §2.C C9–C14).

The reference's ``DataQualityValidator`` (`ML Feature Store
Pipeline.py:114-160`) makes several full pandas passes (isnull, duplicated,
per-column quantile + boolean masks). Here the profile is at most two
plain aggregates, whatever the column count, split so that the first can
ride another job:

- exact mode (default; what the oracle gate hash-matches): the
  aggregates of :func:`profile_aggregates` (row count, per-column null
  counts, per-numeric-column exact quartiles and non-null counts) carry
  no DISTINCT, so they also run as observed metrics of a write
  (``DataFrame.observe``): the store computes them during the parquet
  write of a registration. :func:`finish_profile` then runs one
  aggregate over the frame: the distinct-row count and the per-column
  IQR-violation sums with the quartile band edges inlined as literals.
  Columns without quartiles (empty or all-NULL) get no violation sum,
  and an empty frame needs no second aggregate.
- ``approximate=True`` (the 100 TB variant): a single scan — one
  mergeable aggregate computes a KLL quantile GRID per numeric column
  alongside HLL distinct, and the outlier counts are derived from the
  grid's empirical CDF at the IQR band edges (no second pass at all; the
  estimate inherits the sketch's rank accuracy).

Both scale out: partial→final hash aggregates with O(columns) state, no
driver-side data movement beyond the scalar results.
"""

from __future__ import annotations

import bisect
import math
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from .config import DataQualityMetrics

#: A quality check: DataFrame → bool; raising counts as a failure, matching
#: the reference's try/except-as-violation (`:147-149`).
QualityCheck = Callable[[DataFrame], bool]

_NUMERIC_TYPES = (T.DoubleType, T.FloatType, T.LongType, T.IntegerType, T.ShortType, T.ByteType, T.DecimalType)


@dataclass
class QualityProfile:
    """Scalar outputs of :func:`profile`."""

    row_count: int
    null_counts: dict[str, int]
    distinct_rows: int
    quartiles: dict[str, tuple[float, float]]
    outlier_counts: dict[str, int]
    numeric_non_null: dict[str, int]

    @property
    def null_percentage(self) -> float:
        """C9 `:122`: global null fraction over the full cell grid."""
        cells = self.row_count * max(len(self.null_counts), 1)
        return (sum(self.null_counts.values()) / cells) if cells else 0.0

    @property
    def duplicate_percentage(self) -> float:
        """C10 `:123`: all-but-first duplicate fraction = (N − distinct)/N."""
        return ((self.row_count - self.distinct_rows) / self.row_count) if self.row_count else 0.0

    @property
    def outlier_percentage(self) -> float:
        """C12 `:126-138`: IQR-band violations ÷ non-null numeric values."""
        total = sum(self.numeric_non_null.values())
        return sum(self.outlier_counts.values()) / max(total, 1)


def _numeric_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if isinstance(f.dataType, _NUMERIC_TYPES)]


#: Probability grid for the single-scan approximate profile. 0.25/0.75 are
#: exact grid points; step 1/2000 bounds the CDF interpolation error at the
#: IQR band edges to the sketch's own rank accuracy.
_GRID_STEPS = 2000


def _spark_order(v: float) -> tuple[bool, float]:
    """Sort key of Spark's float order, which puts NaN above every number."""
    return (True, 0.0) if math.isnan(v) else (False, v)


def _grid_cdf(values: list[float], x: float, *, strict: bool) -> float:
    """Empirical CDF read off a quantile grid: the largest grid probability
    whose value is < x (``strict``) or <= x in Spark's float order,
    linearly interpolated between surrounding finite grid points."""
    if not values:
        return 0.0
    search = bisect.bisect_left if strict else bisect.bisect_right
    j = search(values, _spark_order(x), key=_spark_order)
    if j <= 0:
        return 0.0
    if j >= len(values):
        return 1.0
    # interpolate within the straddling grid cell
    v0, v1 = values[j - 1], values[j]
    p0, p1 = (j - 1) / _GRID_STEPS, j / _GRID_STEPS
    frac = (x - v0) / (v1 - v0) if v1 != v0 else 0.0
    return p0 + (p1 - p0) * frac if math.isfinite(frac) else p0


def profile_aggregates(
    df: DataFrame, *, approximate: bool = False, percentile_accuracy: int = 10000
) -> list[Column]:
    """The first aggregate of the profile: row count, per-column null
    counts and, per numeric column, the quartiles (exact) or a quantile
    grid (approximate) and the non-null count. Approximate mode adds the
    HLL distinct-row count; exact mode has no DISTINCT, so its list can
    also run as observed metrics. :func:`finish_profile` reads the result."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    if approximate:
        aggs.append(F.approx_count_distinct(F.struct(*df.columns)).alias("__distinct"))
    aggs += [F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}") for c in df.columns]
    grid = "array(" + ", ".join(f"{i}/{_GRID_STEPS}" for i in range(_GRID_STEPS + 1)) + ")"
    for c in _numeric_columns(df):
        # exact linear-interpolation percentile (pandas default) — C11 `:131-132`;
        # percentile_approx over the full grid is the single-scan 100 TB variant.
        q_expr = (
            f"percentile_approx(`{c}`, {grid}, {percentile_accuracy})"
            if approximate
            else f"percentile(`{c}`, array(0.25, 0.75))"
        )
        aggs.append(F.expr(q_expr).alias(f"__q_{c}"))
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
    return aggs


def finish_profile(
    df: DataFrame, row: Mapping[str, Any], *, approximate: bool = False
) -> QualityProfile:
    """The profile from a result row of :func:`profile_aggregates` over
    ``df`` (a collected ``Row`` or an observation's dict). Approximate mode
    reads everything off the row. Exact mode runs one more aggregate over
    ``df``: the distinct-row count and exact per-row IQR-violation sums
    with the row's band edges as literals; an empty frame skips it."""
    cols = df.columns
    numeric = _numeric_columns(df)
    at = (_GRID_STEPS // 4, 3 * _GRID_STEPS // 4) if approximate else (0, 1)
    quartiles: dict[str, tuple[float, float]] = {}
    for c in numeric:
        q = row[f"__q_{c}"]
        if q is None or q[0] is None:
            continue
        quartiles[c] = (float(q[at[0]]), float(q[at[1]]))
    # B9 `:133-134`: the IQR band per column
    bands = {c: (q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)) for c, (q1, q3) in quartiles.items()}

    n = int(row["__n"])
    outlier_counts: dict[str, int] = {}
    if approximate:
        distinct = int(row["__distinct"] or 0)
        for c, (lo, hi) in bands.items():
            vals = [float(v) for v in row[f"__q_{c}"]]
            below = _grid_cdf(vals, lo, strict=True)
            above = 1.0 - _grid_cdf(vals, hi, strict=False)
            outlier_counts[c] = int(round(row[f"__nn_{c}"] * (below + above)))
    elif n:
        post = df.agg(
            F.countDistinct(F.struct(*cols)),
            *[F.sum(((F.col(c) < lo) | (F.col(c) > hi)).cast("long")) for c, (lo, hi) in bands.items()],
        ).collect()[0]
        distinct = int(post[0])
        outlier_counts = {c: int(v or 0) for c, v in zip(bands, post[1:])}
    else:
        distinct = 0

    return QualityProfile(
        row_count=n,
        null_counts={c: int(row[f"__null_{c}"] or 0) for c in cols},
        distinct_rows=distinct,
        quartiles=quartiles,
        outlier_counts=outlier_counts,
        numeric_non_null={c: int(row[f"__nn_{c}"] or 0) for c in numeric},
    )


def profile(
    df: DataFrame, *, approximate: bool = False, percentile_accuracy: int = 10000
) -> QualityProfile:
    """Run the quality profile.

    Exact mode (the default) is what the oracle gate and the reference's
    pandas semantics (C10/C11) hash-match against: the aggregate of
    :func:`profile_aggregates`, then :func:`finish_profile`'s distinct
    count and exact per-row IQR-violation sums with the collected bounds
    as literals.

    ``approximate=True`` is the 100 TB variant — a SINGLE scan: HLL
    ``approx_count_distinct`` for the duplicate check (no exact-distinct
    exchange of full-width rows) and a KLL ``percentile_approx`` quantile
    GRID per numeric column, from which both the quartiles and the
    IQR-violation counts are derived (the outlier count is the grid CDF at
    the band edges × non-null count — accurate to the sketch's rank error,
    with no second pass over the data).
    """
    aggs = profile_aggregates(df, approximate=approximate, percentile_accuracy=percentile_accuracy)
    return finish_profile(df, df.agg(*aggs).collect()[0], approximate=approximate)


@dataclass
class DataQualityValidator:
    """C9–C14 validator with pluggable checks (reference `:114-160`)."""

    checks: dict[str, QualityCheck] = field(default_factory=dict)
    include_default_checks: bool = True

    def add_check(self, name: str, fn: QualityCheck) -> None:
        """Register a named check (reference J3 `:118-119`)."""
        self.checks[name] = fn

    def _default_checks(self, df: DataFrame, prof: QualityProfile) -> dict[str, bool]:
        """Reference defaults `:246-258`, computed from the profile (no extra
        jobs): non-empty, no all-null column, user_id column present."""
        return {
            "non_empty": prof.row_count > 0,
            "no_all_null_columns": not any(
                prof.row_count > 0 and cnt == prof.row_count for cnt in prof.null_counts.values()
            ),
            "has_user_id": "user_id" in df.columns,
        }

    def validate(
        self, df: DataFrame, observed: Mapping[str, Any] | None = None
    ) -> tuple[DataQualityMetrics, QualityProfile]:
        """Score ``df``. ``observed`` is a result of
        :func:`profile_aggregates` over ``df`` that already ran (the store
        observes it during the write); then only :func:`finish_profile`'s
        aggregate runs here."""
        prof = profile(df) if observed is None else finish_profile(df, observed)
        results: dict[str, bool] = {}
        if self.include_default_checks:
            results.update(self._default_checks(df, prof))
        for name, fn in self.checks.items():
            try:
                results[name] = bool(fn(df))
            except Exception:
                results[name] = False  # raising counts as violation `:147-149`
        violations = sum(1 for ok in results.values() if not ok)
        score = max(
            0.0,
            1.0
            - (
                prof.null_percentage
                + prof.duplicate_percentage
                + prof.outlier_percentage
                + 0.1 * violations  # C13 `:152`
            ),
        )
        metrics = DataQualityMetrics(
            null_percentage=prof.null_percentage,
            duplicate_percentage=prof.duplicate_percentage,
            outlier_percentage=prof.outlier_percentage,
            schema_violations=violations,
            overall_score=score,
        )
        return metrics, prof


def k_anonymity_profile(
    df: DataFrame, quasi_cols: list[str], *, k: int = 5
) -> DataFrame:
    """K-anonymity re-identification risk profile: group the table by the
    quasi-identifier tuple and report how much of it lives in groups
    smaller than ``k`` — the rows an adversary who knows the quasi
    identifiers can single out. The governance audit that pairs with
    ``text.scrub_pii``: scrubbing direct identifiers does nothing if the
    (type, day, rounded-amount) tuple is unique.

    One row out: (k, n_rows, n_groups, n_groups_at_risk, n_rows_at_risk,
    rows_at_risk_frac, min_group_size). NULL quasi values group together
    (standard GROUP BY semantics on both engines) — NULL is itself a
    quasi-identifier value for this purpose.

    Scale shape: one map-side-combinable count per quasi group, then a
    second aggregate over the |groups|-sized count table. Nothing else
    shuffles; no row data leaves the executors.
    """
    g = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.count(F.lit(1)).alias("__n")
    )
    at_risk = F.col("__n") < k
    return g.agg(
        F.lit(int(k)).cast("int").alias("k"),
        F.sum("__n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(at_risk.cast("long")).cast("long").alias("n_groups_at_risk"),
        F.sum(F.when(at_risk, F.col("__n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.round(
            F.sum(F.when(at_risk, F.col("__n")).otherwise(F.lit(0))) / F.sum("__n"), 6
        ).alias("rows_at_risk_frac"),
        F.min("__n").cast("long").alias("min_group_size"),
    )


#: Benford first-digit expectation log10(1 + 1/d), d = 1..9, computed once
#: driver-side so Spark and the SQL oracle inline the IDENTICAL double
#: literals (no cross-engine log10 call to keep in sync).
BENFORD_EXPECTED: dict[int, float] = {
    d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)
}


def benford_profile(
    df: DataFrame, value_col: str, *, round_digits: int = 6
) -> DataFrame:
    """First-significant-digit distribution of a positive numeric column
    vs Benford's law — the classic fabricated-data / unit-mixup audit for
    financial and telemetry amounts. One row per digit 1–9: observed
    count and frequency, the Benford expectation, the deviation, and the
    digit's chi-square contribution ``(obs − exp·N)² / (exp·N)`` (sum the
    column and compare to χ²₈ for a significance call).

    Digit extraction is engine-exact WITHOUT log10: rows are filtered to
    ``value ≥ 1`` (sub-unit magnitudes need a decimal-string walk that no
    two engines share) and the first digit is
    ``floor(v / 10^(len(str(floor(v))) − 1))`` — integer string length
    plus IEEE division, bit-identical on any engine. Digits with zero
    observations still appear (expected > 0 ⇒ they carry chi-square).

    Scale shape: one map-side-combinable 9-group count; the digit spine
    and total broadcast. No sort, no row egress.
    """
    spark = df.sparkSession
    v = F.col(value_col)
    k = F.length(F.floor(v).cast("long").cast("string"))
    digit = F.floor(v / F.pow(F.lit(10.0), (k - 1).cast("double"))).cast("int")
    obs = (
        df.filter(v >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    exp_freq = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in BENFORD_EXPECTED.items() for x in kv]
        ),
        F.col("digit"),
    )
    total = obs.agg(F.sum("n").alias("__t"))
    joined = (
        spine.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            (F.coalesce("n", F.lit(0)) / F.col("__t")).alias("__freq"),
            exp_freq.alias("__exp"),
            F.col("__t"),
        )
    )
    chi2 = F.pow(F.col("n") - F.col("__exp") * F.col("__t"), F.lit(2.0)) / (
        F.col("__exp") * F.col("__t")
    )
    return joined.select(
        "digit",
        "n",
        F.round("__freq", round_digits).alias("freq"),
        F.round("__exp", round_digits).alias("expected_freq"),
        F.round(F.col("__freq") - F.col("__exp"), round_digits).alias("deviation"),
        F.round(chi2, round_digits).alias("chi2_contrib"),
    )


def l_diversity_profile(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, *, l: int = 3
) -> DataFrame:
    """L-diversity audit — :func:`k_anonymity_profile`'s sharper sibling:
    a quasi-identifier group can be large (k-anonymous) yet still leak if
    every row in it shares ONE sensitive value (the homogeneity attack).
    Each group must exhibit at least ``l`` DISTINCT sensitive values.

    One row out: (l, n_rows, n_groups, n_groups_below, n_rows_below,
    rows_below_frac, min_distinct_sensitive). NULL quasi values group
    together; NULL sensitive values do not count toward a group's
    diversity (an unknown value diversifies nothing).

    Scale shape: distinct-per-group via two map-side-combinable
    aggregates — (quasi, sensitive) count first, then the group rollup —
    never a count_distinct shuffle of raw rows; the final profile reduces
    the |groups| table. No row egress.
    """
    per_val = df.groupBy(
        *[F.col(c) for c in quasi_cols], F.col(sensitive_col).alias("__s")
    ).agg(F.count(F.lit(1)).alias("__n"))
    g = per_val.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.sum("__n").alias("__rows"),
        F.count(F.when(F.col("__s").isNotNull(), F.lit(1))).alias("__l"),
    )
    below = F.col("__l") < l
    return g.agg(
        F.lit(int(l)).cast("int").alias("l"),
        F.sum("__rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(below.cast("long")).cast("long").alias("n_groups_below"),
        F.sum(F.when(below, F.col("__rows")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_rows_below"),
        F.round(
            F.sum(F.when(below, F.col("__rows")).otherwise(F.lit(0))) / F.sum("__rows"),
            6,
        ).alias("rows_below_frac"),
        F.min("__l").cast("long").alias("min_distinct_sensitive"),
    )


def referential_integrity_audit(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Relational-ingest integrity audit between a child (fact) and its
    parent (dimension/PK) table — the first thing to run after loading a
    normalized extract: one row with ``n_child`` / ``n_parent`` rows,
    orphan child rows AND distinct orphan keys (child keys with no
    parent), childless parents (PK rows no child references), and parent
    primary-key duplicates. All zeros = the foreign key actually holds.

    Scale shape: the child reduces to distinct keys + per-key counts
    FIRST (map-side combine), so the orphan check joins key tables, not
    fact rows; the parent side aggregates once for both the dup count
    and the childless probe. No fact-row egress.
    """
    ck = child.select(F.col(child_key).alias("__k")).filter(F.col("__k").isNotNull())
    child_keys = ck.groupBy("__k").agg(F.count(F.lit(1)).alias("__cn"))
    pk = parent.select(F.col(parent_key).alias("__k")).filter(F.col("__k").isNotNull())
    parent_keys = pk.groupBy("__k").agg(F.count(F.lit(1)).alias("__pn"))
    joined = child_keys.join(parent_keys, "__k", "full_outer")
    totals = child.agg(F.count(F.lit(1)).alias("__tc")).crossJoin(
        parent.agg(F.count(F.lit(1)).alias("__tp"))
    )
    orphan = F.col("__pn").isNull() & F.col("__cn").isNotNull()
    childless = F.col("__cn").isNull() & F.col("__pn").isNotNull()
    audit = joined.agg(
        F.sum(F.when(orphan, F.col("__cn")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_orphan_child_rows"),
        F.sum(orphan.cast("long")).cast("long").alias("n_orphan_child_keys"),
        F.sum(childless.cast("long")).cast("long").alias("n_childless_parents"),
        F.sum(
            F.when(F.col("__pn") > 1, F.col("__pn") - 1).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_dup_parent_rows"),
    )
    # totals ride a broadcast 1-row cross join — no driver collect at
    # plan-build, the whole audit is one action
    return audit.crossJoin(F.broadcast(totals)).select(
        F.col("__tc").cast("long").alias("n_child"),
        F.col("__tp").cast("long").alias("n_parent"),
        "n_orphan_child_rows",
        "n_orphan_child_keys",
        "n_childless_parents",
        "n_dup_parent_rows",
    )


def mad_outlier_profile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    z_threshold: float = 3.5,
    round_digits: int = 6,
) -> DataFrame:
    """Robust per-group outlier profile via the MAD rule (Iglewicz–
    Hoaglin): modified z = 0.6745·(x − median)/MAD, flag |z| >
    ``z_threshold`` — the outlier test that, unlike the IQR band or a
    σ-rule, a few extreme values cannot drag (both its center and its
    spread are medians). One row per group: (n, median, mad, n_outliers,
    outlier_frac). A zero MAD (> half the group identical) flags nothing
    — the rule is undefined there and the honest answer is "use a
    different test", not a division by zero.

    Scale shape: three scans sharing the group key — exact median
    aggregate, |x−median| median aggregate (medians broadcast between
    them), then the flag count. Exact percentiles buffer per group on a
    reducer; swap ``percentile_approx`` into both median steps when a
    group outgrows one.
    """
    v = F.col(value_col)
    from .functions import pin_local

    clean = df.filter(v.isNotNull()).select(*group_cols, v.alias("__v"))
    med = clean.groupBy(*group_cols).agg(
        F.expr("percentile(__v, 0.5)").alias("__med"),
        F.count(F.lit(1)).alias("__n"),
    )
    # pin the |groups|-row medians through the driver: lazy, they sit
    # inside BOTH downstream scans and the expensive exact-percentile
    # aggregate re-executes per consumer (measured 36.7 s → the pin cuts
    # the median pass count from 3 to 1 at 20 M rows × 5 groups). The
    # consumers run as separate subtrees of ONE final job, but exchange
    # reuse cannot dedup them (each consumer wraps the medians in a
    # DIFFERENT join), so the check-ReusedExchange-first rule still says
    # pin (r11).
    med = pin_local(med)
    with_med = clean.join(F.broadcast(med), group_cols)
    mad = (
        with_med.select(*group_cols, F.abs(F.col("__v") - F.col("__med")).alias("__ad"))
        .groupBy(*group_cols)
        .agg(F.expr("percentile(__ad, 0.5)").alias("__mad"))
    )
    mad = pin_local(mad)
    staged = with_med.join(F.broadcast(mad), group_cols)
    mz = F.lit(0.6745) * (F.col("__v") - F.col("__med")) / F.col("__mad")
    is_out = (F.col("__mad") > 0) & (F.abs(mz) > z_threshold)
    return staged.groupBy(*group_cols).agg(
        F.min("__n").cast("long").alias("n"),
        F.round(F.min("__med"), round_digits).alias("median"),
        F.round(F.min("__mad"), round_digits).alias("mad"),
        F.sum(is_out.cast("long")).cast("long").alias("n_outliers"),
        F.round(F.sum(is_out.cast("long")) / F.min("__n"), round_digits).alias(
            "outlier_frac"
        ),
    )


def completeness_by_day(
    df: DataFrame,
    ts_col: str,
    cols: list[str],
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Per-day, per-column completeness — the "data downtime" monitor: an
    upstream producer that silently starts shipping NULLs shows up here
    the day it breaks, long before a model degrades. One row per
    (day, column): (day, column_name, n, n_null, null_frac). Rows with a NULL
    timestamp are reported under a NULL day (they ARE the incident
    sometimes).

    Scale shape: ONE map-side-combinable day aggregate computing every
    column's null count as a conditional sum (no unpivot of the fact
    table — the explode to long format happens on the |days|-sized
    aggregate).
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        aggs.append(
            F.count(F.when(F.col(c).isNull(), F.lit(1))).cast("long").alias(f"__nn_{c}")
        )
    daily = df.groupBy(F.to_date(F.col(ts_col)).alias("day")).agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"__nn_{c}").alias("n_null"),
            )
            for c in cols
        ]
    )
    return daily.select(
        "day", F.col("__n").alias("n"), F.explode(pairs).alias("__p")
    ).select(
        "day",
        F.col("__p.column_name").alias("column_name"),
        "n",
        F.col("__p.n_null").alias("n_null"),
        F.round(F.col("__p.n_null") / F.col("n"), round_digits).alias("null_frac"),
    )


def t_closeness_profile(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    *,
    t: float = 0.2,
) -> DataFrame:
    """T-closeness audit — the distributional tightening of
    :func:`l_diversity_profile`: a group can exhibit many distinct
    sensitive values (l-diverse) yet still leak if its sensitive
    DISTRIBUTION diverges from the corpus-wide one (the skewness
    attack). Per quasi-group, the total-variation distance between the
    group's sensitive distribution and the global distribution must
    stay ≤ ``t``.

    Per group: quasi cols + (n_rows, tvd, meets_t). NULL quasi values
    group together; NULL sensitive values count as a category (a
    missingness skew is itself a leak).

    TVD folds group-absent categories without enumerating them:
    ``TVD = ½(Σ_{s∈g} |c_s/n_g − p_s| + 1 − Σ_{s∈g} p_s)`` — only
    group-PRESENT rows are touched, the absent mass enters via the
    complement identity.

    Exactness: both per-group sums round each term to 12 dp and
    accumulate as DECIMAL(38,12) (order-free); the closing ½(...)
    arithmetic is identical IEEE doubles; ``tvd`` rounds to 6 dp.

    Scale shape: two map-side-combinable aggregates — (quasi,
    sensitive) counts, then the group fold — with the |categories|-row
    global marginal broadcast onto the first; the group-total window
    partitions the (quasi, sensitive)-grain table on the same quasi
    keys the fold groups by (one exchange, reused). Never a raw-row
    shuffle.
    """
    per_val = df.groupBy(
        *[F.col(c) for c in quasi_cols], F.col(sensitive_col).alias("__s")
    ).agg(F.count(F.lit(1)).alias("__c"))
    glob = per_val.groupBy("__s").agg(F.sum("__c").alias("__cs"))
    n_total = glob.agg(F.sum("__cs").alias("__nt"))
    marg = glob.crossJoin(F.broadcast(n_total)).select(
        "__s", (F.col("__cs").cast("double") / F.col("__nt")).alias("__p")
    )
    joined = per_val.join(
        F.broadcast(marg.withColumnRenamed("__s", "__sm")),
        F.col("__s").eqNullSafe(F.col("__sm")),
        "left",
    ).withColumn(
        "__ng",
        F.sum("__c").over(W.partitionBy(*[F.col(c) for c in quasi_cols])),
    )
    g = joined.groupBy(*[F.col(c) for c in quasi_cols]).agg(
        F.sum("__c").cast("long").alias("n_rows"),
        F.sum(
            F.round(
                F.abs(
                    F.col("__c").cast("double") / F.col("__ng") - F.col("__p")
                ),
                12,
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("__sabs"),
        F.sum(F.round(F.col("__p"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("__spres"),
    )
    tvd = F.round(0.5 * (F.col("__sabs") + 1.0 - F.col("__spres")), 6)
    return g.select(
        *[F.col(c) for c in quasi_cols],
        F.col("n_rows"),
        tvd.alias("tvd"),
        (tvd <= F.lit(float(t))).alias("meets_t"),
    )
