"""Window-function operators (SURVEY §2.E/§2.F).

The reference's only window-adjacent computations are latest-version
top-1 (F1) and keep-latest-N retention (F3); both generalize to the
ranking/analytic/frame operators here. All are built-in
``Window.partitionBy().orderBy()`` — no UDFs, single shuffle on the
partition keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import local_frame


def top_n_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    n: int,
    *,
    descending: bool = True,
    tiebreak_cols: list[str] | None = None,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-N rows per group via ``row_number`` (F3's general form).

    ``tiebreak_cols`` make the selected SET deterministic — required for
    oracle comparison and for reproducible retention decisions.
    """
    order = [F.desc(order_col) if descending else F.asc(order_col)]
    order += [F.asc(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= n)


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    session_col: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous event of the same key exceeds ``gap_seconds``.

    lag → gap predicate → running sum of session starts. Two window passes
    over ONE shuffle (same partitioning/ordering, Catalyst reuses the sort).
    """
    w = Window.partitionBy(key_col).orderBy(F.asc(ts_col))
    gap = F.unix_timestamp(F.col(ts_col)) - F.unix_timestamp(F.lag(ts_col).over(w))
    is_start = F.when(gap.isNull() | (gap > gap_seconds), 1).otherwise(0)
    return df.withColumn("__start", is_start).withColumn(
        session_col,
        F.sum("__start").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    ).drop("__start")


def scd2_compress(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
    *,
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Type-2 slowly-changing history from a change log: one row per
    (key, attribute-state) run, with [valid_from, valid_to) intervals
    (valid_to null = current) — the feature-history shape that lets
    point-in-time reads join on an interval instead of scanning every
    observation.

    Two window passes over ONE (key, ts) shuffle (same partitioning, so
    Catalyst plans a single exchange + sort, like sessionize): flag rows
    whose attribute tuple differs from the previous observation, keep only
    change points, then ``lead(ts)`` closes each interval. Consecutive
    duplicate observations compress away — the usual 100:1+ reduction for
    slowly-changing feature values. ``order_tiebreak`` columns make
    equal-timestamp observations deterministic (pass the change-log's
    unique id).
    """
    order = [F.asc(ts_col)] + [F.asc(c) for c in (order_tiebreak or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    state = F.struct(*[F.col(c) for c in attr_cols])
    # eqNullSafe: a change INTO a null attribute value must still flag
    changed = ~F.lag(state).over(w).eqNullSafe(state)
    points = df.withColumn("__chg", changed).filter(F.col("__chg")).drop("__chg")
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return points.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
    )


def funnel(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    stages: list[str],
) -> DataFrame:
    """Ordered funnel analysis: for each key, the earliest time each stage
    was reached IN ORDER — stage *i* counts only via an event at or after
    the key's stage *i−1* reach time (a purchase before any view does not
    complete a view→click→purchase funnel). The product-analytics staple
    over an event log.

    Returns one row per key that reached stage 1:
    (key, reached_1..reached_k timestamps — NULL once the chain breaks —
    and ``furthest_stage`` 1..k). Chain semantics use ``>=`` so
    same-timestamp events can complete consecutive stages.

    Scale shape: one filtered scan + map-side-combined min-aggregate per
    stage, chained by per-key joins (each side is already aggregated to
    one row per key). k passes for a k-stage funnel — no windows, no
    per-key event sorting, no event list ever collected.
    """
    if len(stages) < 2:
        raise ValueError("a funnel needs at least 2 stages")
    key, ts, typ = F.col(key_col), F.col(ts_col), F.col(type_col)
    cur = (
        df.filter(typ == stages[0])
        .groupBy(key_col)
        .agg(F.min(ts).alias("reached_1"))
    )
    out = cur
    for i, st in enumerate(stages[1:], start=2):
        nxt = (
            df.filter(typ == st)
            .join(out.select(key_col, f"reached_{i-1}"), key_col)
            .filter(ts >= F.col(f"reached_{i-1}"))
            .groupBy(key_col)
            .agg(F.min(ts).alias(f"reached_{i}"))
        )
        out = out.join(nxt, key_col, "left")
    furthest = F.lit(1)
    for i in range(2, len(stages) + 1):
        furthest = F.when(F.col(f"reached_{i}").isNotNull(), F.lit(i)).otherwise(furthest)
    return out.withColumn("furthest_stage", furthest.cast("int"))


def funnel_summary(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    stages: list[str],
) -> DataFrame:
    """Stage-level rollup of :func:`funnel`: per stage, how many keys
    reached it (in order), conversion from the previous stage, and from
    stage 1. Returns (stage_idx, stage, n_keys, conv_from_prev,
    conv_from_first) — the |stages|-row table a dashboard wants."""
    per_key = funnel(df, key_col, ts_col, type_col, stages)
    counts = per_key.agg(
        *[
            F.count(F.col(f"reached_{i}")).cast("long").alias(f"n_{i}")
            for i in range(1, len(stages) + 1)
        ]
    )
    rows = []
    for i, st in enumerate(stages, start=1):
        prev = F.col(f"n_{i-1}") if i > 1 else F.col("n_1")
        rows.append(
            F.struct(
                F.lit(i).cast("int").alias("stage_idx"),
                F.lit(st).alias("stage"),
                F.col(f"n_{i}").alias("n_keys"),
                F.round(
                    F.when(prev > 0, F.col(f"n_{i}") / prev).otherwise(F.lit(0.0)), 6
                ).alias("conv_from_prev"),
                F.round(
                    F.when(F.col("n_1") > 0, F.col(f"n_{i}") / F.col("n_1")).otherwise(
                        F.lit(0.0)
                    ),
                    6,
                ).alias("conv_from_first"),
            )
        )
    return counts.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


def cohort_retention(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix: keys grouped by their FIRST-activity period
    (the cohort), then for each later period offset, how many of the
    cohort were active again — the standard growth-analytics triangle.

    Returns (cohort, period_offset, n_active, cohort_size, retention) with
    offset 0 = the cohort period itself (retention 1.0 by construction).
    ``period`` is ``day``, ``week``, or ``month``. Day/week offsets are
    integer day arithmetic over truncated dates (a week diff is always a
    multiple of 7); month offsets use calendar ``months_between`` on
    first-of-month dates (day division would drift — 59 days ÷ 30 is not
    2 months). Exact on both engines either way.

    Scale shape: one min-aggregate per key (map-side combined), a
    co-keyed join back to the (key, period) activity set — distinct'd
    BEFORE the join so the shuffle carries one row per (key, period), not
    per event — and a final small groupBy. No windows, no sorting.
    """
    if period not in ("day", "week", "month"):
        raise ValueError("period must be 'day', 'week', or 'month'")
    key, ts = F.col(key_col), F.col(ts_col)
    p = F.date_trunc(period, ts).cast("date")
    activity = df.select(key.alias("__k"), p.alias("__p")).distinct()
    first = activity.groupBy("__k").agg(F.min("__p").alias("__cohort"))
    if period == "month":
        off = F.months_between(F.col("__p"), F.col("__cohort")).cast("long")
    else:
        days = 1 if period == "day" else 7
        off = (F.datediff(F.col("__p"), F.col("__cohort")) / days).cast("long")
    joined = activity.join(first, "__k").select("__k", "__cohort", off.alias("__off"))
    counts = joined.groupBy("__cohort", "__off").agg(
        F.count(F.lit(1)).cast("long").alias("n_active")
    )
    sizes = first.groupBy("__cohort").agg(F.count(F.lit(1)).cast("long").alias("cohort_size"))
    return (
        counts.join(F.broadcast(sizes), "__cohort")
        .select(
            F.col("__cohort").alias("cohort"),
            F.col("__off").cast("int").alias("period_offset"),
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
        )
    )


def type_affinity(
    df: DataFrame,
    key_col: str,
    type_col: str,
    *,
    min_pair_keys: int = 1,
) -> DataFrame:
    """Association analysis over an event log: for every UNORDERED pair of
    event types, how many keys exhibit both, the pair's support, and its
    LIFT vs independence (``lift > 1`` = types co-occur in the same users
    more than chance — the market-basket signal behind "users who error
    also churn" dashboards).

    Returns (type_a, type_b, n_keys_both, support, lift) for pairs seen by
    ≥ ``min_pair_keys`` keys, with type_a < type_b lexically. Support and
    lift round to 6 dp (ratios of exact integers).

    Scale shape: the event log reduces to DISTINCT (key, type) FIRST —
    with T types that is ≤ T rows per key regardless of event volume — and
    the pair self-join is co-keyed on the key column (one shuffle of the
    distinct set; AQE broadcasts the T-row marginals).
    """
    kt = df.select(F.col(key_col).alias("__k"), F.col(type_col).alias("__t")).distinct()
    n_keys = kt.select("__k").distinct().count()
    marg = kt.groupBy(F.col("__t").alias("type_a")).agg(
        F.count(F.lit(1)).cast("long").alias("__na")
    )
    pairs = (
        kt.alias("x")
        .join(kt.alias("y"), "__k")
        .filter(F.col("x.__t") < F.col("y.__t"))
        .groupBy(
            F.col("x.__t").alias("type_a"), F.col("y.__t").alias("type_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys_both"))
        .filter(F.col("n_keys_both") >= min_pair_keys)
    )
    margb = marg.select(F.col("type_a").alias("type_b"), F.col("__na").alias("__nb"))
    n = F.lit(float(n_keys))
    return (
        pairs.join(F.broadcast(marg), "type_a")
        .join(F.broadcast(margb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_keys_both",
            F.round(F.col("n_keys_both") / n, 6).alias("support"),
            F.round(
                (F.col("n_keys_both") / n)
                / ((F.col("__na") / n) * (F.col("__nb") / n)),
                6,
            ).alias("lift"),
        )
    )


def active_user_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    windows: tuple[int, ...] = (1, 7, 28),
) -> DataFrame:
    """Rolling distinct-active counts per calendar day — DAU/WAU/MAU when
    ``windows=(1, 7, 28)``: for each day the data contains, how many
    distinct keys were active in the trailing N days, one column per N.
    The growth dashboard's backbone metric.

    Returns (day, active_1d, active_7d, active_28d, …) for every day from
    the first to the last active day (gap days included, counting 0).

    Scale shape: events reduce to DISTINCT (key, day) FIRST (≤ one row
    per key-day however big the log); each window then joins that set to
    the day spine over a bounded day-range condition — max(windows) rows
    per key-day — and counts distinct keys per day. No sliding-window
    state, no per-key sorting; the spine comes from ``sequence`` over the
    min/max days (one scalar aggregate).
    """
    if not windows or any(w < 1 for w in windows):
        raise ValueError("windows must be positive day counts")
    act = df.select(
        F.col(key_col).alias("__k"), F.date_trunc("day", F.col(ts_col)).cast("date").alias("__d")
    ).distinct()
    spine = (
        act.agg(F.min("__d").alias("__lo"), F.max("__d").alias("__hi"))
        .select(F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("day"))
    )
    out = spine
    for w in windows:
        # range join: activity day in (day - w, day]
        cnt = (
            spine.join(
                act,
                (act["__d"] <= spine["day"])
                & (act["__d"] > F.date_sub(spine["day"], w)),
            )
            .groupBy("day")
            .agg(F.countDistinct("__k").cast("long").alias(f"active_{w}d"))
        )
        out = out.join(cnt, "day", "left")
    return out.select(
        "day",
        *[F.coalesce(F.col(f"active_{w}d"), F.lit(0)).alias(f"active_{w}d") for w in windows],
    ).orderBy("day")


def rfm_scores(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    amount_col: str,
    *,
    n_tiles: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """RFM segmentation — the feature store's classic customer scoring:
    per key, Recency (whole days since the key's last transaction, as of
    the GLOBAL max timestamp — data-derived, never the wall clock, so
    replays reproduce), Frequency (transaction count) and Monetary
    (decimal-exact amount sum), each scored into ``n_tiles``
    equal-population tiles. ``r_score`` inverts (most recent → highest);
    ``rfm_segment`` = r·100 + f·10 + m (e.g. 555 = best).

    Tiles come from ONE exact interpolated-percentile aggregate whose
    rounded boundaries broadcast to a map-side assignment (the
    ``fe.quantile_bin`` recipe) — NOT a global ``ntile`` window, which
    would total-sort every key on one task. Boundary ties resolve by the
    ``> boundary`` comparison on both engines identically.

    Scale shape: 3 passes — a column-pruned global-max scan, the
    key-grain aggregate, and the boundary aggregate over that key-grain
    plan (re-executed; persist upstream if the fact scan dominates).
    Shuffles carry key-grain rows only; the boundary table is
    3·(n_tiles−1) doubles.
    """
    from ..functions import dsum

    if n_tiles < 2:
        raise ValueError("n_tiles must be >= 2")
    asof_row = df.agg(
        F.max(F.unix_timestamp(F.col(ts_col))).alias("m"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if not asof_row["n"]:
        # empty input: emit the output schema with the CALLER's key type —
        # keys are not always longs
        from pyspark.sql.types import StructField, StructType

        key_field = df.schema[key_col]
        schema = StructType([StructField(key_col, key_field.dataType, key_field.nullable)])
        for name, typ in (
            ("recency_days", "long"),
            ("frequency", "long"),
            ("monetary", "double"),
            ("r_score", "integer"),
            ("f_score", "integer"),
            ("m_score", "integer"),
            ("rfm_segment", "integer"),
        ):
            schema = schema.add(name, typ)
        return local_frame(df.sparkSession, [], schema)
    # rows with no usable timestamp anywhere: keys still aggregate —
    # recency, its boundaries, and r_score/segment come out NULL while
    # frequency/monetary score normally (exactly what the SQL recompute
    # yields, since NULL propagates through the same expressions)
    asof = F.lit(int(asof_row["m"])) if asof_row["m"] is not None else F.lit(None).cast("long")
    rfm = df.groupBy(key_col).agg(
        F.floor((asof - F.unix_timestamp(F.max(F.col(ts_col)))) / 86400)
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        dsum(F.col(amount_col)).alias("monetary"),
    )
    qs = [i / n_tiles for i in range(1, n_tiles)]
    q_arr = f"array({', '.join(str(q) for q in qs)})"
    bounds = rfm.agg(
        *[
            F.expr(f"percentile({m}, {q_arr})").alias(f"__{m}")
            for m in ("recency_days", "frequency", "monetary")
        ]
    ).select(
        *[
            F.round(F.element_at(F.col(f"__{m}"), i + 1), round_digits).alias(f"__{m}{i}")
            for m in ("recency_days", "frequency", "monetary")
            for i in range(len(qs))
        ]
    )

    def tile(metric: str) -> Column:
        v = F.round(F.col(metric), round_digits)
        return sum(
            (v > F.col(f"__{metric}{i}")).cast("int") for i in range(len(qs))
        ) + F.lit(1)

    scored = rfm.crossJoin(F.broadcast(bounds)).select(
        key_col,
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(n_tiles + 1) - tile("recency_days")).cast("int").alias("r_score"),
        tile("frequency").cast("int").alias("f_score"),
        tile("monetary").cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "rfm_segment",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")).cast("int"),
    )


def touch_attribution(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    *,
    conversion: str,
    tie_col: str,
    value_col: str | None = None,
    direct_label: str = "(direct)",
) -> DataFrame:
    """First- and last-touch conversion attribution over an event log: for
    every conversion event (``type_col == conversion``), the FIRST and the
    most recent ("last") strictly-preceding non-conversion event of the
    same key name the credited channels; conversions with no prior touch
    credit ``direct_label``. Output is long-format —
    (model, channel, conversions, attributed_value) with model in
    {'first_touch', 'last_touch'} — the two standard single-touch models.

    Deterministic: "preceding" is the total order (ts, tie_col), so
    same-timestamp events cannot swap credit between engines or runs.

    Scale shape: ONE shuffle on ``key_col`` computes both touches in the
    same window pass (frame = everything strictly before the current
    row, ``ignorenulls`` skipping conversion rows); the two per-channel
    aggregates that follow are |channels|-sized and branch from the same
    exchange (AQE reuses it). Hot keys serialize in the window — the
    sessionize/as-of SKEW CONTRACT applies.
    """
    from ..functions import dsum

    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col), F.col(tie_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_conv = F.when(F.col(type_col) != F.lit(conversion), F.col(type_col))
    conv = (
        df.withColumn("__ft", F.first(non_conv, ignorenulls=True).over(w))
        .withColumn("__lt", F.last(non_conv, ignorenulls=True).over(w))
        .filter(F.col(type_col) == F.lit(conversion))
    )
    val = dsum(F.col(value_col)) if value_col else dsum(F.lit(0.0))

    def roll(touch_col: str, model: str) -> DataFrame:
        return (
            conv.groupBy(
                F.coalesce(F.col(touch_col), F.lit(direct_label)).alias("channel")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("conversions"),
                val.alias("attributed_value"),
            )
            .select(F.lit(model).alias("model"), "channel", "conversions", "attributed_value")
        )

    return roll("__ft", "first_touch").unionByName(roll("__lt", "last_touch"))


def interarrival_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    tie_col: str,
    round_digits: int = 6,
) -> DataFrame:
    """Per-key inter-arrival gap profile: the fractional-day gaps between
    CONSECUTIVE events in ``(ts, tie_col)`` order, aggregated to
    (key, n_events, n_gaps, mean_gap_days, median_gap_days, min_gap_days,
    max_gap_days). The classic churn/LTV feature block — "orders every
    ~9 days, but it's been 40" is ``recency / mean_gap``, and a widening
    median gap is the earliest churn signal.

    Keys with one event report n_gaps 0 and NULL gap stats. Gaps round
    to ``round_digits`` at the row level and the mean runs through the
    decimal-sum recipe, so both engines aggregate identical inputs;
    ``tie_col`` pins same-timestamp order (gap 0 rows are legitimate).

    Scale shape: ONE shuffle — the lag window partitions by key, and the
    following groupBy reuses that partitioning (no second exchange). The
    per-key exact median buffers each key's gap list on the aggregator —
    the grouped-quantile cost documented at `quality.grouped_quantiles`;
    hot keys serialize in the window (sessionize SKEW CONTRACT).
    """
    secs = F.unix_timestamp(F.col(ts_col))
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(tie_col))
    gap = F.round((secs - F.lag(secs).over(w)) / F.lit(86400.0), round_digits)
    from ..functions import dsum

    g = df.select(F.col(key_col), gap.alias("__gap"))
    return g.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("__gap").cast("long").alias("n_gaps"),
        # decimal scale tracks round_digits: the gaps are rounded to
        # round_digits, so a coarser sum scale would silently re-round
        # the mean below the precision of the other stats
        F.round(dsum(F.col("__gap"), scale=round_digits) / F.count("__gap"), round_digits).alias(
            "mean_gap_days"
        ),
        F.round(F.expr("percentile(__gap, 0.5)"), round_digits).alias("median_gap_days"),
        F.min("__gap").alias("min_gap_days"),
        F.max("__gap").alias("max_gap_days"),
    )


def resample_daily_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    tie_col: str,
    value_alias: str = "value_ffill",
) -> DataFrame:
    """Regularize an irregular per-key event series onto a daily grid with
    last-observation-carried-forward — the feature-matrix prep step that
    turns "balance updated whenever it changes" into "one row per key per
    day": each key gets every calendar day from its FIRST event day to
    the corpus's LAST day; days with events take the day's final value
    (by ``(ts, tie_col)`` — the tie pins same-timestamp updates), gap
    days carry the previous value forward. ``is_observed`` marks real
    observations vs carried fills. NULL-valued events count as "no
    observation" (they neither shadow a same-day real value nor mark the
    day observed); the spine's far edge is still the whole input's last
    event day.

    Scale shape: events reduce to one row per (key, day) FIRST (the
    day's last value via a row_number window); the spine explode then
    fans keys×days rows — bounded by the calendar span, not event count.
    One key shuffle serves the window, the spine aggregate, AND the
    fill window (same partitioning end-to-end); the global max day is a
    one-row broadcast. Output size is |keys| × span-days — resample to
    coarser grids upstream if that product explodes.
    """
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    w_last = Window.partitionBy(key_col, "__d").orderBy(
        F.desc(ts_col), F.desc(tie_col)
    )
    # NULL-valued events are "no observation", not tombstones: they must
    # neither shadow an earlier same-day real value as the day's last row
    # nor mark the day observed — filter them before the reduction
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(key_col), day.alias("__d"), F.col(ts_col), F.col(tie_col), F.col(value_col))
        .withColumn("__rn", F.row_number().over(w_last))
        .filter(F.col("__rn") == 1)
        .select(key_col, "__d", F.col(value_col).alias("__v"))
    )
    hi = df.agg(F.max(day).alias("__hi"))
    spine = (
        daily.groupBy(key_col)
        .agg(F.min("__d").alias("__lo"))
        .crossJoin(F.broadcast(hi))
        .select(key_col, F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("day"))
    )
    joined = spine.join(
        daily.withColumnRenamed("__d", "day"), [key_col, "day"], "left"
    )
    w_fill = (
        Window.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        key_col,
        "day",
        F.last("__v", ignorenulls=True).over(w_fill).alias(value_alias),
        F.col("__v").isNotNull().alias("is_observed"),
    )


def session_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_seconds: int,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Corpus-level session metrics from gap sessionization — the product
    dashboard's second row after DAU: one output row with ``n_sessions``,
    ``bounce_sessions`` / ``bounce_rate`` (single-event sessions — the
    classic engagement alarm), decimal-exact ``avg_session_events``,
    and duration stats (``avg`` decimal-exact, ``median`` exact
    interpolated, ``max``) in seconds.

    Built on :func:`sessionize` (same determinism: same-timestamp ties
    produce gap 0 regardless of intra-tie order, so session boundaries
    are engine-stable without a tie column).

    Scale shape: the (key, session) rollup reuses the sessionize window's
    key partitioning (partial agg, no new fact exchange); the final
    one-row summary reduces |sessions| rows. The global exact median of
    session durations buffers |sessions| longs on one aggregator — swap
    for ``percentile_approx`` when sessions outnumber executor memory.
    """
    from ..functions import dsum

    sess = sessionize(df, key_col, ts_col, gap_seconds)
    secs = F.unix_timestamp(F.col(ts_col))
    per = sess.groupBy(key_col, "session_id").agg(
        F.count(F.lit(1)).alias("__n"),
        (F.max(secs) - F.min(secs)).alias("__dur"),
    )
    bounce = F.sum((F.col("__n") == 1).cast("long"))
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        bounce.cast("long").alias("bounce_sessions"),
        F.round(bounce / F.count(F.lit(1)), round_digits).alias("bounce_rate"),
        F.round(dsum(F.col("__n")) / F.count(F.lit(1)), round_digits).alias(
            "avg_session_events"
        ),
        F.round(dsum(F.col("__dur")) / F.count(F.lit(1)), round_digits).alias(
            "avg_duration_s"
        ),
        F.round(F.expr("percentile(__dur, 0.5)"), round_digits).alias("median_duration_s"),
        F.max("__dur").cast("long").alias("max_duration_s"),
    )


def session_window_agg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap: str,
    value_col: str,
) -> DataFrame:
    """Per-key session aggregation via Spark's NATIVE ``session_window``
    (the Structured Streaming session operator, run in batch mode) —
    the engine-level twin of :func:`sessionize`, with two semantic
    differences worth knowing when choosing between them:

    - boundaries compare FULL microsecond timestamps (``sessionize``
      compares ``unix_timestamp`` whole seconds). A new session starts
      when the gap is STRICTLY greater than the threshold — an event
      landing exactly ``gap`` after the previous one still merges
      (verified against Spark's merge behavior; the same ``>`` contract
      as ``sessionize``, just at microsecond precision);
    - ``session_end`` is ``last event + gap`` (the window close), not the
      last event itself.

    Scale shape: one shuffle on the grouping key; Spark merges
    overlapping per-event windows inside the aggregation (no window
    function, no second sort). In streaming the same expression works
    under a watermark with state eviction at window close — this batch
    form IS the backfill path for that stream.
    """
    from ..functions import dsum

    return (
        df.groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col(value_col)).alias("total_value"),
        )
        .select(
            key_col,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def session_ngram_topk(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    token_col: str,
    gap_seconds: int,
    *,
    n: int = 3,
    top_k: int = 10,
    tie_col: str | None = None,
    sep: str = ">",
) -> DataFrame:
    """Top-k most frequent within-session n-grams of a categorical event
    stream — "what do users DO in a session": the path-analysis primitive
    behind next-action suggestion and funnel discovery. Sequences never
    cross a session boundary (an n-gram needs ``n`` consecutive events in
    ONE session of one key).

    Ordering inside a session is ``(ts, tie_col)`` — pass a unique tie
    column for a total order, or same-timestamp n-grams are engine-
    arbitrary. Output: (ngram, count), count desc / ngram asc, ``top_k``
    rows.

    Scale shape: sessionize's key shuffle, then the lead() chain rides
    the SAME (key, session) partitioning (one sort, no new exchange); the
    count groupBy shuffles |distinct n-grams| ≤ |vocab|^n rows — for a
    bounded event vocabulary that is dimension-sized, so the final
    ordered top-k is a TakeOrdered over a tiny aggregate, not a data sort.
    """
    sess = sessionize(df, key_col, ts_col, gap_seconds)
    order = [F.asc(ts_col)] + ([F.asc(tie_col)] if tie_col else [])
    w = Window.partitionBy(key_col, "session_id").orderBy(*order)
    parts = [F.col(token_col)] + [
        F.lead(token_col, i).over(w) for i in range(1, n)
    ]
    # gram and the window-end sentinel must come out of the SAME projection:
    # filtering first would re-evaluate the leads over the filtered rows
    # (shorter sessions → wrong neighbors)
    seq = sess.select(
        F.concat_ws(sep, *parts).alias("ngram"), parts[-1].alias("__last")
    )
    return (
        seq.filter(F.col("__last").isNotNull())
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(top_k)
    )


def ohlc_bars(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    tie_col: str | None = None,
    freq: str = "day",
) -> DataFrame:
    """Per-key time bars: open/high/low/close + volume + count per
    ``freq`` bucket (the OHLC resample every metrics store grows
    eventually — "first/last/extremes of the metric per user per day").

    Open/close are the first/last value in ``(ts, tie_col)`` order —
    pass a unique tie column or same-timestamp opens are engine-
    arbitrary. Only buckets with data appear (no calendar spine — compose
    with :func:`resample_daily_ffill` for gap-filled series).

    Scale shape: ONE shuffle on (key, bucket): the first/last window and
    the final groupBy share the same partitioning, so Catalyst plans the
    agg on the window's exchange. min/max/sum partial-aggregate map-side;
    first/last are window-computed (no ``min_by`` — DuckDB's ``arg_min``
    on a composite key has no engine-stable NULL/tie contract to oracle
    against).
    """
    from ..functions import dsum

    bucket = F.date_trunc(freq, F.col(ts_col)).alias("bucket")
    order = [F.asc(ts_col)] + ([F.asc(tie_col)] if tie_col else [])
    base = df.select(
        F.col(key_col), bucket, F.col(ts_col), F.col(value_col),
        *([F.col(tie_col)] if tie_col else []),
    )
    w = (
        Window.partitionBy(key_col, "bucket")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    framed = base.select(
        key_col,
        "bucket",
        F.first(value_col).over(w).alias("__open"),
        F.last(value_col).over(w).alias("__close"),
        F.col(value_col),
    )
    # __open/__close are constant within each group, so min() reads them
    # back partial-aggregably (first() in an agg has no determinism
    # contract worth relying on, even when it happens to be safe)
    return framed.groupBy(key_col, "bucket").agg(
        F.min("__open").alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        F.min("__close").alias("close"),
        dsum(F.col(value_col)).alias("volume"),
        F.count(F.lit(1)).alias("n_events"),
    )


def weighted_quantile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    q: float,
    *,
    out_col: str = "weighted_quantile",
) -> DataFrame:
    """Exact per-group WEIGHTED quantile: the smallest value whose
    cumulative weight reaches ``q`` of the group's total — the
    lower-weighted-median family (price weighted by quantity, latency
    weighted by traffic). Neither engine ships this as a builtin, so the
    contract is pinned here: cumulative weights are decimal-summed
    (order-insensitive → same-value ties can't flip the crossing row),
    and the threshold comparison is ``cum ≥ q·total`` in doubles.

    Output: one row per group, ``group_cols + [out_col, total_weight]``.
    Rows with NULL value or NULL/non-positive weight are ignored.

    Scale shape: ONE shuffle on the group key — the cumulative window and
    the per-group total (window over the same partitioning) reuse it, and
    the crossing-row pick is a filter + min aggregate on the same keys
    again. No global sort; per-group sort only, which is the operator's
    intrinsic cost.
    """
    from ..functions import dsum

    clean = df.filter(
        F.col(value_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    )
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy(F.asc(value_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*group_cols)
    dec = F.col(weight_col).cast("decimal(28,4)")
    cum = F.sum(dec).over(wcum).cast("double")
    tot = F.sum(dec).over(wall).cast("double")
    crossed = clean.select(
        *group_cols,
        F.col(value_col).alias("__v"),
        cum.alias("__cum"),
        tot.alias("__tot"),
    ).filter(F.col("__cum") >= F.lit(float(q)) * F.col("__tot"))
    return crossed.groupBy(*group_cols).agg(
        F.min("__v").alias(out_col),
        F.min("__tot").alias("total_weight"),
    )


def transition_matrix(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    token_col: str,
    *,
    tie_col: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """First-order Markov transition matrix of a per-key event stream:
    for every observed (from, to) consecutive pair, the count and the
    row-conditional probability P(to | from) — the sequence-model summary
    behind next-action prediction and anomaly scoring ("this user's path
    had probability 1e-9").

    Transitions never cross keys. Ordering is ``(ts, tie_col)`` — pass a
    unique tie column for a total order. Output: (from_token, to_token,
    n, prob), where prob sums to 1 per from_token by construction
    (exact integer ratio, rounded).

    Scale shape: one key shuffle for the lead window, then a map-side-
    combined count to |vocab|² rows; the per-from totals are a window
    over that dimension-sized aggregate, not over events.
    """
    order = [F.asc(ts_col)] + ([F.asc(tie_col)] if tie_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    pairs = df.select(
        F.col(token_col).alias("from_token"),
        F.lead(token_col).over(w).alias("to_token"),
    ).filter(F.col("to_token").isNotNull())
    counts = pairs.groupBy("from_token", "to_token").agg(
        F.count(F.lit(1)).alias("n")
    )
    wfrom = Window.partitionBy("from_token")
    return counts.select(
        "from_token",
        "to_token",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n") / F.sum("n").over(wfrom), round_digits).alias("prob"),
    )


def weighted_quantile_hist(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    q: float,
    *,
    bins: int = 1024,
    out_col: str = "weighted_quantile",
) -> DataFrame:
    """EXACT weighted quantile without the per-group sort — the 100 TB
    form of :func:`weighted_quantile` for FEW-group corpora, where the
    window form's per-group sort serializes onto |groups| tasks (measured
    28.5 s vs the histogram path at 20 M rows × 5 groups; SCALE.md).

    Same answer, different plan: (1) per-group min/max/total aggregate,
    (2) fixed-``bins`` weighted histogram over the group's own [min, max]
    span, (3) the CROSSING bin — the smallest whose cumulative weight
    reaches ``q·total`` — found on the |groups|×bins table, and (4) only
    rows landing in that bin are re-scanned; their reduction adds the
    bin-prefix weight back. The crossing VALUE provably lies in the
    crossing bin (bin index is monotone in value and equal values share a
    bin), so step 4's candidate set is ~1/bins of each group.

    Cumulative weights stay DECIMAL end to end — bin prefix + within-bin
    cumsum is then bit-identical to the window form's single decimal
    cumsum, and the double-cast threshold comparison matches it exactly
    (equivalence-tested). Three scans instead of one sort: the right
    trade whenever |groups| ≪ cores.
    """
    from ..functions import dsum

    wdec = F.col("__w").cast("decimal(28,4)")
    clean = df.filter(
        F.col(value_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    ).select(*group_cols, F.col(value_col).alias("__v"), F.col(weight_col).alias("__w"))

    spans = clean.groupBy(*group_cols).agg(
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
        dsum(F.col("__w")).alias("__tot"),
    )
    # pin the |groups|-row aggregate through the driver: it feeds THREE
    # downstream subplans, and a lazy plan would re-scan the fact table
    # for each (measured 6 scans → 3). Bounded by |groups| — the
    # few-group regime is exactly what this operator exists for.
    # Exchange reuse can't dedup the consumers (different join wrappers),
    # so the check-ReusedExchange-first rule still says pin (r11).
    from ..functions import pin_local

    spans = pin_local(spans)
    # bin the value against ITS group's span (degenerate span → bin 0)
    with_span = clean.join(F.broadcast(spans), group_cols)
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(bins))
    raw = F.when(
        F.col("__hi") > F.col("__lo"),
        F.floor((F.col("__v") - F.col("__lo")) / width),
    ).otherwise(F.lit(0))
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("int")
    hist = with_span.groupBy(*group_cols, bin_.alias("__b")).agg(
        F.sum(wdec).alias("__bw")  # decimal — NOT dsum's double cast
    )
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy(F.asc("__b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("__bw").over(wcum)  # decimal cumulative over ≤ bins rows
    staged = (
        hist.join(F.broadcast(spans.select(*group_cols, "__tot")), group_cols)
        .select(
            *group_cols,
            "__b",
            (cum - F.col("__bw")).alias("__below"),  # decimal bin prefix
            cum.cast("double").alias("__cumd"),
            "__tot",
        )
        .filter(F.col("__cumd") >= F.lit(float(q)) * F.col("__tot"))
    )
    crossing = staged.groupBy(*group_cols).agg(
        F.min_by(F.struct("__b", "__below"), "__b").alias("__cross"),
        F.min("__tot").alias("__tot"),
    ).select(
        *group_cols,
        F.col("__cross.__b").alias("__cb"),
        F.col("__cross.__below").alias("__below"),
        "__tot",
    )
    # same pinning: crossing is |groups| rows and gates the pass-3 scan —
    # leaving it lazy would re-run the histogram pass inside that plan
    crossing = pin_local(crossing)
    # pass 3: only the crossing bin's rows; the within-bin decimal cumsum
    # plus the decimal bin prefix equals the window form's global cumsum
    cand = (
        with_span.drop("__tot")
        .withColumn("__b", bin_)
        .join(F.broadcast(crossing), group_cols)
        .filter(F.col("__b") == F.col("__cb"))
    )
    wrow = (
        Window.partitionBy(*group_cols)
        .orderBy(F.asc("__v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rcum = (F.col("__below") + F.sum(wdec).over(wrow)).cast("double")
    hit = cand.select(
        *group_cols, "__v", "__tot", rcum.alias("__rcum")
    ).filter(F.col("__rcum") >= F.lit(float(q)) * F.col("__tot"))
    return hit.groupBy(*group_cols).agg(
        F.min("__v").alias(out_col),
        F.min("__tot").alias("total_weight"),
    )


def active_user_counts_hll(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    windows: tuple[int, ...] = (1, 7, 28),
    lg_k: int = 12,
) -> DataFrame:
    """The 100 TB form of :func:`active_user_counts`: DAU/WAU/MAU from
    MERGEABLE daily HLL sketches (Spark's DataSketches
    ``hll_sketch_agg`` / ``hll_union_agg``) instead of distinct key-day
    rows. The event log reduces to ONE ~KB sketch per day in a single
    map-side-combinable pass; each trailing-N count is then a union of
    ≤ N sketch rows — shuffle volume is |days|·N·sketch_bytes,
    INDEPENDENT of user cardinality (the exact path's range join fans
    out |active keys| rows per day, which at 1e9 users is the whole
    point of not doing it).

    Estimates carry the sketch's ~1.6 % relative error at ``lg_k=12``
    (tighten with ``lg_k``). Returns (day, active_1d, …) for every day
    in the data's span, 0 for gap days.
    """
    if not windows or any(w < 1 for w in windows):
        raise ValueError("windows must be positive day counts")
    daily = (
        df.select(
            F.col(key_col).alias("__k"),
            F.date_trunc("day", F.col(ts_col)).cast("date").alias("__d"),
        )
        .groupBy("__d")
        .agg(F.hll_sketch_agg(F.col("__k"), F.lit(lg_k)).alias("__sk"))
    )
    spine = daily.agg(F.min("__d").alias("__lo"), F.max("__d").alias("__hi")).select(
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("day")
    )
    out = spine
    for w in windows:
        cnt = (
            spine.join(
                daily,
                (daily["__d"] <= spine["day"])
                & (daily["__d"] > F.date_sub(spine["day"], w)),
            )
            .groupBy("day")
            .agg(
                F.hll_sketch_estimate(
                    F.hll_union_agg(F.col("__sk"), F.lit(True))
                ).alias(f"active_{w}d")
            )
        )
        out = out.join(cnt, "day", "left")
    return out.select(
        "day",
        *[
            F.coalesce(F.col(f"active_{w}d"), F.lit(0)).cast("long").alias(f"active_{w}d")
            for w in windows
        ],
    ).orderBy("day")


def daily_value_percentiles(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    percentiles: tuple[float, ...] = (0.5, 0.95, 0.99),
    round_digits: int = 6,
) -> DataFrame:
    """Per-day exact interpolated percentile bands of a metric (p50/p95/
    p99 by default) — the latency/value SLO dashboard row.

    Scale shape: one shuffle on the day key; the exact percentile buffers
    each day's values on its reducer — the operator's intrinsic cost,
    bounded by rows-per-day, parallel across days. Swap in
    ``percentile_approx`` (same call shape, mergeable KLL state) when a
    single day outgrows a reducer. Output: (day, n, p50, p95, p99 …).
    """
    day = F.date_trunc("day", F.col(ts_col)).cast("date").alias("day")
    arr = "array(" + ", ".join(repr(float(p)) for p in percentiles) + ")"
    pct = F.expr(f"percentile({value_col}, {arr})")
    cols = [
        F.round(F.element_at(F.col("__p"), i + 1), round_digits).alias(
            f"p{100 * p:g}".replace(".", "_")  # 0.5→p50, 0.99→p99, 0.999→p99_9
        )
        for i, p in enumerate(percentiles)
    ]
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(day)
        .agg(F.count(F.lit(1)).cast("long").alias("n"), pct.alias("__p"))
        .select("day", "n", *cols)
    )


def hourly_seasonality(
    df: DataFrame,
    ts_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Hour-of-day activity profile with a chi-square uniformity test —
    "is this log diurnal or a bot?": one row per hour 0–23 with the
    count, share, and the hour's chi-square contribution against the
    uniform expectation (sum the column, compare to χ²₂₃). Zero-count
    hours still appear. One 24-group count; spine and total broadcast.
    """
    spark = df.sparkSession
    obs = (
        df.select(F.hour(F.col(ts_col)).alias("hour"))
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = spark.range(24).select(F.col("id").cast("int").alias("hour"))
    total = obs.agg(F.sum("n").alias("__t"))
    exp = F.col("__t") / F.lit(24.0)
    return (
        spine.join(F.broadcast(obs), "hour", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "hour",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.round(F.coalesce("n", F.lit(0)) / F.col("__t"), round_digits).alias("share"),
            F.round(
                F.pow(F.coalesce("n", F.lit(0)) - exp, F.lit(2.0)) / exp, round_digits
            ).alias("chi2_contrib"),
        )
    )


def conversion_latency_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    from_type: str,
    to_type: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Time-to-convert distribution: among keys whose journey starts with
    ``from_type``, how many ever reach ``to_type`` AT OR AFTER that start
    (:func:`funnel` semantics), and how long it takes — one row with
    ``n_started``, ``n_converted``, ``conv_rate``, decimal-exact
    ``mean_latency_s``, exact interpolated ``median_latency_s`` /
    ``p90_latency_s`` and ``max_latency_s`` (whole seconds, the
    ``unix_timestamp`` floor both engines share).

    Scale shape: two filtered min-aggregates + a per-key join (funnel's
    shape); the final rollup reduces |converted keys| latencies — the
    exact percentile buffers those on one aggregator (percentile_approx
    swap when conversions outgrow it).
    """
    from ..functions import davg

    per = funnel(df, key_col, ts_col, type_col, [from_type, to_type])
    lat = (
        F.unix_timestamp(F.col("reached_2")) - F.unix_timestamp(F.col("reached_1"))
    ).alias("__lat")
    staged = per.select(lat)
    pct = F.expr("percentile(__lat, array(0.5, 0.9))")
    return staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_started"),
        F.count("__lat").cast("long").alias("n_converted"),
        F.round(F.count("__lat") / F.count(F.lit(1)), round_digits).alias("conv_rate"),
        F.round(davg(F.col("__lat")), round_digits).alias("mean_latency_s"),
        F.round(F.element_at(pct, 1), round_digits).alias("median_latency_s"),
        F.round(F.element_at(pct, 2), round_digits).alias("p90_latency_s"),
        F.max("__lat").cast("long").alias("max_latency_s"),
    )


def survival_curve(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    censor_days: int = 7,
    round_digits: int = 6,
) -> DataFrame:
    """Kaplan-Meier survival estimate of per-key LIFETIME (first to last
    activity, whole days) with right-censoring — the churn readout
    "what fraction of users are still active after t days": keys whose
    last event falls within ``censor_days`` of the corpus max timestamp
    are CENSORED (still alive; their lifetime is a lower bound), everyone
    else "died" at their observed duration. One row per observed duration
    t: (t_days, n_risk, n_events, n_censored, survival) with
    ``S(t) = Π_{u ≤ t} (1 − d_u / n_u)`` over event times.

    Exactness: counts are exact; the product runs as a CUMULATIVE window
    sum of 9-dp-rounded ``ln(1 − d/n)`` terms in DECIMAL(28,9) (exact,
    order-free) exponentiated once — identical doubles both engines.

    Scale shape: one per-key (first, last) aggregate — map-side combined
    — then everything runs on the |distinct durations| table (bounded by
    the corpus day span; the documented dimension-sized single-partition
    window).
    """
    ts = F.col(ts_col)
    # NULL timestamps carry no lifetime information, and a key with ONLY
    # NULL ts would produce a NULL duration whose sort position differs
    # between Spark (NULLS FIRST asc) and the oracle (NULLS LAST) —
    # desynchronizing the cumulative risk set. Drop them up front.
    spans = (
        df.filter(ts.isNotNull())
        .groupBy(key_col)
        .agg(
            F.min(F.unix_timestamp(ts)).alias("__first"),
            F.max(F.unix_timestamp(ts)).alias("__last"),
        )
    )
    horizon = df.agg(F.max(F.unix_timestamp(ts)).alias("__hmax"))
    staged = spans.crossJoin(F.broadcast(horizon)).select(
        F.floor((F.col("__last") - F.col("__first")) / 86400).alias("t_days"),
        (
            F.col("__last") > F.col("__hmax") - F.lit(censor_days * 86400)
        ).cast("int").alias("__censored"),
    )
    per_t = staged.groupBy("t_days").agg(
        F.sum(F.lit(1) - F.col("__censored")).cast("long").alias("n_events"),
        F.sum("__censored").cast("long").alias("n_censored"),
    )
    w_prev = (
        Window.orderBy(F.asc("t_days"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = Window.orderBy(F.asc("t_days")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = per_t.agg(F.sum(F.col("n_events") + F.col("n_censored")).alias("__n"))
    staged2 = per_t.crossJoin(F.broadcast(total)).withColumn(
        "n_risk",
        (
            F.col("__n")
            - F.coalesce(
                F.sum(F.col("n_events") + F.col("n_censored")).over(w_prev), F.lit(0)
            )
        ).cast("long"),
    )
    # d == n_risk means everyone still at risk died at t: S hits exactly 0
    # and ln(0) would poison the decimal sum — flag it and pin S(t)=0 from
    # that time on instead
    log_term = F.when(
        (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_risk")),
        F.round(F.log(F.lit(1.0) - F.col("n_events") / F.col("n_risk")), 9),
    ).otherwise(F.lit(0.0))
    died_out = F.max(
        (F.col("n_events") >= F.col("n_risk")).cast("int")
    ).over(w_cum)
    out = staged2.withColumn(
        "survival",
        F.round(
            F.when(died_out == 1, F.lit(0.0)).otherwise(
                F.exp(
                    F.sum(log_term.cast("decimal(28,9)")).over(w_cum).cast("double")
                )
            ),
            round_digits,
        ),
    )
    return out.select(
        F.col("t_days").cast("long"), "n_risk", "n_events", "n_censored", "survival"
    )


def markov_entropy_rate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    token_col: str,
    *,
    tie_col: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Entropy rate of the first-order Markov chain behind
    :func:`transition_matrix` — ``H = Σ_{s,t} (c_st/total)·(−ln(c_st/c_s·))``
    with the EMPIRICAL from-state distribution as the weighting: how
    predictable the next event is given the current one, in nats. One
    row: (n_transitions, n_states, entropy_rate, norm_entropy_rate) with
    the normalization ``/ ln(n_states)`` (NULL for a single-state chain).
    A perfectly deterministic chain scores 0; uniform chaos scores 1.

    Exactness: transition counts are exact; per-pair terms are
    9-dp-rounded doubles summed in DECIMAL(28,9); ln on identical
    doubles.

    Scale shape: one key shuffle for the lead window, then everything on
    the |vocab|² pair table.
    """
    order = [F.asc(ts_col)] + ([F.asc(tie_col)] if tie_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    pairs = df.select(
        F.col(token_col).alias("__f"),
        F.lead(token_col).over(w).alias("__t"),
    ).filter(F.col("__t").isNotNull())
    counts = pairs.groupBy("__f", "__t").agg(F.count(F.lit(1)).alias("__c"))
    wfrom = Window.partitionBy("__f")
    staged = counts.select(
        "__f",
        "__c",
        F.sum("__c").over(wfrom).alias("__cf"),
    )
    term = F.round(
        -(F.col("__c") / F.col("__cf")) * F.log(F.col("__c") / F.col("__cf")), 9
    )
    # weight each row term by its share of ALL transitions: Σ (c/total)·
    # (−ln(c/cf)) = Σ (cf/total)·(c/cf)·(−ln(c/cf)); fold total in at the
    # end so the decimal sum stays share-free and exact
    agg = staged.agg(
        F.sum("__c").cast("long").alias("n_transitions"),
        F.countDistinct("__f").cast("long").alias("n_states"),
        F.sum(
            (F.col("__cf") * term).cast("decimal(28,6)")
        ).cast("double").alias("__weighted"),
    )
    h = F.col("__weighted") / F.col("n_transitions")
    norm = F.when(
        F.col("n_states") > 1, h / F.log(F.col("n_states").cast("double"))
    )
    return agg.select(
        "n_transitions",
        "n_states",
        F.round(h, round_digits).alias("entropy_rate"),
        F.round(norm, round_digits).alias("norm_entropy_rate"),
    )


def cooccurrence_cosine(
    df: DataFrame,
    key_col: str,
    item_col: str,
    *,
    min_pair_keys: int = 1,
    round_digits: int = 6,
) -> DataFrame:
    """Item–item cosine similarity over the binary (key, item) incidence
    — the classic implicit-feedback collaborative-filtering kernel
    (``sim(a,b) = |K(a)∩K(b)| / √(|K(a)|·|K(b)|)``): unlike
    :func:`type_affinity`'s lift (a ratio vs independence that rewards
    rare pairs), cosine normalizes by item popularity geometrically, the
    form recommenders actually rank with.

    Returns (item_a, item_b, n_keys_both, cosine) for unordered pairs
    seen by ≥ ``min_pair_keys`` keys, item_a < item_b.

    Exactness: cosine is one double division of exact integers —
    ``√`` and ``/`` are correctly-rounded IEEE ops, identical on both
    engines; output rounds to ``round_digits``.

    Scale shape: identical to :func:`type_affinity` — DISTINCT
    (key, item) first, the pair self-join co-keyed on the key (one
    shuffle of the distinct set), item marginals broadcast. Pair
    fan-out is O(items-per-key²), bounded by basket size.
    """
    kt = (
        df.select(F.col(key_col).alias("__k"), F.col(item_col).alias("__t"))
        .filter(F.col("__k").isNotNull() & F.col("__t").isNotNull())
        .distinct()
    )
    marg = kt.groupBy(F.col("__t").alias("item_a")).agg(
        F.count(F.lit(1)).cast("long").alias("__na")
    )
    pairs = (
        kt.alias("x")
        .join(kt.alias("y"), "__k")
        .filter(F.col("x.__t") < F.col("y.__t"))
        .groupBy(F.col("x.__t").alias("item_a"), F.col("y.__t").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys_both"))
        .filter(F.col("n_keys_both") >= min_pair_keys)
    )
    margb = marg.select(F.col("item_a").alias("item_b"), F.col("__na").alias("__nb"))
    return pairs.join(F.broadcast(marg), "item_a").join(
        F.broadcast(margb), "item_b"
    ).select(
        "item_a",
        "item_b",
        "n_keys_both",
        F.round(
            F.col("n_keys_both")
            / F.sqrt(F.col("__na").cast("double") * F.col("__nb").cast("double")),
            round_digits,
        ).alias("cosine"),
    )
