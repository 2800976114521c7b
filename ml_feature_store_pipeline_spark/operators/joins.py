"""Join operators (SURVEY §2.D).

The reference contains zero joins — D1–D3 are degenerate forms (point
lookup, IN-list, retention anti-join). This module supplies the real join
surface a feature platform needs, Spark-first:

- equi joins go through ``df.join`` so Catalyst/AQE pick broadcast vs
  shuffled-hash vs sort-merge (with explicit hints where the caller knows
  better);
- the point-in-time **as-of join** — the canonical leakage-free
  training-set construction — is a union + window ``last(ignoreNulls)``:
  one shuffle on (key), no cross product, no per-group pandas. Spark has
  no native batch as-of (SURVEY §2.D build plan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS (reference D2's scalable form — B2's IN-list as a real join)."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS (reference D3 retention shape)."""
    return left.join(right, on, "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    strict: bool = False,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Point-in-time join: for each left row, the latest right row with
    ``right_ts <= left_ts`` (``<`` when ``strict``) for the same key.
    ``tolerance_seconds`` bounds feature staleness (pandas ``merge_asof``
    ``tolerance``): a match older than the bound is dropped — every value
    column comes back NULL, exactly as if no right row existed. Serving
    stacks use this to refuse features past their freshness SLA instead
    of silently training on stale state.

    Implementation: tag both sides, union on (key, ts), and take
    ``last(ignoreNulls=True)`` of ONE nullable struct holding all value
    columns, over a window ordered by (ts, side) — right rows sort before
    left rows at equal ts unless ``strict``. One shuffle on ``key``; state
    per row is O(value_cols). At 100 TB this beats per-group ``merge_asof``
    pandas by keeping everything JVM-side, and beats a range join by
    avoiding the O(n·m) candidate explosion.

    The WHOLE matched row is taken (true ASOF-join semantics, as in
    DuckDB/QuestDB): if the latest right row carries a NULL in one value
    column, that NULL surfaces — it is NOT back-filled from an older row.
    (A per-column ``last(ignoreNulls)`` fill would silently mix columns
    from different right rows.)

    Ties among right rows at equal (key, ts) are broken deterministically
    by the greatest ``value_cols`` tuple, so results are stable across
    runs, partitionings, and engines.

    SKEW CONTRACT: the window partitions by ``key`` only — a single hot
    key serializes its whole timeline into ONE task, and AQE cannot split
    a window partition. For hot-key workloads use
    :func:`asof_join_bucketed`, which is equivalent but partitions by
    (key, coarse time bucket).
    """
    unioned, lside = _asof_union(left, right, key=key, left_ts=left_ts,
                                 right_ts=right_ts, value_cols=value_cols, strict=strict,
                                 carry_ts=tolerance_seconds is not None)
    w = Window.partitionBy(key).orderBy("__ts", "__side", "__vals").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    filled = unioned.withColumn("__asof", F.last("__vals", ignorenulls=True).over(w))
    out = filled.filter(F.col("__side") == lside)
    return _asof_select(out, "__asof", left.columns, value_cols, tolerance_seconds)


def _asof_secs(col: Column) -> Column:
    """Epoch seconds (fractional) of a ts column of any supported type —
    numerics pass through the timestamp cast unchanged."""
    return col.cast("timestamp").cast("double")


def _asof_select(
    matched: DataFrame,
    match_col: str,
    left_cols: list[str],
    value_cols: list[str],
    tolerance_seconds: float | None,
):
    """Final projection shared by the plain and bucketed forms: value
    columns come from the matched struct, nulled ROW-WISE when the match
    is staler than ``tolerance_seconds`` (merge_asof ``tolerance``
    semantics: an over-age match is NO match — fields are never mixed
    across right rows)."""
    if tolerance_seconds is None:
        vals = [F.col(f"{match_col}.{c}").alias(c) for c in value_cols]
    else:
        ok = (
            _asof_secs(F.col("__ts")) - _asof_secs(F.col(f"{match_col}.__rts"))
        ) <= F.lit(float(tolerance_seconds))
        vals = [F.when(ok, F.col(f"{match_col}.{c}")).alias(c) for c in value_cols]
    return matched.select(*[c for c in left_cols], *vals)


def _asof_union(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    strict: bool,
    carry_ts: bool = False,
) -> tuple[DataFrame, int]:
    """Tag and union both sides for the window-based as-of strategies.

    Returns (unioned, left_side_marker). Columns added: ``__ts``,
    ``__side`` (right sorts before left at equal ts unless strict),
    ``__v_<c>`` carriers, and ``__vals`` — ONE nullable struct of all
    value columns that is NULL for left rows and populated for right
    rows, so ``last(__vals, ignoreNulls)`` picks the whole latest right
    ROW (true ASOF semantics; a NULL field inside it stays NULL).

    ``__vals`` doubles as the deterministic right-vs-right tiebreak:
    ordering by (ts, side, __vals) makes the greatest value tuple win at
    equal (key, ts) — a separate tiebreak struct would shuffle every
    value column TWICE for nothing. Left rows (NULL ``__vals``) sort
    among themselves arbitrarily, which never affects the fill.
    """
    lside, rside = (0, 1) if strict else (1, 0)
    l_tagged = left.withColumn("__ts", F.col(left_ts)).withColumn("__side", F.lit(lside))
    for c in value_cols:
        l_tagged = l_tagged.withColumn(f"__v_{c}", F.lit(None).cast(right.schema[c].dataType))
    r_tagged = right.select(
        F.col(key),
        F.col(right_ts).alias("__ts"),
        F.lit(rside).alias("__side"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    )
    for c in left.columns:
        if c not in (key,):
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = r_tagged.select(*l_tagged.columns).unionByName(l_tagged)
    fields = [F.col(f"__v_{c}").alias(c) for c in value_cols]
    if carry_ts:
        fields = [F.col("__ts").alias("__rts")] + fields
    unioned = unioned.withColumn(
        "__vals",
        F.when(F.col("__side") != lside, F.struct(*fields)),
    )
    return unioned, lside


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    strict: bool = False,
    bucket_seconds: int = 86_400,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Skew-safe as-of join: identical results to :func:`asof_join`
    (including its ``tolerance_seconds`` staleness bound), but
    windows partition by (key, floor(ts / bucket_seconds)) so a hot key's
    timeline splits across time buckets instead of serializing into one
    task.

    The big side is shuffled row-by-row exactly ONCE (the in-bucket
    window exchange). The carry table is built by a second pass whose
    shuffle is PARTIALLY AGGREGATED map-side — it moves one row per
    (key, bucket) per map task, not per input row:

    1. in-bucket match — ``last(__vals, ignoreNulls)`` over the
       (key, bucket) window finds each left row's match when a right row
       exists earlier in the same bucket; task size ≤ rows per
       (key, bucket);
    2. per-bucket summary ∪ carry grid in ONE ``groupBy(key, bucket)``:
       ``max_by(__vals, (ts, tie))`` picks the bucket's latest right row,
       and because ``max_by`` skips rows whose ordering expression is
       NULL, left rows contribute only their grouping key — a bucket with
       no right row surfaces with a NULL summary, which IS the carry
       grid (no separate distinct, no rescan);
    3. carry-forward window over the bucket-level table partitioned by
       key (#buckets rows per key, not #rows), then an equi-join back on
       (key, bucket) — AQE broadcasts it, and even unbroadcast the big
       side's window partitioning satisfies the join (no new exchange).

    Correctness at bucket boundaries: a carried-in right row is from a
    strictly earlier bucket, hence strictly earlier ts than every left ts
    in this bucket, so inclusive/strict semantics only matter within a
    bucket — where the __side ordering handles them.
    """
    unioned, lside = _asof_union(left, right, key=key, left_ts=left_ts,
                                 right_ts=right_ts, value_cols=value_cols, strict=strict,
                                 carry_ts=tolerance_seconds is not None)
    ts_secs = F.col("__ts").cast("timestamp").cast("long") if dict(unioned.dtypes)["__ts"].startswith("timestamp") else F.col("__ts").cast("long")
    unioned = unioned.withColumn("__bucket", F.floor(ts_secs / F.lit(bucket_seconds)))

    w_cur = Window.partitionBy(key, "__bucket").orderBy("__ts", "__side", "__vals").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = unioned.withColumn(
        "__loc", F.last("__vals", ignorenulls=True).over(w_cur)
    ).filter(F.col("__side") == lside)

    summary = unioned.groupBy(key, "__bucket").agg(
        F.max_by(
            "__vals",
            F.when(F.col("__vals").isNotNull(), F.struct(F.col("__ts"), F.col("__vals"))),
        ).alias("__last")
    )
    wc = Window.partitionBy(key).orderBy("__bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = summary.withColumn(
        "__carry", F.last("__last", ignorenulls=True).over(wc)
    ).select(key, "__bucket", "__carry")

    # whole-row merge: the in-bucket match (a full right row) wins; only
    # when the bucket had NO right row does the carried-in row apply —
    # coalescing at STRUCT level keeps ASOF row semantics (a NULL field in
    # the matched row stays NULL), identical to the plain form
    merged = local.join(carry, [key, "__bucket"], "left").withColumn(
        "__match", F.coalesce(F.col("__loc"), F.col("__carry"))
    )
    return _asof_select(merged, "__match", left.columns, value_cols, tolerance_seconds)


def _should_bucket_asof(max_key_rows: int, total_rows: int, shuffle_partitions: int,
                        threshold: float) -> bool:
    """Pure decision rule for :func:`asof_join_auto`: bucket when the
    hottest key's share of the union is ``threshold×`` an even per-task
    share — i.e. the single-task timeline the plain window would build for
    that key is predicted to be a straggler."""
    if total_rows == 0:
        return False
    return (max_key_rows / total_rows) * shuffle_partitions >= threshold


def asof_join_auto(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    strict: bool = False,
    bucket_seconds: int = 86_400,
    skew_threshold: float = 4.0,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join that picks :func:`asof_join` vs :func:`asof_join_bucketed`
    from a measured key-skew profile, so uniform workloads don't pay the
    bucketed form's carry-pass insurance (~1.7× on unskewed data) and hot-key
    workloads don't straggle on a single window task.

    Probe cost: ONE partial-aggregated count-by-key over the union of both
    sides' key columns (the same shuffle key the join itself uses, carrying
    counts only) collapsed to a single driver row — the 2-column scan is a
    small fraction of the join that follows, and at 100 TB it's exactly the
    pre-flight a planner would run. Decision: bucket when the hottest key
    holds ≥ ``skew_threshold`` tasks' worth of the union's rows
    (:func:`_should_bucket_asof`), i.e. when the plain window's per-key
    task is predicted to straggle. Both branches return IDENTICAL results
    (shared-oracle + property tested), so the choice is pure performance.
    """
    keys = left.select(F.col(key)).unionAll(right.select(F.col(key)))
    probe = (
        keys.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("max_n"), F.sum("__n").alias("total"))
        .collect()[0]
    )
    partitions = int(left.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    kw = dict(key=key, left_ts=left_ts, right_ts=right_ts, value_cols=value_cols,
              strict=strict, tolerance_seconds=tolerance_seconds)
    if _should_bucket_asof(probe["max_n"] or 0, probe["total"] or 0, partitions, skew_threshold):
        return asof_join_bucketed(left, right, bucket_seconds=bucket_seconds, **kw)
    return asof_join(left, right, **kw)


def band_join(
    fact: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Range (band) join: match ``fact.value_col`` into [lo, hi) intervals.

    The band table is small by construction ⇒ broadcast nested-loop with a
    range predicate — no shuffle of the fact side. For large interval
    tables, bucketize both sides on interval width and equi-join the bucket
    id first (not needed at current scales).
    """
    pred = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return fact.join(F.broadcast(bands), pred, "left")


def interval_join_bucketed(
    fact: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    *,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """Range join against an interval table too large to broadcast.

    :func:`band_join` is a broadcast nested-loop — right for small band
    tables, impossible when the interval side is data-scale (IP ranges,
    genomic regions, maintenance windows). This form turns the range
    predicate into an equi-join: each interval explodes into the coarse
    buckets it overlaps (``floor(lo/w) .. floor(hi/w)``), facts map to
    exactly one bucket, and the exact [lo, hi) predicate filters after the
    bucket equi-join. Shuffle is by bucket id; per-interval fan-out is
    ``⌈width/w⌉``, so pick ``bucket_width`` near the typical interval width
    (fan-out ~2, candidate precision high).
    """
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    w = F.lit(bucket_width)
    fb = fact.withColumn("__b", F.floor(F.col(value_col) / w))
    ib = intervals.withColumn(
        "__bi",
        F.explode(F.sequence(F.floor(F.col(lo_col) / w), F.floor(F.col(hi_col) / w))),
    )
    # the range predicate joins with the bucket equality (not a post-filter)
    # so outer variants keep their unmatched rows; a fact row meets each
    # interval in at most one bucket instance, so no dedup is needed
    cond = (
        (F.col("__b") == F.col("__bi"))
        & (F.col(value_col) >= F.col(lo_col))
        & (F.col(value_col) < F.col(hi_col))
    )
    return fb.join(ib, cond, how).drop("__b", "__bi")
