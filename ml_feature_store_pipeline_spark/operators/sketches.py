"""Deterministic, mergeable sketch operators (beyond-reference; north-star
"novel sketch" family).

Both sketches derive their randomness from ``md5`` of the value itself, not
an engine RNG — so results are reproducible run-to-run, identical across
engines (the DuckDB oracles replay them bit-for-bit), and independent of
partitioning. The md5→uniform recipe uses the first 13 hex digits = 52
bits, which is exactly double-mantissa-sized: the integer is exact in a
double in BOTH engines and the final division by 16^13 is a power-of-two
scale (also exact), so the uniforms are bit-identical everywhere.

- :func:`kmv_distinct` — K-Minimum-Values cardinality estimator (the
  classic bottom-k / Theta-sketch idea, Bar-Yossef et al. 2002): keep the
  k smallest hash fractions; estimate N ≈ (k−1)/h_(k). Mergeable: the
  bottom-k of a union is the bottom-k of the merged bottom-k sets, so
  per-partition partials combine losslessly — which is exactly what
  Spark's ``TakeOrderedAndProject`` does here (partial top-k per
  partition, single merge; no full shuffle, no full sort).
- :func:`weighted_sample` — weighted sampling without replacement
  (Efraimidis–Spirakis A-Res): per-row key ln(u)/w, take the k largest.
  Same TakeOrdered shape: one partial top-k per partition + merge.

Scale: both reduce arbitrarily large inputs to k rows with map-side
partial selection — the shuffle carries at most k rows per partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import local_frame

#: 16^13 = 2^52: the largest hex-prefix whose integer value is exact in a
#: double — the whole md5→uniform pipeline stays bit-identical across
#: engines (see module docstring).
_HASH_DENOM = float(16**13)


def hash_fraction(col: Column) -> Column:
    """Deterministic uniform in [0, 1): md5 of the value's string form,
    first 13 hex digits as an integer, scaled by 16^13. Bit-identical in
    Spark and DuckDB (see :func:`hash_fraction_sql`)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 13), 16, 10).cast("double")
        / F.lit(_HASH_DENOM)
    )


def hash_fraction_sql(expr: str) -> str:
    """The DuckDB twin of :func:`hash_fraction` over SQL expression ``expr``.

    DuckDB has no base-16 string→int conversion, so the 13 hex digits are
    folded positionally: digit_i · 16^(12−i). Every intermediate is an
    exact-in-double integer < 2^52, so the sum equals Spark's ``conv``
    exactly.
    """
    return (
        "(list_sum(list_transform(range(13), i -> "
        f"(strpos('0123456789abcdef', substr(md5(CAST(({expr}) AS VARCHAR)), i + 1, 1)) - 1)"
        " * power(16, 12 - i))) / power(16, 13))"
    )


def kmv_distinct(df: DataFrame, col: str, *, k: int = 256) -> DataFrame:
    """KMV cardinality estimate of ``col``: one row
    ``(k_seen, max_frac, distinct_est)``.

    ``k_seen < k`` means the hash universe was smaller than the sketch —
    the estimate is then the exact distinct count. Estimator:
    (k−1)/h_(k), the unbiased bottom-k form. Relative error ~ 1/sqrt(k−2)
    (k=256 → ~6%).

    Plan shape: distinct hash fractions (one hash-agg), then
    ``TakeOrderedAndProject`` for the bottom-k — partial per partition,
    merged once; nothing proportional to N crosses the network.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    h = df.select(hash_fraction(F.col(col)).alias("h")).distinct()
    bottom = h.orderBy("h").limit(k)
    return bottom.agg(
        F.count(F.lit(1)).alias("k_seen"),
        F.round(F.max("h"), 12).alias("max_frac"),
        F.round(
            F.when(F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double")).otherwise(
                F.lit(float(k - 1)) / F.max("h")
            ),
            4,
        ).alias("distinct_est"),
    )


def kmv_distinct_sql(table_expr: str, expr: str, *, k: int = 256) -> str:
    """DuckDB oracle for :func:`kmv_distinct` (same estimator, same hash)."""
    frac = hash_fraction_sql(expr)
    return f"""
    WITH h AS (SELECT DISTINCT {frac} AS h FROM {table_expr}),
    bottom AS (SELECT h FROM h ORDER BY h LIMIT {k})
    SELECT CAST(COUNT(*) AS BIGINT) AS k_seen,
           ROUND(MAX(h), 12) AS max_frac,
           ROUND(CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
                      ELSE {float(k - 1)} / MAX(h) END, 4) AS distinct_est
    FROM bottom
    """


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    *,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-Res,
    Efraimidis–Spirakis 2006): per row, key = ln(u)/w with u =
    ``hash_fraction(id)``; the k largest keys win. P(row in sample) is
    proportional-to-weight without replacement. Rows with weight <= 0 or
    null are excluded (they can never win a weighted draw).

    Deterministic given the data — reruns and engines agree on everything
    except exact ln() ulps; the id tiebreak pins the order when keys tie.
    Plan: ``TakeOrderedAndProject`` — per-partition partial top-k, one
    merge, no full sort.
    """
    u = hash_fraction(F.col(id_col))
    key = F.log(u) / F.col(weight_col).cast("double")
    out = (
        df.filter(F.col(weight_col) > 0)
        .select(F.col(id_col), F.col(weight_col), key.alias("__key"))
        .orderBy(F.col("__key").desc(), F.col(id_col).asc())
        .limit(k)
    )
    return out.select(id_col, weight_col)


def weighted_sample_sql(
    table_expr: str, id_expr: str, weight_expr: str, *, k: int
) -> str:
    """DuckDB oracle for :func:`weighted_sample`."""
    frac = hash_fraction_sql(id_expr)
    return f"""
    SELECT {id_expr}, {weight_expr}
    FROM {table_expr}
    WHERE {weight_expr} > 0
    ORDER BY LN({frac}) / CAST({weight_expr} AS DOUBLE) DESC, {id_expr} ASC
    LIMIT {k}
    """


def histogram_state(
    df: DataFrame, col: str, *, lo: Column | float, hi: Column | float, n_buckets: int = 256
) -> DataFrame:
    """Fixed-width histogram state over ``[lo, hi]``: one row per non-empty
    bucket ``(bucket, n)``. The mergeable quantile/distribution sketch —
    bucket counts are monoids, so daily states union+sum into monthly
    exactly (unlike exact ``percentile``, which must hold every value).
    One partial-aggregated groupBy; values outside [lo, hi] clamp into the
    edge buckets; nulls are dropped.
    """
    lo_c = lo if isinstance(lo, Column) else F.lit(float(lo))
    hi_c = hi if isinstance(hi, Column) else F.lit(float(hi))
    span = hi_c.cast("double") - lo_c.cast("double")
    frac = F.when(span > 0, (F.col(col).cast("double") - lo_c) / span).otherwise(F.lit(0.0))
    b = F.least(
        F.greatest(F.floor(frac * n_buckets).cast("long"), F.lit(0)),
        F.lit(n_buckets - 1),
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def quantile_from_histogram(
    state: DataFrame, qs: list[float], *, lo: float, hi: float, n_buckets: int = 256
) -> DataFrame:
    """Interpolated quantile estimates from a histogram state: one row per
    requested q with ``(q, est)``. Error is bounded by one bucket width —
    the knob is ``n_buckets``, not data size.

    Estimator: find the bucket where the running count crosses ``q*N``,
    then interpolate linearly inside it (assumes uniform within-bucket
    mass, the standard histogram quantile). All double arithmetic in a
    fixed order, so Spark and an SQL twin agree bit-for-bit. The state is
    at most ``n_buckets`` rows — the window cumsum is driver-trivial but
    stays distributed for composability.
    """
    cum = _cum_counts(state)
    width = (hi - lo) / n_buckets
    return _interpolate_quantiles(cum, qs, lo=F.lit(float(lo)), width=F.lit(width))


def _cum_counts(state: DataFrame) -> DataFrame:
    """Running + grand totals over a histogram state. The state is at most
    ``n_buckets`` rows, so the unpartitioned window is a non-issue."""
    from pyspark.sql.window import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return state.select(
        "bucket", "n", F.sum("n").over(w).alias("cum"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )


def _interpolate_quantiles(cum: DataFrame, qs: list[float], *, lo: Column, width: Column) -> DataFrame:
    """Join the (tiny) cumulative state against the requested quantiles and
    pick, per q, the first bucket whose running count crosses ``q*N`` — a
    broadcast join + min_by instead of one filter/limit branch per q, so
    the histogram state (and anything upstream of it) is evaluated once
    regardless of how many quantiles are requested.

    The quantile list is the LEFT side of an outer join, so an empty/all-
    null input still emits one ``(q, NULL)`` row per requested quantile —
    the same contract as the SQL oracle's scalar subquery (an inner join
    would silently return 0 rows on empty state)."""
    qdf = local_frame(cum.sparkSession, [(float(q),) for q in qs], "q double")
    hit = (
        qdf.join(F.broadcast(cum), F.col("cum") >= F.col("q") * F.col("total"), "left")
        .groupBy("q")
        .agg(
            F.min_by(
                F.struct(
                    F.col("bucket"), F.col("n"), F.col("cum"), F.col("total"),
                    lo.alias("lo"), width.alias("width"),
                ),
                F.col("bucket"),
            ).alias("h")
        )
    )
    return hit.select(
        "q",
        (
            F.col("h.lo")
            + (
                F.col("h.bucket").cast("double")
                + (F.col("q") * F.col("h.total") - (F.col("h.cum") - F.col("h.n"))) / F.col("h.n")
            )
            * F.col("h.width")
        ).alias("est"),
    )


def histogram_quantile_sql(
    table_expr: str, expr: str, qs: list[float], *, lo_sql: str, hi_sql: str, n_buckets: int = 256
) -> str:
    """DuckDB oracle: the same state + interpolation, lo/hi from scalar
    subqueries so both engines derive bounds from the data identically."""
    q_rows = ", ".join(f"({float(q)})" for q in qs)
    return f"""
    WITH bounds AS (SELECT CAST({lo_sql} AS DOUBLE) AS lo, CAST({hi_sql} AS DOUBLE) AS hi),
    st AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(
               CASE WHEN hi - lo > 0 THEN (CAST({expr} AS DOUBLE) - lo) / (hi - lo) ELSE 0.0 END
               * {n_buckets}) AS BIGINT), 0), {n_buckets - 1}) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM {table_expr}, bounds WHERE {expr} IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT bucket, n,
             SUM(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(n) OVER () AS total
      FROM st
    ),
    qq AS (SELECT q FROM (VALUES {q_rows}) AS v(q))
    SELECT q,
           (SELECT lo + (CAST(bucket AS DOUBLE) + (q * total - (cum - n)) / n)
                        * ((hi - lo) / {n_buckets})
            FROM cum, bounds
            WHERE cum >= q * total ORDER BY bucket LIMIT 1) AS est
    FROM qq
    """


def histogram_quantiles(
    df: DataFrame, col: str, qs: list[float], *, n_buckets: int = 256
) -> DataFrame:
    """End-to-end histogram quantiles with data-derived bounds: min/max agg
    (broadcast — no driver collect), one histogram pass, interpolated
    estimates. The one-job composition of :func:`histogram_state` +
    :func:`quantile_from_histogram` for when you don't need to persist the
    mergeable state."""
    bounds = df.agg(
        F.min(F.col(col)).cast("double").alias("__lo"),
        F.max(F.col(col)).cast("double").alias("__hi"),
    )
    state = histogram_state(
        df.crossJoin(F.broadcast(bounds)), col,
        lo=F.col("__lo"), hi=F.col("__hi"), n_buckets=n_buckets,
    )
    cum = _cum_counts(state).crossJoin(F.broadcast(bounds))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    return _interpolate_quantiles(cum, qs, lo=F.col("__lo"), width=width)


def cms_bucket(seed: Column | int, col: Column, *, width: int) -> Column:
    """Count-min bucket for one hash row: md5("seed:value") first 13 hex
    digits mod width. Same exact-in-double trick as :func:`hash_fraction`,
    so Spark and DuckDB agree on every bucket."""
    s = seed if isinstance(seed, Column) else F.lit(int(seed))
    h = F.md5(F.concat_ws(":", s.cast("string"), col.cast("string")))
    return F.conv(F.substring(h, 1, 13), 16, 10).cast("long") % width


def cms_bucket_sql(seed_expr: str, expr: str, *, width: int) -> str:
    """DuckDB twin of :func:`cms_bucket` (positional hex fold, see
    :func:`hash_fraction_sql`)."""
    return (
        "(CAST(list_sum(list_transform(range(13), i -> "
        "(strpos('0123456789abcdef', substr("
        f"md5(CAST(({seed_expr}) AS VARCHAR) || ':' || CAST(({expr}) AS VARCHAR))"
        ", i + 1, 1)) - 1) * power(16, 12 - i))) AS BIGINT)"
        f" % {width})"
    )


def cms_state(df: DataFrame, col: str, *, depth: int = 4, width: int = 512) -> DataFrame:
    """Count-min sketch state over ``col``: one row per touched cell
    ``(seed, bucket, n)`` — at most ``depth*width`` rows no matter how big
    the input. Counts are monoids, so per-partition/per-day states
    union+sum into the exact combined sketch (same mergeability argument
    as :func:`histogram_state`).

    Plan shape: explode ×depth, then one partial-aggregated groupBy — the
    map-side combine collapses every partition to ≤ depth·width cells, so
    the shuffle is O(depth·width·partitions), independent of row count.
    Nulls are dropped (they can't be queried anyway).
    """
    seeds = F.array([F.lit(i) for i in range(depth)])
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.explode(seeds).alias("seed"), F.col(col).alias("__v"))
        .select("seed", cms_bucket(F.col("seed"), F.col("__v"), width=width).alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_estimate(
    state: DataFrame, keys: DataFrame, key_col: str, *, depth: int = 4, width: int = 512
) -> DataFrame:
    """Point-frequency estimates from a count-min state: for each row of
    ``keys``, est = min over hash rows of the cell count (Cormode &
    Muthukrishnan 2005 — never under-counts, over-counts only on
    collisions). Keeps every ``keys`` column and appends ``n_est``.

    The state is ≤ depth·width rows — broadcast — so probing N keys is one
    scan of ``keys`` with a broadcast hash join; nothing shuffles.
    """
    seeds = F.array([F.lit(i) for i in range(depth)])
    probes = keys.select(
        F.struct(*keys.columns).alias("__row"),
        F.explode(seeds).alias("seed"),
        F.col(key_col).alias("__v"),
    ).select(
        "__row", "seed",
        cms_bucket(F.col("seed"), F.col("__v"), width=width).alias("bucket"),
    )
    joined = probes.join(F.broadcast(state), ["seed", "bucket"], "left")
    est = joined.groupBy("__row").agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).cast("long").alias("n_est")
    )
    return est.select("__row.*", "n_est")


# ---------------------------------------------------------------------------
# Bloom filter: deterministic, mergeable, probed via broadcast joins
# ---------------------------------------------------------------------------

#: Bits per bitmap word. 32 keeps every shifted value < 2^31 — exact in
#: BIGINT arithmetic in both engines with no sign-bit edge cases (1 << 63
#: differs between Spark's shiftleft and DuckDB's <<).
_BLOOM_WORD = 32



def _bloom_pos(j: int, col: Column, n_bits: int, hash_fn: str) -> Column:
    """Hash position j of a value: md5 (engine-portable, oracle-replayable)
    or xxhash64 (JVM-native, ~3x faster per the simhash measurement —
    Spark-private, so production-only). Both are deterministic across
    runs and partitionings; filters built with different hash_fns are NOT
    interchangeable.

    The md5 family derives ALL positions from ONE digest — position j is
    the j-th disjoint 8-hex (32-bit) window of md5(value) mod n_bits — so
    a depth-4 build/probe hashes each value once, not four times (the
    digest subexpression is shared across the four position expressions
    by codegen CSE). 32 hex chars / 8 per window caps depth at 4."""
    if hash_fn == "md5":
        if j >= 4:
            raise ValueError("md5 bloom positions support depth <= 4 (one 128-bit digest = four disjoint 32-bit windows); use hash_fn='xxhash64' for deeper filters")
        window = F.substring(F.md5(col.cast("string")), 1 + 8 * j, 8)
        return F.conv(window, 16, 10).cast("long") % n_bits
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(j), col.cast("string")), F.lit(n_bits)).cast("long")
    raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")


def _bloom_pos_sql(j: int, expr: str, n_bits: int) -> str:
    """DuckDB twin of the md5 position family (positional hex fold of the
    j-th 8-hex window — every intermediate exact in double < 2^32)."""
    return (
        "(CAST(list_sum(list_transform(range(8), i -> "
        "(strpos('0123456789abcdef', substr("
        f"md5(CAST(({expr}) AS VARCHAR)), {8 * j} + i + 1, 1)) - 1)"
        " * power(16, 7 - i))) AS BIGINT)"
        f" % {n_bits})"
    )


def bloom_state(
    df: DataFrame, col: str, *, n_bits: int = 1 << 16, depth: int = 4, hash_fn: str = "md5"
) -> DataFrame:
    """Bloom-filter bitmap over ``col``: one row per touched 32-bit word,
    ``(word, bits)`` — at most ``n_bits / 32`` rows no matter how big the
    input (Bloom 1970). Hash positions reuse :func:`cms_bucket`, so the
    filter is md5-deterministic: identical across runs, partitionings, and
    engines (the DuckDB oracle replays it bit-for-bit).

    Mergeable: words are a ``bit_or`` monoid, so per-partition / per-batch
    states union + ``bit_or`` into the exact combined filter — build a
    filter per ingest day, merge at read time.

    Plan shape: explode ×depth, then one partial-aggregated groupBy — the
    map-side combine collapses every partition to ≤ n_bits/32 words, so
    the shuffle is O(n_bits · partitions), independent of row count.
    """
    if n_bits % _BLOOM_WORD:
        raise ValueError(f"n_bits must be a multiple of {_BLOOM_WORD}")
    pos_cols = F.array(*[_bloom_pos(j, F.col(col), n_bits, hash_fn) for j in range(depth)])
    pos = df.filter(F.col(col).isNotNull()).select(F.explode(pos_cols).alias("pos"))
    return (
        pos.select(
            (F.col("pos") / _BLOOM_WORD).cast("long").alias("word"),
            (F.col("pos") % _BLOOM_WORD).cast("int").alias("__bit"),
        )
        .select("word", F.expr("shiftleft(CAST(1 AS BIGINT), __bit)").alias("__mask"))
        .groupBy("word")
        .agg(F.expr("bit_or(__mask)").cast("long").alias("bits"))
    )


def merge_bloom_states(*states: DataFrame) -> DataFrame:
    """Union per-batch bloom states into the filter of the combined input
    (``bit_or`` is associative + commutative, so any merge order agrees)."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy("word").agg(F.expr("bit_or(bits)").cast("long").alias("bits"))


def bloom_probe(
    df: DataFrame,
    state: DataFrame,
    col: str,
    *,
    n_bits: int = 1 << 16,
    depth: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Append ``bloom_pass`` to ``df``: true iff every hash position of
    ``col`` is set in ``state`` (no false negatives; false-positive rate
    ≈ (1 − e^(−depth·n/n_bits))^depth).

    Scale shape: the state is ≤ n_bits/32 rows — always broadcast — so the
    probe is ``depth`` broadcast hash joins, all map-side: the big side
    never shuffles and never changes row count. This is the runtime-filter
    pattern (prune a 100 TB fact scan with a bitmap built from a filtered
    dim) without waiting for Catalyst's own injected bloom.
    """
    # ALL word/bit indices in ONE projection before any join: the depth
    # position expressions share the md5 digest subexpression, and codegen
    # CSE only fires within a single project — interleaving them with the
    # joins recomputed the digest per probe join
    proj = [F.col(c) for c in df.columns]
    for j in range(depth):
        pos = _bloom_pos(j, F.col(col), n_bits, hash_fn)
        proj.append((pos / _BLOOM_WORD).cast("long").alias(f"__w{j}"))
        proj.append((pos % _BLOOM_WORD).cast("int").alias(f"__b{j}"))
    out = df.select(*proj)
    pass_cols = []
    # every join broadcasts the IDENTICAL state subplan (aliases only), so
    # the planner can reuse ONE BroadcastExchange — per-j column renames on
    # the build side would make the subplans differ and re-evaluate the
    # state depth times
    st = state.select("word", "bits")
    for j in range(depth):
        sj = st.alias(f"__bs{j}")
        out = (
            out.join(F.broadcast(sj), F.col(f"__w{j}") == F.col(f"__bs{j}.word"), "left")
            .withColumn(f"__bits{j}", F.col(f"__bs{j}.bits"))
            .drop(F.col(f"__bs{j}.word"))
            .drop(F.col(f"__bs{j}.bits"))
        )
        pass_cols.append(
            F.expr(f"(shiftright(coalesce(__bits{j}, CAST(0 AS BIGINT)), __b{j}) & 1) = 1")
        )
    passed = pass_cols[0]
    for c in pass_cols[1:]:
        passed = passed & c
    out = out.withColumn("bloom_pass", passed)
    drop = [f"__{p}{j}" for j in range(depth) for p in ("w", "b", "bits")]
    return out.drop(*drop)


def bloom_state_sql(table_expr: str, expr: str, *, n_bits: int = 1 << 16, depth: int = 4) -> str:
    """DuckDB twin of :func:`bloom_state` (same md5 positions, same words)."""
    # mirror bloom_state's isNotNull filter: a nullable key must not
    # contribute a spurious (NULL, NULL) word row to the oracle state
    parts = [
        f"SELECT {_bloom_pos_sql(j, expr, n_bits)} AS pos FROM {table_expr} WHERE ({expr}) IS NOT NULL"
        for j in range(depth)
    ]
    union = " UNION ALL ".join(parts)
    return (
        f"SELECT pos // {_BLOOM_WORD} AS word, "
        f"CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INTEGER)) AS BIGINT)"
        f" AS bits FROM ({union}) GROUP BY 1"
    )


def bloom_pass_sql(
    probe_expr: str, state_cte: str, *, n_bits: int = 1 << 16, depth: int = 4
) -> tuple[str, str]:
    """DuckDB twin of :func:`bloom_probe` for use inside a larger query:
    returns ``(join_clauses, pass_predicate)`` — ``depth`` LEFT JOINs
    against ``state_cte`` plus the all-bits-set predicate."""
    joins, preds = [], []
    for j in range(depth):
        pos = _bloom_pos_sql(j, probe_expr, n_bits)
        joins.append(
            f"LEFT JOIN {state_cte} bw{j} ON bw{j}.word = ({pos}) // {_BLOOM_WORD}"
        )
        preds.append(
            f"((COALESCE(bw{j}.bits, 0) >> CAST(({pos}) % {_BLOOM_WORD} AS INTEGER)) & 1) = 1"
        )
    return " ".join(joins), "(" + " AND ".join(preds) + ")"


def histogram_percentile_rank(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str | None = None,
    n_buckets: int = 256,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Per-row percentile rank from a fixed-width histogram — the ZERO-SORT
    inverse of :func:`quantile_from_histogram`, and the documented 100 TB
    path everywhere a ``percent_rank`` window appears over few groups
    (:func:`~.text.quality_calibrate`, :func:`~.similarity.prototypicality`):
    ``percent_rank`` sorts each group's N/|groups| rows on one task, while
    this runs one map-side-combined aggregate plus a broadcast join — no
    row ever shuffles.

    Definition (bucket-granular, deterministic): ``pct_rank = n_strictly_
    lower_buckets / total`` for the row's group — every row in a bucket
    shares the rank of the bucket's lower edge, so the estimate
    under-reads true percent_rank by at most one bucket's mass (≤ 1/
    n_buckets for near-uniform data; the min row reads exactly 0 like
    percent_rank). All-integer counts → bit-identical on any engine or
    partitioning. Constant values (hi == lo) collapse into bucket 0 →
    rank 0 for all, matching percent_rank's all-tied behavior.

    Returns the input columns plus ``out_col`` (6-dp rounded).
    """
    g = [group_col] if group_col else []
    bounds = df.groupBy(*g).agg(
        F.min(F.col(value_col).cast("double")).alias("__lo"),
        F.max(F.col(value_col).cast("double")).alias("__hi"),
        F.count(F.lit(1)).alias("__tot"),
    )
    withb = df.join(F.broadcast(bounds), g) if g else df.crossJoin(F.broadcast(bounds))
    span = F.col("__hi") - F.col("__lo")
    frac = F.when(span > 0, (F.col(value_col).cast("double") - F.col("__lo")) / span).otherwise(
        F.lit(0.0)
    )
    bucket = F.least(
        F.greatest(F.floor(frac * n_buckets).cast("long"), F.lit(0)),
        F.lit(n_buckets - 1),
    )
    hist = (
        withb.select(*g, bucket.alias("__b"))
        .groupBy(*g, "__b")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # cumulative count STRICTLY below each bucket: the per-group histogram
    # is ≤ n_buckets rows, so the window is bounded-small by construction
    w = Window.partitionBy(*g).orderBy("__b") if g else Window.orderBy("__b")
    cum = hist.withColumn("__below", F.sum("__n").over(w) - F.col("__n")).drop("__n")
    return (
        withb.withColumn("__b", bucket)
        .join(F.broadcast(cum), g + ["__b"])
        .withColumn(out_col, F.round(F.col("__below") / F.col("__tot"), 6))
        .drop("__b", "__lo", "__hi", "__tot", "__below")
    )


def kmv_set_ops(
    a: DataFrame, b: DataFrame, col_a: str, col_b: str, *, k: int = 256
) -> DataFrame:
    """KMV set-operation estimates between two key populations — "how many
    users BOTH view and purchase" without shuffling either fact table:
    one row ``(k_seen, max_frac, union_est, jaccard_est, intersection_est,
    a_only_est)``. Everything is derived from the bottom-k of the UNION's
    hash fractions (Beyer et al. 2007): with K = bottom-k distinct hashes
    tagged by side membership, ``jaccard ≈ |K∩A∩B| / |K|`` and
    ``intersection ≈ jaccard · union_est``.

    When the combined universe has fewer than ``k`` distinct keys the
    sketch degrades gracefully to EXACT set algebra (every hash is kept),
    so small populations pay no estimation error — and the driver's
    sf0.01 oracle run checks that exact path while sf0.1 exercises the
    estimator.

    Same md5 ``hash_fraction`` as :func:`kmv_distinct` — deterministic,
    mergeable, and bit-replayable in the SQL oracle. Scale shape: each
    side reduces to distinct hashes (map-side combine), the bottom-k is a
    TakeOrderedAndProject; nothing O(N) crosses the network.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    ha = (
        a.select(hash_fraction(F.col(col_a)).alias("h"))
        .distinct()
        .select("h", F.lit(1).alias("__a"), F.lit(0).alias("__b"))
    )
    hb = (
        b.select(hash_fraction(F.col(col_b)).alias("h"))
        .distinct()
        .select("h", F.lit(0).alias("__a"), F.lit(1).alias("__b"))
    )
    tagged = (
        ha.unionByName(hb)
        .groupBy("h")
        .agg(F.max("__a").alias("__a"), F.max("__b").alias("__b"))
        .orderBy("h")
        .limit(k)
    )
    k_seen = F.count(F.lit(1))
    n_both = F.sum(F.col("__a") * F.col("__b"))
    union_est = F.when(k_seen < k, k_seen.cast("double")).otherwise(
        F.lit(float(k - 1)) / F.max("h")
    )
    jac = n_both / k_seen
    return tagged.agg(
        k_seen.cast("long").alias("k_seen"),
        F.round(F.max("h"), 12).alias("max_frac"),
        F.round(union_est, 4).alias("union_est"),
        F.round(jac, 6).alias("jaccard_est"),
        F.round(jac * union_est, 4).alias("intersection_est"),
        F.round((F.sum(F.col("__a") * (1 - F.col("__b"))) / k_seen) * union_est, 4).alias(
            "a_only_est"
        ),
    )


def kmv_set_ops_sql(
    table_a: str, expr_a: str, table_b: str, expr_b: str, *, k: int = 256
) -> str:
    """DuckDB oracle for :func:`kmv_set_ops` (same hash, same estimator)."""
    fa, fb = hash_fraction_sql(expr_a), hash_fraction_sql(expr_b)
    return f"""
    WITH ha AS (SELECT DISTINCT {fa} AS h FROM {table_a}),
    hb AS (SELECT DISTINCT {fb} AS h FROM {table_b}),
    tagged AS (
      SELECT h, MAX(a) AS a, MAX(b) AS b
      FROM (SELECT h, 1 AS a, 0 AS b FROM ha
            UNION ALL SELECT h, 0, 1 FROM hb)
      GROUP BY h ORDER BY h LIMIT {k}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k_seen,
           ROUND(MAX(h), 12) AS max_frac,
           ROUND(CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
                      ELSE {float(k - 1)} / MAX(h) END, 4) AS union_est,
           ROUND(CAST(SUM(a * b) AS DOUBLE) / COUNT(*), 6) AS jaccard_est,
           ROUND((CAST(SUM(a * b) AS DOUBLE) / COUNT(*))
                 * CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE {float(k - 1)} / MAX(h) END, 4) AS intersection_est,
           ROUND((CAST(SUM(a * (1 - b)) AS DOUBLE) / COUNT(*))
                 * CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE {float(k - 1)} / MAX(h) END, 4) AS a_only_est
    FROM tagged
    """
