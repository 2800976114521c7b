"""Column-expression building blocks (all JVM-side, codegen-friendly).

Every helper returns a ``pyspark.sql.Column`` so composed plans stay inside
whole-stage codegen — no Python UDFs on these paths. The semantic traps
from the reference (conditional count/mean, elapsed-floor days) live here
with their citations so extractors and queries share one definition.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Reference aggregation semantics (SURVEY §2.C)
# ---------------------------------------------------------------------------


def conditional_count(pred: Column) -> Column:
    """Count of rows satisfying ``pred`` — `(amount > 0).sum()` at
    `ML Feature Store Pipeline.py:167` (keys on the predicate, NOT on
    event_type == 'purchase')."""
    return F.sum(F.when(pred, 1).otherwise(0)).cast("long")


def conditional_mean(value: Column, pred: Column, default: float = 0.0) -> Column:
    """Mean of ``value`` over rows where ``pred`` holds; ``default`` when no
    row qualifies — `x[x>0].mean()` then `fillna(0)` (`:169, :177`).
    ``avg`` ignores the ``when``'s nulls, which matches pandas exactly."""
    return F.coalesce(F.avg(F.when(pred, value)), F.lit(default))


def days_active(ts: Column) -> Column:
    """Elapsed-floor day span + 1 — `(max − min).days + 1` (`:173`).

    Pandas ``Timedelta.days`` floors *elapsed time*, not calendar dates:
    23:00 → 01:00 next day is `.days == 0` → 1, while ``datediff`` would
    say 2. Hence the unix-seconds floor, NOT ``datediff`` (SURVEY C7).
    """
    span = F.unix_timestamp(F.max(ts)) - F.unix_timestamp(F.min(ts))
    return (F.floor(span / F.lit(86400)) + F.lit(1)).cast("long")


def safe_div(num: Column, den: Column) -> Column:
    """NULL-safe ratio; 0.0 when the denominator is 0/NULL (ratios `:180-181`
    can't divide by zero there — total_events ≥ 1 per group — but the
    general operator guards anyway)."""
    return F.coalesce(num / F.nullif(den, F.lit(0)), F.lit(0.0))


# ---------------------------------------------------------------------------
# Deterministic aggregation (oracle-stable across engines & row order)
# ---------------------------------------------------------------------------
# Floating-point sums depend on accumulation order, which Spark does not
# guarantee across partitions. For oracle-compared queries we sum exact
# decimals: double → decimal cast is per-value deterministic, decimal sums
# are associative, and the final double cast is deterministic — so Spark
# and DuckDB agree bit-for-bit regardless of parallelism.


#: When tools/plan_audit.py installs a list here, every ``pin_local``
#: appends the executed-plan string of the frame it collected. Pinning
#: replaces a subtree with a LocalRelation, so the FINAL plan the audit
#: sweeps no longer contains the builders — without this hook a bad plan
#: shape inside a pinned route (r10 ADVICE: lsh_topk/pq_topk_rerank under
#: the concurrent pins) would silently escape the sweep. Appends are
#: GIL-atomic, so concurrent pins share one sink safely.
_PIN_PLAN_SINK: list[str] | None = None


def local_frame(spark, rows, schema):
    """A frame over driver-side ``rows`` (tuples or Rows) with ``schema``
    (a ``StructType`` or a DDL string), planned as a ``LocalRelation``.

    ``createDataFrame(list_of_tuples, schema)`` plans a ``LogicalRDD``:
    every scan of it runs a Python-worker job, nearly all of it worker
    start-up (building and collecting 1 000 two-column rows took
    0.4-1.0 s on a 4-vCPU host). The rows go through an Arrow table
    instead, which Spark plans as a ``LocalRelation``, scanned with no
    job (0.06-0.13 s for the same rows) and with size statistics the
    planner can use. Values round-trip exactly: NULLs, NaN, timestamps
    (naive ones read as local time, as ``createDataFrame`` does),
    decimals, arrays and structs. An empty ``rows`` gives an empty frame
    of ``schema``.
    """
    from pyspark.sql import types as T
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    rows = list(rows)
    table = (
        LocalDataToArrowConversion.convert(rows, schema, use_large_var_types=False)
        if rows
        else to_arrow_schema(schema).empty_table()
    )
    return spark.createDataFrame(table, schema)


def pin_local(df):
    """Materialize a SMALL DataFrame to a driver-side LocalRelation
    (collect, then :func:`local_frame`).

    The pin for bounded frames (top-k lists, metric tables, codebooks)
    that feed several downstream joins: referencing the lazy frame
    re-executes its whole lineage per consumer, and ``localCheckpoint()``
    is the wrong pin here — the RDD-conversion path compiles the plan
    WITHOUT AQE (measured 3-5× slower on the ANN eval routes, r9).
    A LocalRelation keeps AQE everywhere and the rows become plan
    literals. Driver cost is the collect — callers own the "small by
    contract" argument. (The former inline copies in quality.py /
    operators/windows.py were folded in here in r12, so their builder
    plans sit under the ``_PIN_PLAN_SINK`` audit too.)

    When NOT to pin (r11, measured): if the repeated subtree already
    sits under ONE job, Spark's exchange reuse deduplicates it for free
    (ReusedExchange in the executed plan) and pinning only adds collect
    barriers — q_ml_brp_ann_topk read 1.21 s un-pinned vs 2.0 s pinned
    at sf0.1. Pin when consumers run as SEPARATE jobs/actions, or when
    builds carry driver-eager plan-time work worth overlapping
    (:func:`pin_concurrent`); check the plan for ReusedExchange first.
    """
    return local_frame(df.sparkSession, pin_rows(df), df.schema)


def pin_rows(df):
    """:func:`pin_local`'s collect-only half: materialize a SMALL frame to
    its driver-side row list (same "small by contract" bar, same
    ``_PIN_PLAN_SINK`` audit hook). For consumers that fold the rows on
    the driver (metric scorecards over |queries|·k pins) the LocalRelation
    round-trip of :func:`pin_local` is pure overhead — every downstream
    join/aggregate over a few hundred literal rows still costs plan
    analysis + codegen + stage scheduling per run (measured ~3 s for the
    ANN eval's 3-route scorecard at sf0.1, r12) — so they take the rows
    and skip Spark for the bookkeeping, per the optimization-guide §8
    rule: decide with small rows, keep the heavy passes distributed."""
    rows = df.collect()
    if _PIN_PLAN_SINK is not None:
        _PIN_PLAN_SINK.append(df._jdf.queryExecution().executedPlan().toString())
    return rows


def collect_concurrent(builders):
    """:func:`pin_concurrent` with :func:`pin_rows` as the materializer:
    same concurrent-build overlap and fail-fast job group, but returns
    name → driver-side row list instead of name → LocalRelation. For
    callers that fold the pinned rows on the driver (see
    :func:`pin_rows`)."""
    return pin_concurrent(builders, _materialize=pin_rows)


def pin_concurrent(builders, _materialize=None):
    """:func:`pin_local` over several INDEPENDENT frames at once.

    ``builders`` maps name → zero-arg callable returning a DataFrame;
    each callable runs its plan CONSTRUCTION and the pinning collect on
    its own driver thread, so builds that contain eager driver work (a
    KMeans fit, a codebook-seed collect, a brute-force ground-truth
    scan) overlap as concurrent Spark jobs instead of serializing one
    action at a time. This is the multi-route eval-harness shape: the
    routes share input tables but not lineage, and concurrent job
    submission is first-class in Spark's scheduler (locally AND on a
    cluster — each job's stages interleave across the same executor
    pool, so total work is unchanged while wall time approaches the
    longest single route instead of the sum). Results are bit-identical
    to sequential builds: threading changes WHEN each independent job
    runs, never what it computes. Returns name → pinned LocalRelation.

    Regime honesty (r10, measured): the overlap pays exactly when the
    individual builds LEAVE SLOTS IDLE — small corpora whose stages
    under-fill the executor pool, or driver-eager steps (fits, codebook
    collects) that serialize ahead of any job. In that regime the ANN
    eval harness dropped 19.6 s → 8.8 s at sf0.1. When every build
    already saturates the pool it is wall-NEUTRAL: the same-box A/B at
    2 M vectors (32-way stages, one JVM) read 944.3 s sequential vs
    945.6 s concurrent (SCALE.md r10) — interleaving neither fills gaps
    (there are none) nor pays a measurable cost. Multi-executor
    clusters sit closer to the first regime: stage barriers and
    stragglers leave gaps concurrent jobs fill.

    Threading mechanics (r10 ADVICE): builders run on
    ``pyspark.InheritableThread``, NOT plain executor threads — in the
    default pinned-thread mode a plain thread neither inherits the
    caller's SparkContext local properties (job group/description,
    scheduler pool) nor cleans up its paired JVM thread on exit, a slow
    JVM-thread leak across a long bench run. The builds also share one
    job group set here with ``interruptOnCancel``: the FIRST builder
    failure cancels the group, so sibling routes abort within a task
    boundary instead of running minutes to completion before the error
    surfaces (fail-fast; a cancelled sibling's own error is recorded
    after the root cause, which is what re-raises).
    """
    import threading
    import uuid

    from pyspark import InheritableThread
    from pyspark.sql import SparkSession

    if _materialize is None:
        _materialize = pin_local
    items = list(builders.items())
    if not items:
        return {}
    spark = SparkSession.getActiveSession()
    sc = spark.sparkContext if spark is not None else None
    group = f"pin_concurrent-{uuid.uuid4().hex[:12]}"
    results: dict = {}
    failures: list[tuple[str, BaseException]] = []
    fail_lock = threading.Lock()

    def run(name, fn):
        try:
            results[name] = _materialize(fn())
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            with fail_lock:
                first = not failures
                failures.append((name, exc))
            if first and sc is not None:
                try:
                    sc.cancelJobGroup(group)
                except Exception:  # noqa: BLE001 — cancel is best-effort
                    pass

    prev_group = prev_desc = prev_interrupt = None
    if sc is not None:
        prev_group = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        # setJobGroup(..., True) also flips spark.job.interruptOnCancel on
        # this thread's local properties; restore it too, or a later
        # cancel of the CALLER's own restored job group would interrupt
        # its tasks (r11 ADVICE)
        prev_interrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
        sc.setJobGroup(group, f"pin_concurrent({len(items)} builds)", True)
    threads = [
        InheritableThread(run, name=f"pin-{name}", args=(name, fn))
        for name, fn in items
    ]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", prev_group)
            sc.setLocalProperty("spark.job.description", prev_desc)
            sc.setLocalProperty("spark.job.interruptOnCancel", prev_interrupt)
    if failures:
        raise failures[0][1]
    return {name: results[name] for name, _ in items}


def dsum(col: Column, scale: int = 4, precision: int = 28) -> Column:
    """Order-insensitive, engine-stable sum of a double column."""
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double")


def davg(col: Column, scale: int = 4, precision: int = 28) -> Column:
    """Order-insensitive mean: exact decimal sum ÷ count, divided as doubles."""
    return F.sum(col.cast(f"decimal({precision},{scale})")).cast("double") / F.count(col)


def dsum_sql(expr: str, scale: int = 4, precision: int = 28) -> str:
    """DuckDB twin of :func:`dsum` for ``oracle_sql`` strings."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL({precision},{scale}))) AS DOUBLE)"


def davg_sql(expr: str, scale: int = 4, precision: int = 28) -> str:
    """DuckDB twin of :func:`davg`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL({precision},{scale}))) AS DOUBLE) / COUNT({expr})"


# ---------------------------------------------------------------------------
# Vector math over array<float>/array<double> columns (embeddings table)
# ---------------------------------------------------------------------------


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns via ``zip_with`` + ``aggregate`` —
    JVM-side, no UDF. Cast to double first for stable arithmetic."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def normed_cosine(ab: Column, a_norm: Column, b_norm: Column) -> Column:
    """Cosine from the dot product ``ab`` of two vectors and their L2
    norms: the one division behind every embedding cosine. ``try_divide``
    makes a zero norm (a zero vector) give NULL in both ANSI modes, as the
    plain divide does without ANSI, instead of failing the query with
    ``DIVIDE_BY_ZERO``; every other quotient is the same double."""
    return F.try_divide(ab, a_norm * b_norm)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two array columns; NULL when either is NULL, holds a
    NULL element, or is a zero vector. In a pairwise kernel (a join or a
    lambda over one side's vectors) do not call this per pair: project
    :func:`l2_norm` once per vector before the pairing and pass the norm
    columns to :func:`normed_cosine` — the same expression on the same
    inputs, so the doubles (NULL cases included) are identical, without
    recomputing both norms for every pair."""
    return normed_cosine(dot(a, b), l2_norm(a), l2_norm(b))


# ---------------------------------------------------------------------------
# Text primitives (north-star text analysis; used by operators/text.py)
# ---------------------------------------------------------------------------

#: Whitespace tokenizer pattern shared by Spark and the DuckDB oracles.
TOKEN_SPLIT_RE = r"\s+"


def tokens(text: Column) -> Column:
    """Whitespace tokens with empty strings removed (leading/trailing
    whitespace would otherwise produce '' entries)."""
    return F.filter(F.split(F.trim(text), TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def ngrams(arr: Column, n: int, sep: str = " ") -> Column:
    """Contiguous ``n``-grams of the array ``arr``, each joined with
    ``sep``, in order: ``["a b", "b c"]`` for ``["a", "b", "c"]``, n=2.
    An empty array when ``arr`` is NULL or has fewer than ``n`` elements.

    Built from ``n`` shifted ``slice``s of ``arr`` zipped by position, so
    no lambda references ``arr``. Catalyst does not hoist an expression
    out of a lambda body, so the form ``transform(sequence(1, m), i ->
    concat_ws(' ', slice(arr, i, n)))`` re-evaluates ``arr`` — typically
    :func:`tokens` of a text, a regex split — once per n-gram: O(W²) per
    document. Here ``arr`` is evaluated a fixed ``n + 2`` times per row;
    callers that hold a DataFrame project ``arr`` as a column first, so
    it is evaluated once (the projection is kept, not collapsed into its
    consumer, because the column is referenced more than once).
    """
    count = F.size(arr) - F.lit(n - 1)
    width = F.greatest(count, F.lit(0))
    zipped = F.arrays_zip(*[F.slice(arr, k + 1, width) for k in range(n)])
    grams = F.transform(zipped, lambda z: F.concat_ws(sep, *[z[str(k)] for k in range(n)]))
    return F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))
