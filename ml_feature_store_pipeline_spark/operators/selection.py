"""Training-corpus selection: DSIR importance resampling, token-budget
subsetting, and chunk-level dedup with document reassembly.

Beyond-reference LLM-pipeline operators (the reference's single script,
``ML Feature Store Pipeline.py``, stops at per-user aggregates): the three
standard "which subset of a 100 TB crawl do we actually train on" passes —

- **DSIR** (Xie et al. 2023, arXiv:2302.03169 "Data Selection for Language
  Models via Importance Resampling"): score every raw document by how much
  it looks like a small TARGET corpus, using hashed n-gram bag likelihood
  ratios, then Gumbel-top-k resample. The published recipe is exactly
  bucket-count arithmetic — it distributes as two broadcast-sized
  aggregates plus one per-gram join.
- **Token-budget selection**: "take the best documents until the budget is
  spent" — a global ranked prefix-sum, implemented banded so no single
  task ever sorts the corpus.
- **Chunk-level dedup** (the paragraph-dedup pass of CCNet / RefinedWeb,
  Penedo et al. 2023 §3.3, applied at token-window granularity): drop
  repeated chunks corpus-wide keeping first occurrence, then reassemble
  the surviving text per document.

Everything is deterministic and engine-portable: gram buckets and Gumbel
uniforms derive from ``md5`` (same value on Spark and DuckDB regardless of
partitioning), per-document log-weight sums go through exact DECIMAL
arithmetic so accumulation order never matters, and every ranking has a
total tiebreak.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import local_frame, ngrams, tokens
from .sampling import hash_bucket
from .text import chunk_documents

# ---------------------------------------------------------------------------
# DSIR: hashed n-gram importance resampling
# ---------------------------------------------------------------------------


def _grams(text: Column) -> Column:
    """Unigrams + bigrams of the whitespace tokens, as one string array
    (bigrams joined with a single space, matching the tokenizer's
    normalization). Pure array code, no lambda over the tokens
    (:func:`..functions.ngrams`)."""
    toks = tokens(text)
    return F.concat(toks, ngrams(toks, 2))


def _gram_bucket(gram: Column, n_buckets: int, salt: str, hash_fn: str) -> Column:
    """Gram → bucket in [0, n_buckets). ``md5`` (default) is the
    engine-portable form the DuckDB oracle replays; ``xxhash64`` is one
    JVM codegen hash instead of md5 → hex → conv → cast — still a pure
    function of the gram (partitioning/run/seed stable), but
    Spark-private, so oracle queries must keep md5. Both are valid DSIR
    featurizers (the paper's hashing is arbitrary-but-fixed). Measured
    end-to-end gain is modest — ~1.16× at 200 k docs (SCALE.md): gram
    STRING CONSTRUCTION dominates the pipeline, not the hash — so md5
    stays the default; pick xxhash64 only when the hash itself shows up
    in profiles (very short documents, very high gram fan-out)."""
    if hash_fn == "md5":
        return hash_bucket(gram, n_buckets, salt)
    if hash_fn == "xxhash64":
        h = F.xxhash64(F.concat(F.lit(salt), gram))
        return ((h % n_buckets) + n_buckets) % n_buckets
    raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")


def _bucket_counts(
    df: DataFrame, text_col: str, *, n_buckets: int, salt: str, hash_fn: str = "md5"
) -> DataFrame:
    """(bucket, n) gram-occurrence counts over a corpus. The explode fans
    each doc into its grams, but the groupBy is map-side combinable, so the
    shuffle carries at most ``n_buckets`` partial counts per partition —
    corpus size never reaches the exchange."""
    grams = df.select(F.explode(_grams(F.col(text_col))).alias("__gram"))
    return grams.groupBy(
        _gram_bucket(F.col("__gram"), n_buckets, salt, hash_fn).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


def dsir_log_ratios(
    target: DataFrame,
    raw: DataFrame,
    text_col: str,
    *,
    n_buckets: int = 1024,
    alpha: float = 1.0,
    salt: str = "",
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-bucket log importance ratios for DSIR: hashed unigram+bigram
    counts over the TARGET corpus (what we want more of) and the RAW corpus
    (what we have), Laplace-smoothed with ``alpha``, as
    ``log p_target(b) - log p_raw(b)``.

    Returns a DENSE (bucket, log_ratio) table — all ``n_buckets`` rows, so
    downstream joins never miss (a gram whose bucket neither corpus saw
    still gets the smoothed prior's ratio). ``log_ratio`` is rounded to
    9 dp so both engines agree after their (possibly last-ulp-different)
    ``ln``; per-document sums then run in exact decimal.

    Scale shape: two map-side-combined aggregates (shuffle ≤ n_buckets
    partials per partition), two scalar totals, one n_buckets-row result —
    broadcast material however big the corpora are.
    """
    spark = raw.sparkSession
    t_counts = _bucket_counts(target, text_col, n_buckets=n_buckets, salt=salt, hash_fn=hash_fn)
    r_counts = _bucket_counts(raw, text_col, n_buckets=n_buckets, salt=salt, hash_fn=hash_fn)
    t_tot = t_counts.agg(F.sum("n").alias("__tt"))
    r_tot = r_counts.agg(F.sum("n").alias("__rt"))
    dense = spark.range(n_buckets).select(F.col("id").cast("long").alias("bucket"))
    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * n_buckets)
    return (
        dense.join(F.broadcast(t_counts.withColumnRenamed("n", "__tn")), "bucket", "left")
        .join(F.broadcast(r_counts.withColumnRenamed("n", "__rn")), "bucket", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "bucket",
            F.round(
                F.log((F.coalesce(F.col("__tn"), F.lit(0)) + a) / (F.col("__tt") + ab))
                - F.log((F.coalesce(F.col("__rn"), F.lit(0)) + a) / (F.col("__rt") + ab)),
                9,
            ).alias("log_ratio"),
        )
    )


def dsir_log_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ratios: DataFrame,
    *,
    n_buckets: int = 1024,
    salt: str = "",
    hash_fn: str = "md5",
) -> DataFrame:
    """Per-document DSIR log importance weight: the sum of ``log_ratio``
    over the document's hashed grams (occurrences, not distinct — the bag
    model of the paper). Returns (id, n_grams, log_weight).

    The sum runs in DECIMAL(20,9) over the 9-dp-rounded ratios, so it is
    exact and accumulation-order-free — the same double on any engine, any
    partitioning. Gram-less documents get weight 0.0 (an empty product).

    Scale shape: explode → broadcast-join the n_buckets-row ratio table →
    map-side-combinable groupBy(id); the shuffle carries one partial
    decimal sum per (partition, doc).
    """
    per_gram = df.select(
        F.col(id_col), F.explode(_grams(F.col(text_col))).alias("__gram")
    ).select(
        F.col(id_col), _gram_bucket(F.col("__gram"), n_buckets, salt, hash_fn).alias("bucket")
    )
    summed = (
        per_gram.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.col("log_ratio").cast("decimal(20,9)")).alias("__lw"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(summed, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("__lw").cast("double"), F.lit(0.0)).alias("log_weight"),
        )
    )


def dsir_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ratios: DataFrame,
    *,
    k: int,
    n_buckets: int = 1024,
    salt: str = "",
    hash_fn: str = "md5",
) -> DataFrame:
    """Gumbel-top-k DSIR resample: draw ``k`` documents without replacement
    with probability ∝ exp(log_weight), via the Gumbel-max trick —
    ``key = log_weight + Gumbel(0,1)``, take the k largest. The Gumbel
    uniform derives from ``md5('g|' + salt + id)`` so the draw is a pure
    function of the document key: reproducible across runs, engines, and
    partitionings (same contract as :mod:`.sampling`).

    Returns (id, log_weight, sample_key, sample_rank), rank 1..k by
    (key desc, id asc). ``sample_key`` is rounded to 6 dp before ranking so
    both engines rank identical values (ties broken by id).

    Scale shape: the weight pass (above) plus a distributed top-k
    (TakeOrderedAndProject — never a global sort).
    """
    weights = dsir_log_weights(
        df, id_col, text_col, ratios, n_buckets=n_buckets, salt=salt, hash_fn=hash_fn
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"g|{salt}"), F.col(id_col).cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    gumbel = -F.log(-F.log(u))
    keyed = weights.select(
        id_col,
        "log_weight",
        F.round(F.col("log_weight") + gumbel, 6).alias("sample_key"),
    )
    w = Window.orderBy(F.desc("sample_key"), F.asc(id_col))
    # limit-k first (distributed TakeOrderedAndProject); the rank window then
    # runs on k rows — the bounded-small case where one partition is correct
    topk = keyed.orderBy(F.desc("sample_key"), F.asc(id_col)).limit(k)
    return topk.withColumn("sample_rank", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# token-budget selection (ranked prefix sum, banded)
# ---------------------------------------------------------------------------


def select_by_budget(
    df: DataFrame,
    id_col: str,
    *,
    score_col: str,
    weight_col: str,
    budget: int,
    n_bands: int = 256,
) -> DataFrame:
    """Keep the best documents until the budget is spent: order by
    (score desc, id asc), keep every row whose inclusive running sum of
    ``weight_col`` (tokens, bytes, …) is ≤ ``budget``. The "fill the
    training mix from the top of the quality ranking" pass.

    Returns the kept rows as (id, score, weight, cum_weight) — identical to
    the SQL ``SUM(w) OVER (ORDER BY score DESC, id) <= budget``. NULL
    scores fill LAST (after every scored row), matching both engines'
    default NULLS LAST under ``DESC``.

    Scale shape: a single global ORDER BY window would sort the corpus on
    one task, so the prefix sum is BANDED: scores map monotonically into
    ``n_bands`` range bands (one min/max aggregate), per-band totals are a
    band-sized aggregate whose running offsets come from the driver
    (n_bands rows), and the window runs per band — the biggest task sorts
    ~N/n_bands rows. Band assignment is float arithmetic but CANNOT change
    the output: bands are monotone in score, so (band, in-band order)
    equals the global order; equal scores always share a band.

    Two small jobs (min/max, band totals) execute eagerly at plan-build
    time; the main scan runs once more for the window — 3 passes total,
    each embarrassingly parallel.
    """
    score = F.col(score_col)
    bounds = df.agg(
        F.min(score).alias("lo"), F.max(score).alias("hi"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if not bounds["n"]:
        return df.select(
            F.col(id_col), score.alias(score_col),
            F.col(weight_col), F.lit(0).cast("long").alias("cum_weight"),
        ).limit(0)
    # min/max ignore NULLs: bounds can be None with n > 0 (all-NULL
    # scores). NULL scores band to -1 — sorted(…, reverse=True) places
    # -1 after every real band, so they fill last, matching the SQL
    # form's NULLS LAST default (same default in Spark and DuckDB).
    if bounds["lo"] is not None and float(bounds["hi"]) > float(bounds["lo"]):
        lo, hi = float(bounds["lo"]), float(bounds["hi"])
        core = F.least(
            F.greatest(
                F.floor((score - F.lit(lo)) / F.lit(hi - lo) * n_bands).cast("int"),
                F.lit(0),
            ),
            F.lit(n_bands - 1),
        )
    else:
        core = F.lit(0)
    band = F.when(score.isNull(), F.lit(-1)).otherwise(core)
    banded = df.select(
        F.col(id_col), score.alias("__score"), F.col(weight_col).alias("__w"),
        band.alias("__band"),
    )
    totals = {
        r["__band"]: r["t"]
        for r in banded.groupBy("__band").agg(F.sum("__w").alias("t")).collect()
    }
    # offset for band b = total weight of all HIGHER-score bands (> b)
    offsets, acc = {}, 0
    for b in sorted(totals, reverse=True):
        offsets[b] = acc
        acc += totals[b]
    off_df = local_frame(
        df.sparkSession, [(int(b), int(o)) for b, o in offsets.items()], "__band int, __off long"
    )
    w = Window.partitionBy("__band").orderBy(F.desc("__score"), F.asc(id_col))
    return (
        banded.join(F.broadcast(off_df), "__band")
        .withColumn("__cum", F.sum("__w").over(w) + F.col("__off"))
        .filter(F.col("__cum") <= budget)
        .select(
            id_col,
            F.col("__score").alias(score_col),
            F.col("__w").alias(weight_col),
            F.col("__cum").alias("cum_weight"),
        )
    )


# ---------------------------------------------------------------------------
# chunk-level dedup + reassembly (paragraph dedup at token-window grain)
# ---------------------------------------------------------------------------


def chunk_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_tokens: int = 32,
) -> DataFrame:
    """Corpus-wide chunk dedup with document reassembly: split every
    document into non-overlapping ``chunk_tokens`` token windows, keep only
    the FIRST occurrence of each distinct chunk text (ordered by id, then
    chunk position), and rebuild each document from its surviving chunks.
    The paragraph-dedup pass of CCNet/RefinedWeb, at token-window
    granularity (the synthetic corpus has no paragraph breaks; real
    corpora can pre-split on ``\\n\\n`` and feed the pieces here).

    Returns (id, n_chunks, n_chunks_kept, clean_text) for EVERY input
    document — fully-deduped docs keep the row with ``clean_text = ''``.
    Reassembly is token-normalized (chunks re-join with single spaces),
    which is what a tokenizer-bound pipeline wants anyway.

    Scale shape: first-occurrence ranking shuffles by chunk digest (md5 —
    the digest decides, the text rides along once), reassembly shuffles the
    survivors by id; both are plain hash exchanges, no global sort. Chunk
    text crosses the wire twice — unavoidable when the output is rebuilt
    text rather than a keep-list (use the (id, chunk_id) keep-set directly
    if reassembly isn't needed).
    """
    chunks = chunk_documents(
        df, id_col, text_col, chunk_tokens=chunk_tokens, overlap=0
    )
    w = Window.partitionBy(F.md5(F.col("chunk_text"))).orderBy(
        F.asc(id_col), F.asc("chunk_id")
    )
    kept = (
        chunks.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks_kept"),
            F.array_sort(F.collect_list(F.struct("chunk_id", "chunk_text"))).alias("__s"),
        )
        .select(
            id_col,
            "n_chunks_kept",
            F.concat_ws(" ", F.transform("__s", lambda s: s["chunk_text"])).alias(
                "clean_text"
            ),
        )
    )
    totals = chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks")
    )
    return (
        df.select(F.col(id_col))
        .join(totals, id_col, "left")
        .join(kept, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_chunks"), F.lit(0)).alias("n_chunks"),
            F.coalesce(F.col("n_chunks_kept"), F.lit(0)).alias("n_chunks_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


# ---------------------------------------------------------------------------
# cross-source overlap diagnostics
# ---------------------------------------------------------------------------


def source_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    *,
    chunk_tokens: int = 16,
) -> DataFrame:
    """Cross-source duplication matrix: for every ordered source pair
    (a, b), the number and fraction of source *a*'s DISTINCT chunks that
    also appear somewhere in source *b* — the "how much of Common Crawl is
    already in Wikipedia" diagnostic that decides dedup order and mixture
    weights before training. The diagonal (a = a) reports each source's
    internal distinct-chunk count as the denominator row.

    Returns (source_a, source_b, n_chunks_a, n_shared, overlap_frac) for
    every source pair that shares at least one chunk, plus the diagonal.
    ``overlap_frac = n_shared / n_chunks_a`` (asymmetric by design — a
    small source can be fully contained in a large one, not vice versa).

    Scale shape: chunks reduce to DISTINCT (md5 digest, source) pairs
    before any join — the join input carries 16-byte digests, never text,
    and is at most |distinct chunks| × |sources| rows. The digest
    self-join groups by (source_a, source_b): map-side combinable, so the
    final exchange carries |sources|² partials per partition.
    """
    chunks = chunk_documents(df.select(F.col(id_col), F.col(text_col), F.col(source_col)),
                             id_col, text_col, chunk_tokens=chunk_tokens, overlap=0)
    # chunk_documents drops extra columns; rebuild (digest, source) by joining
    # the source back on the id, then dedup per source
    sources = df.select(F.col(id_col), F.col(source_col))
    ds = (
        chunks.join(sources, id_col)
        .select(F.md5(F.col("chunk_text")).alias("__d"), F.col(source_col).alias("__src"))
        .distinct()
    )
    totals = ds.groupBy(F.col("__src").alias("source_a")).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks_a")
    )
    pairs = (
        ds.alias("x")
        .join(ds.alias("y"), "__d")
        .groupBy(
            F.col("x.__src").alias("source_a"), F.col("y.__src").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return (
        pairs.join(F.broadcast(totals), "source_a")
        .select(
            "source_a",
            "source_b",
            "n_chunks_a",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_chunks_a"), 6).alias("overlap_frac"),
        )
    )
