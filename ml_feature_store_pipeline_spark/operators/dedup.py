"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

North-star training-data operators (BASELINE.json) — none exist in the
reference; its only dedup-adjacent computation is the duplicate-row
fraction (C10 `ML Feature Store Pipeline.py:123`), whose machinery
(count vs distinct-count) exact_dedup generalizes.

Design rules for 100 TB:

- signatures (MinHash, SimHash) are computed ROW-LOCALLY from the token
  array — no explode, no shuffle, whole-stage codegen throughout;
- candidate generation shuffles only (band_id, bucket, doc_id) tuples —
  never document text;
- all hashes derive from ``md5`` hex strings so results are reproducible
  across engines (the DuckDB oracle computes identical signatures), unlike
  ``xxhash64`` which is Spark-private.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import local_frame, ngrams, tokens

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, content_cols: list[str], id_col: str, *, method: str = "digest"
) -> DataFrame:
    """Keep the lowest-id row per distinct content (deterministic, unlike
    ``dropDuplicates`` which keeps an arbitrary encounter-order row).

    ``method="digest"`` (default, the 100 TB shape): one aggregation keyed
    on ``md5(to_json(struct(content)))`` taking ``min(struct(id, content))``
    — the exchange partitions/sorts on a 32-char digest instead of
    hash-comparing megabyte text keys, and map-side partial aggregation
    collapses each partition to one carried row per distinct digest before
    anything moves (duplicate-heavy corpora shuffle only the survivors).
    Exact duplicate ROWS (same id, same content) also collapse — a
    join-back-on-id formulation would re-emit every copy. ``to_json``
    keeps null vs empty-string distinct; md5 collisions are accepted
    (~n²/2¹²⁸).

    ``method="raw"``: single groupBy on the raw content columns — the
    shuffle key IS the content. Right when the content columns are already
    short digests (or for engine-portable oracle comparison).
    """
    if method == "raw":
        return (
            df.groupBy(*content_cols)
            .agg(F.min(id_col).alias(id_col))
            .select(id_col, *content_cols)
        )
    if method != "digest":
        raise ValueError(f"method must be 'digest' or 'raw', got {method!r}")
    digest = F.md5(F.to_json(F.struct(*[F.col(c) for c in content_cols])))
    # min over struct(id, content…) orders by id first — deterministic
    # lowest-id survivor; content fields only tie-break md5 collisions
    row = F.struct(F.col(id_col), *[F.col(c) for c in content_cols])
    return (
        df.select(digest.alias("__digest"), row.alias("__row"))
        .groupBy("__digest")
        .agg(F.min("__row").alias("__row"))
        .select("__row.*")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 8, shingle_n: int = 3
) -> DataFrame:
    """MinHash signatures via explode → codegen'd md5 → per-doc MIN aggs.

    The md5+min work runs inside whole-stage codegen (measured ~2.4× the
    interpreted transform/array_min form); partial aggregation collapses
    each doc to one row map-side, so the shuffle carries ~num_hashes×32
    bytes per document. ``explode_outer`` keeps shingle-less docs, with a
    null signature.
    """
    sh = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks")).select(
        F.col(id_col), F.explode_outer(ngrams(F.col("__toks"), shingle_n)).alias("__sh")
    )
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("__sh")))).alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    return (
        sh.groupBy(id_col)
        .agg(*mins)
        .select(F.col(id_col), F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("signature"))
    )


def lsh_band_buckets(
    sig_df: DataFrame, id_col: str, bands: int, rows_per_band: int
) -> DataFrame:
    """Explode a signature into (band_id, bucket) pairs; bucket is the md5
    of the band's slice. Output is 3 small columns per (doc, band)."""
    cols = []
    for b in range(bands):
        band_slice = F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
        cols.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws("|", band_slice)).alias("bucket"),
            )
        )
    return sig_df.select(
        F.col(id_col), F.explode(F.array(*cols)).alias("bb")
    ).select(id_col, F.col("bb.band_id").alias("band_id"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int = 10_000,
    parallelism: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs agreeing on ALL rows of ≥1 band.

    Pipeline: row-local signatures → band buckets → groupBy(bucket) →
    bucket-local pair expansion → distinct (a, b) pairs. Grouping (instead
    of a bucket self-join) computes the signature pipeline ONCE, and the
    shuffle carries only (band_id, bucket, id) tuples — never text.

    ``max_bucket_size`` caps the quadratic expansion of degenerate buckets
    (boilerplate near-identical docs): a capped bucket still links its
    members transitively through the retained ids, which is what dedup
    needs. ``parallelism`` repartitions the input first — signature hashing
    is CPU-bound, so a small file count must not serialize it.
    """
    if parallelism:
        df = df.repartition(parallelism)
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}): trailing "
            "signature rows would be silently dropped, weakening LSH recall"
        )
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes)
    bb = lsh_band_buckets(sig, id_col, bands, rows_per_band)
    grouped = _capped_bucket_lists(bb, ["band_id", "bucket"], F.col(id_col), max_bucket_size)
    # bucket-local (a, b) expansion: ids are sorted, so pairing each element
    # with its successors yields id_a < id_b without least/greatest
    return (
        _expand_successor_pairs(grouped, "ids")
        .select(F.col("m").alias("id_a"), F.col("y").alias("id_b"))
        .distinct()
    )


def _expand_successor_pairs(grouped: DataFrame, list_col: str) -> DataFrame:
    """Stream every (element, successor) pair of a SORTED array column
    through two chained generators (posexplode + explode of the successor
    slice) — one pair in flight at a time inside whole-stage codegen.

    Never build the pair set as a flattened array instead: that
    materializes C(n,2) entries as ONE interpreted in-memory value and
    OOM'd at the default bucket cap on degenerate buckets (round-4
    scalecheck; guarded by test_plans.py::
    test_pair_expansion_streams_through_generators).

    Returns columns ``m`` (element) and ``y`` (successor); sorted input
    makes every emitted pair ordered m < y."""
    return (
        grouped.select(F.posexplode(list_col).alias("i", "m"), F.col(list_col).alias("__lst"))
        .select(
            "m",
            F.explode(
                F.slice(
                    F.col("__lst"),
                    F.col("i") + 2,
                    F.greatest(F.size("__lst") - F.col("i") - 1, F.lit(0)),
                )
            ).alias("y"),
        )
    )


def lsh_candidate_pairs_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int = 10_000,
    corpus_signatures: DataFrame | None = None,
    parallelism: int | None = None,
) -> DataFrame:
    """Near-dup candidates for a NEW batch against an existing corpus — the
    continuous-ingestion form of :func:`lsh_candidate_pairs`: pairs
    (id_a < id_b) sharing ≥1 band bucket where at least one side is new,
    exactly the full run's output filtered to pairs touching the batch
    (ids must be disjoint across the two inputs).

    What's saved vs re-running the full pipeline:

    - **Signatures**: pass ``corpus_signatures`` (persisted output of
      :func:`minhash_signatures` — the natural thing to store next to a
      100 TB corpus) and the shingle-explode+md5 over the corpus — the
      CPU-dominant stage, ~60 hashed shingles per doc — runs over the NEW
      batch only. Without it the corpus is (re)signed here, still skipping
      the pair stage below.
    - **Pairs**: buckets containing no new member are dropped BEFORE any
      expansion. For a small batch against a big corpus, almost every
      bucket is corpus-only, so the quadratic stage touches a vanishing
      fraction of the index.

    Same ``max_bucket_size`` rank-by-id cap as the full run (so the
    retained members — and therefore the emitted pairs — are identical to
    the full run's for every bucket the batch touches)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}): trailing "
            "signature rows would be silently dropped, weakening LSH recall"
        )
    if parallelism:
        new_docs = new_docs.repartition(parallelism)
    rows_per_band = num_hashes // bands
    sig_new = minhash_signatures(new_docs, id_col, text_col, num_hashes).withColumn(
        "__new", F.lit(True)
    )
    sig_corpus = (
        corpus_signatures
        if corpus_signatures is not None
        else minhash_signatures(
            corpus.repartition(parallelism) if parallelism else corpus,
            id_col,
            text_col,
            num_hashes,
        )
    ).withColumn("__new", F.lit(False))
    tagged = sig_new.unionByName(sig_corpus)
    member = F.struct(F.col(id_col).alias("id"), F.col("__new").alias("is_new"))
    # identical band/bucket construction to lsh_band_buckets — required for
    # bucket-level equality with the full run
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(
                F.concat_ws("|", F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band))
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    bands_df = tagged.select(
        member.alias("m"), F.explode(F.array(*band_structs)).alias("bb")
    ).select("m", F.col("bb.band_id").alias("band_id"), F.col("bb.bucket").alias("bucket"))
    grouped = _capped_bucket_lists(
        bands_df, ["band_id", "bucket"], F.col("m"), max_bucket_size
    ).withColumnRenamed("ids", "ms")
    # the incremental prune: corpus-only buckets never reach pair expansion
    touched = grouped.filter(F.exists("ms", lambda m: m["is_new"]))
    return (
        _expand_successor_pairs(touched, "ms")
        .filter(F.col("m.is_new") | F.col("y.is_new"))
        .select(F.col("m.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def _capped_bucket_lists(
    df: DataFrame, bucket_cols: list[str], member: Column, max_bucket_size: int
) -> DataFrame:
    """Per bucket, the sorted list of the ``max_bucket_size`` smallest
    members (as ``ids``), buckets of ≥ 2 members only.

    The cap is enforced BEFORE collection via a rank-filter window —
    ``slice(sort_array(collect_list(...)))`` would materialize the ENTIRE
    bucket as one in-memory array first, which OOMs the moment a
    degenerate bucket (boilerplate corpus) reaches tens of millions of
    members; the window's sort spills to disk instead, so memory stays
    bounded no matter how pathological the bucket. The retained set is
    identical (the sorted prefix)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*bucket_cols).orderBy(member.asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_bucket_size)
        .groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list(member)).alias("ids"))
        .filter(F.size("ids") > 1)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted-index join — the exact-similarity scale pattern)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.0,
    max_doc_frequency: int | None = 10_000,
    parallelism: int | None = None,
    pair_partitions: int | None = None,
    max_posting_size: int | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct word n-gram sets, computed via an
    inverted index: explode distinct shingles, group the doc ids of each
    shingle into a posting list, expand each list into its doc pairs and
    count them (|A∩B|), then |A∪B| = |A|+|B|−|A∩B|.

    Only docs that SHARE a shingle ever meet — no cross product and no
    self-join.

    ``max_doc_frequency`` is the stop-shingle cut that makes this safe at
    corpus scale: a shingle appearing in d docs expands to d·(d−1)/2 pairs,
    so ONE boilerplate shingle shared by 1M docs would emit ~5·10¹¹ pairs
    from a single posting list. Shingles with document frequency above the
    cap are removed from the universe BEFORE sizes and intersections, so
    the result is exact Jaccard over the filtered vocabulary (the standard
    stop-shingle semantics — mirrored in the SQL oracle). The per-posting
    pair expansion is then bounded by cap²/2. ``None`` disables the cut
    (oracle comparison on tiny corpora only).

    Plan shape: the corpus is tokenized and shingled ONCE. The exploded
    (id, shingle) rows go through up to three shuffles, none of which
    carries text: on shingle for the document-frequency count window, on
    id for the set-size count window, and on shingle again for the
    posting lists. Each posting entry is ``struct(id, set_size)``, so both
    sizes ride into the pair stream and the pair count groups by
    ``(id_a, id_b, n_a, n_b)`` — one more shuffle, and no size join that
    would re-derive the shingle subtree.

    ``pair_partitions`` sets the partition count of the pair-count
    aggregate (default 8× ``parallelism`` when given). The pair stream is
    nearly-all-distinct keys, so per-task aggregate state is ~pairs ÷
    partitions; on a DENSE corpus (tiny vocabulary: every posting near
    the DF cut without crossing it) total pairs approach Σ C(df, 2) and
    the session default partition count concentrates multi-GB hash maps
    onto each task — the round-5 stress rehearsal OOM'd an 8 GB local
    heap exactly this way at 200 k docs × 30-word vocab. More partitions
    cost nothing (same single exchange, AQE coalesces small ones) and
    bound per-task state. The expansion itself already streams through
    generators; this bounds the AGGREGATION side too.

    ``max_posting_size`` is the dense-corpus escape hatch (the LSH
    ``max_bucket_size`` trade, same semantics): when a tiny vocabulary
    puts EVERY shingle near the DF cut without crossing it, total pairs
    approach Σ C(df, 2) — ~2.5·10⁹ at 200 k docs × 30-word vocab, a
    ~60 GB pair shuffle that no partitioning trick absorbs on a small
    heap. Capping each posting to its first ``max_posting_size`` sorted
    ids bounds pairs by shingles × C(cap, 2); retained pairs still link
    clusters transitively (what downstream dedup needs), set sizes stay
    exact, and the reported jaccard becomes a LOWER bound for pairs
    involving truncated postings (threshold filtering is conservative —
    it can only drop, never fabricate). Leave ``None`` (exact) unless the
    corpus is degenerate-dense; the DF cut alone handles boilerplate.
    """
    from pyspark.sql.window import Window

    if parallelism:
        df = df.repartition(parallelism)
    sh = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks")).select(
        F.col(id_col), F.explode(F.array_distinct(ngrams(F.col("__toks"), shingle_n))).alias("sh")
    )
    if max_doc_frequency is not None:
        # Stop-shingle cut as a count window over partitionBy(sh):
        # WindowExec spills per-group buffers to disk, so a degenerate
        # boilerplate shingle stays memory-bounded here and is dropped
        # before any collect_list sees it.
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
            .filter(F.col("__df") <= max_doc_frequency)
            .drop("__df")
        )
    # set size = the doc's shingle count after the cut; collect_list skips
    # NULL ids, so they take no part in postings or sizes
    sized = sh.filter(F.col(id_col).isNotNull()).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    postings = (
        sized.groupBy("sh")
        .agg(F.sort_array(F.collect_list(F.struct(F.col(id_col).alias("id"), "n"))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_posting_size is not None:
        postings = postings.withColumn("ids", F.slice("ids", 1, max_posting_size))
    # pair expansion via two generators (posexplode + explode of a slice):
    # plain expressions stay in whole-stage codegen, where the equivalent
    # nested-transform lambda form is interpreted (~15% slower end-to-end)
    pairs = (
        postings.select(F.posexplode("ids").alias("i", "a"), F.col("ids"))
        .select(
            "a",
            F.explode(
                F.slice(
                    F.col("ids"),
                    F.col("i") + 2,
                    F.greatest(F.size("ids") - F.col("i") - 1, F.lit(0)),
                )
            ).alias("b"),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
    )
    if pair_partitions is None and parallelism:
        pair_partitions = parallelism * 8
    if pair_partitions:
        # pre-partition on a subset of the aggregate's keys: the groupBy
        # reuses this exchange (ENSURE_REQUIREMENTS satisfied), so the
        # partition count changes but the shuffle count does not
        pairs = pairs.repartition(pair_partitions, "id_a", "id_b")
    out = (
        pairs.groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            "id_a",
            "id_b",
            (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold) if threshold > 0 else out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64


def simhash_band_specs(n_bands: int) -> list[tuple[int, int]]:
    """(bit_offset, width) for each of ``n_bands`` disjoint bands covering
    the 64-bit signature; the last band absorbs the remainder bits.
    Pigeonhole: a pair with hamming ≤ n_bands − 1 agrees on ≥ 1 band."""
    if not 1 <= n_bands <= SIMHASH_BITS:
        raise ValueError(f"n_bands must be in [1, {SIMHASH_BITS}], got {n_bands}")
    w = SIMHASH_BITS // n_bands
    return [
        (b * w, w if b < n_bands - 1 else SIMHASH_BITS - (n_bands - 1) * w)
        for b in range(n_bands)
    ]


#: Per-field width of the packed SimHash accumulators: 4 fields × 16 bits
#: per long. Tokens-per-doc is bounded at 32767 (≈ 200 KB of text) — not
#: 65535 — because the top field occupies bits 48..63 and a count ≥ 2¹⁵
#: there would push the SIGNED long sum past Long.MAX (an ANSI arithmetic
#: overflow mid-aggregation); ≤ 32767 keeps the whole sum < 2⁶³ so neither
#: field carry nor signed overflow can occur. Enforced with a fail-fast.
_PACK_FIELD_BITS = 16
_PACK_MAX_TOKENS = (1 << (_PACK_FIELD_BITS - 1)) - 1


def simhash(
    df: DataFrame, id_col: str, text_col: str, *, packed: bool = True, hash_fn: str = "md5"
) -> DataFrame:
    """64-bit SimHash per document over its (non-distinct) tokens, stored
    as a signed ``long`` (bit 63 is the sign bit).

    Exploded-aggregation form: per bit, sum(±1) over token hashes, bit set
    iff the sum is ≥ 0. Bits 0–31 come from the first 8 md5 hex chars of
    the token, bits 32–63 from the next 8 — two independent 32-bit hashes,
    so no 64-bit unsigned arithmetic is needed anywhere (the DuckDB oracle
    mirrors the same hi/lo split).

    ``packed`` (default) folds the 64 per-bit counters into 16 longs of
    4×16-bit fields plus one token count: per token, ``(h >> k) & 0x10001``
    captures bits ``k`` and ``k+16`` in one mask, so long ``k`` accumulates
    the popcounts of bits ``{k, k+16}`` of the lo hash and ``{k, k+32+16}``
    of the hi hash in its four fields. Bit ``i`` is then set iff
    ``2·cnt_i ≥ n_tokens`` (equivalent to the ±1 sum being ≥ 0). Agg state
    drops 64 → 17 longs per group (3.8× less shuffle/hash-map weight) and
    the per-token projection does ~6 integer ops per packed long instead of
    ~4 per bit — both map-side wins. Fields can't carry and the signed sum
    can't overflow while ``n_tokens ≤ 32767``; longer docs fail fast (the
    guard's message, or a raw ANSI overflow for docs past ~49k tokens whose
    sum trips mid-aggregation) — use ``packed=False`` for such corpora.
    The unpacked form remains as the reference implementation
    (equivalence property-tested) and the big-doc escape hatch.

    ``hash_fn``: ``"md5"`` (default) is engine-portable — the DuckDB
    oracle computes identical signatures. ``"xxhash64"`` swaps the token
    hash for Spark's native 64-bit xxHash: measured ~3× faster end-to-end
    at sf0.1 (the md5 hex → conv decode dominates the md5 pipeline), fully
    deterministic across runs/partitionings, but Spark-private — use it in
    production, keep md5 where cross-engine reproducibility matters.
    Signatures from the two hashes are NOT comparable to each other.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    # hoist the hash derivation into the projection: each aggregate
    # expression below references a plain long column, so the hash is
    # computed ONCE per token instead of once per (token, bit) — the
    # aggregate planner does not CSE across aggregate expressions
    if hash_fn == "md5":
        md5c = F.md5(F.col("tok"))
        hlo = F.conv(F.substring(md5c, 1, 8), 16, 10).cast("long")
        hhi = F.conv(F.substring(md5c, 9, 8), 16, 10).cast("long")
    elif hash_fn == "xxhash64":
        xx = F.xxhash64(F.col("tok"))
        hlo = xx.bitwiseAND(F.lit(0xFFFF_FFFF).cast("long"))
        hhi = F.shiftrightunsigned(xx, 32)
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}")
    hashed = toks.select(F.col(id_col), hlo.alias("__hlo"), hhi.alias("__hhi"))
    if not packed:
        bit_sums = [
            F.sum(
                F.when(
                    F.shiftright(F.col("__hlo" if i < 32 else "__hhi"), i % 32).bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(SIMHASH_BITS)
        ]
        agg = hashed.groupBy(id_col).agg(*bit_sums)
        # bitwise-OR of disjoint single-bit terms: bit 63 as a long literal is
        # Long.MIN, which plain addition could not build without overflow
        sig = F.lit(0).cast("long")
        for i in range(SIMHASH_BITS):
            one_bit = F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
            sig = sig.bitwiseOR(F.when(F.col(f"b{i}") >= 0, one_bit).otherwise(F.lit(0).cast("long")))
        return agg.select(F.col(id_col), sig.alias("simhash"))

    mask = F.lit(0x1_0001).cast("long")
    packed_sums = [
        F.sum(
            F.shiftright(F.col("__hlo"), k).bitwiseAND(mask)
            + F.shiftleft(F.shiftright(F.col("__hhi"), k).bitwiseAND(mask), 32)
        ).alias(f"p{k}")
        for k in range(16)
    ]
    agg = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *packed_sums)
    # fail-fast before any field could have carried: counts are exact while
    # n ≤ 65535, so the guard itself is trustworthy at the boundary
    n = F.when(
        F.col("__n") > _PACK_MAX_TOKENS,
        F.raise_error(
            F.lit(
                f"simhash packed accumulators overflow beyond {_PACK_MAX_TOKENS} "
                "tokens per document; call simhash(..., packed=False) for such corpora"
            )
        ).cast("long"),
    ).otherwise(F.col("__n"))

    def bit_count(i: int) -> Column:
        field = 0 if i < 16 else 1 if i < 32 else 2 if i < 48 else 3
        return F.shiftright(F.col(f"p{i % 16}"), _PACK_FIELD_BITS * field).bitwiseAND(
            F.lit(0xFFFF).cast("long")
        )

    sig = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        one_bit = F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long")
        sig = sig.bitwiseOR(
            F.when(bit_count(i) * 2 >= n, one_bit).otherwise(F.lit(0).cast("long"))
        )
    return agg.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    *,
    bands: int | None = None,
    max_bucket_size: int = 10_000,
    hash_fn: str = "md5",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits, docs equal in ≥1 band
    meet (pigeonhole guarantees recall for hamming ≤ bands − 1), then exact
    ``bit_count(xor)`` filters to ``max_hamming``.

    The RESULT is invariant to the band count whenever ``bands >
    max_hamming`` — banding only generates candidates, and pigeonhole
    makes every pair within the hamming budget a candidate under any such
    banding. So the default uses the MINIMAL count, ``max_hamming + 1``,
    giving the widest (most selective) bands: 4 bands of 16 bits collide
    on ~2⁻¹⁶·4 of random pairs, vs ~2⁻⁸·8 for byte-bands — ~100× fewer
    junk candidates for the same output.

    Scale shape: same capped group-expand as :func:`lsh_candidate_pairs` —
    group by (band_id, value), sort members, expand successor pairs
    locally. The former bucket SELF-JOIN keyed on bands×2⁸ distinct values
    capped parallelism forever and emitted ~(N/buckets)² candidate pairs
    per bucket; grouping makes each bucket one task and ``max_bucket_size``
    bounds the quadratic expansion of degenerate buckets (a capped bucket
    still links its members transitively through the retained ids, which
    is what downstream clustering needs).
    """
    sig = simhash(df, id_col, text_col, hash_fn=hash_fn)
    return hamming_near_pairs(
        sig, id_col, "simhash", max_hamming=max_hamming, bands=bands,
        max_bucket_size=max_bucket_size,
    )


def hamming_near_pairs(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    *,
    max_hamming: int = 3,
    bands: int | None = None,
    max_bucket_size: int = 10_000,
) -> DataFrame:
    """Near pairs over ANY 64-bit signature column (SimHash, image pHash,
    audio fingerprint …) by banded hamming search — the banding/expansion
    engine of :func:`simhash_near_pairs`, factored out so every 64-bit
    fingerprint family shares one audited candidate-generation path. Same
    guarantees: pigeonhole recall for ``hamming < bands``, minimal-width
    default banding, capped streamed bucket expansion."""
    n_bands = bands if bands is not None else max_hamming + 1
    if n_bands <= max_hamming:
        raise ValueError(
            f"bands ({n_bands}) must exceed max_hamming ({max_hamming}) or "
            "pigeonhole recall breaks"
        )

    def band_value(lo: int, width: int) -> Column:
        shifted = F.shiftright(F.col(sig_col), lo)
        if width >= SIMHASH_BITS:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    member = F.struct(F.col(id_col).alias("id"), F.col(sig_col).alias("sig"))
    bands_df = sig_df.select(
        member.alias("m"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), band_value(lo, w).alias("band_val"))
                    for b, (lo, w) in enumerate(simhash_band_specs(n_bands))
                ]
            )
        ).alias("bb"),
    ).select("m", F.col("bb.band_id").alias("band_id"), F.col("bb.band_val").alias("band_val"))
    grouped = _capped_bucket_lists(
        bands_df, ["band_id", "band_val"], F.col("m"), max_bucket_size
    ).withColumnRenamed("ids", "ms")
    # bucket-local (a, b) expansion with the hamming distance computed in
    # place: members are sorted by id, so successor pairing gives id_a < id_b
    return (
        _expand_successor_pairs(grouped, "ms")
        .select(
            F.col("m.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(F.col("m.sig").bitwiseXOR(F.col("y.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Cluster near-dup candidate pairs into components: (node, component)
    where component = the minimum node id reachable through the pair graph.

    Iterative min-label propagation (the large-graph CC algorithm — cf.
    GraphX/GraphFrames): each round every node takes the min of its own
    label and its neighbors' labels; converges in O(diameter) rounds, and
    near-dup graphs are shallow (clusters are quasi-cliques, diameter ≤ 2-3
    almost always). Each round is one join + one groupBy on narrow (node,
    label) rows; ``localCheckpoint`` cuts the lineage so round N's plan
    doesn't replay rounds 1..N-1.

    Pair graphs of at most ``local_threshold`` input pair ROWS (duplicates
    and both directions counted as given) solve on the Spark driver instead:
    one ``limit(local_threshold + 1)`` collect of the checkpointed
    (src, dst) ids — bounded at 2 small values × threshold rows — goes
    straight into union-find, which needs neither the symmetrized nor the
    de-duplicated edge set. Identical output, one collect instead of
    2-per-round jobs, which dominates wall-clock on the tiny pair graphs
    real thresholds produce. Only the distributed loop (above the
    threshold) builds the symmetrized ``distinct()`` edge set; pass
    ``local_threshold=0`` to force it (the loop is the code under test in
    the equivalence suite).
    """
    # materialize ONCE: the local collect and, above the threshold, the
    # edge set both read the pairs, whose lineage is the whole upstream
    # candidate-pair pipeline (minhash/LSH) — without this cut each reader
    # re-runs that pipeline from the parquet scan
    ids = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).localCheckpoint()
    if local_threshold:
        rows = ids.limit(local_threshold + 1).collect()
        if len(rows) <= local_threshold:
            return _connected_components_local(
                rows, ids.schema["src"].dataType, ids.sparkSession
            )
    edges = (
        ids.union(ids.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        # edges join into every round: checkpoint the symmetrized set once
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )

    for _ in range(max_iter):
        # one round = 2 shuffles: propagate each node's label to its
        # neighbors (join on src, emit at dst), then min-combine with the
        # node's own label (union + partial-aggregated groupBy). The node's
        # own row is tagged so the SAME aggregation also yields the previous
        # label — the convergence probe compares new vs old directly, which
        # works for any id type (a numeric-sum probe would NULL out on
        # string ids and terminate the loop after one round).
        msgs = edges.join(labels, edges.src == labels.node).select(
            F.col("dst").alias("node"), F.col("comp"), F.lit(0).alias("__own")
        )
        own = labels.select("node", "comp", F.lit(1).alias("__own"))
        new_labels = (
            msgs.union(own)
            .groupBy("node")
            .agg(
                F.min("comp").alias("comp"),
                # every node appears exactly once tagged __own=1, so this is
                # its previous label (never null)
                F.min(F.when(F.col("__own") == 1, F.col("comp"))).alias("__prev"),
            )
            .localCheckpoint()
        )
        converged = new_labels.filter(F.col("comp") != F.col("__prev")).isEmpty()
        labels = new_labels.select("node", "comp")
        if converged:
            break
    return labels.select(F.col("node"), F.col("comp").alias("component"))


def union_find_components(pairs) -> dict:
    """Union-find over an iterable of (a, b) pairs (either direction,
    duplicates allowed): every node that appears in a pair → the minimum
    member of its connected component. Pure Python, for pair graphs small
    enough to hold on one process (a collected pair set on the driver, or
    one cell's pairs inside a grouped map)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for n in parent:
        root = find(n)
        cur = comp_min.get(root)
        comp_min[root] = n if cur is None or n < cur else cur
    return {n: comp_min[find(n)] for n in parent}


def _connected_components_local(rows: list, node_type, spark) -> DataFrame:
    """:func:`union_find_components` over a SMALL collected list of
    (src, dst) pair rows (size-gated by the caller): same (node,
    min-reachable-id) output as the distributed loop. The frame is a
    :func:`local_frame` built on the driver, so scanning it runs no job.
    It is marked for broadcast (it holds at most ``local_threshold``
    pairs' nodes), so joins against it — :func:`dedup_survivors`' loser
    anti-join above all — never shuffle the other side, whatever size
    the planner estimates for it."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("node", node_type), T.StructField("component", node_type)]
    )
    return F.broadcast(local_frame(spark, union_find_components(rows).items(), schema))


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """The end product of near-dup detection: docs minus all but the
    minimum-id member of each duplicate cluster. Docs in no pair survive
    untouched (anti-join against the non-survivor ids; when the pair graph
    was solved on the driver that set is broadcast, so the docs and their
    text are never shuffled)."""
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    losers = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def dedup_survivors_by_priority(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    priority: Column,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Near-dedup keeping the BEST member of each duplicate cluster by an
    explicit ``priority`` expression (highest wins; ties break to the
    minimum id) instead of :func:`dedup_survivors`' arbitrary min-id rule.
    Real curation wants this: among near-duplicate pages keep the longest
    / highest-quality-scored / most-recent one, because the survivor is
    what the training set actually contains. ``priority`` is any Column
    over ``docs`` (token count, ``text.quality_score``, a timestamp cast).

    Scale shape: clustering is :func:`connected_components` on the pair
    graph; ranking shuffles only (id, priority, component) — never text —
    and the per-cluster ``row_number`` window partitions by component
    (clusters are near-dup sized, not corpus sized). Survivor set comes
    back to ``docs`` as a broadcast-sized anti-join of loser ids."""
    from pyspark.sql.window import Window

    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    ranked = (
        docs.select(F.col(id_col), priority.alias("__prio"))
        .join(cc, F.col(id_col) == F.col("node"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("component").orderBy(
                    F.col("__prio").desc(), F.col(id_col).asc()
                )
            ),
        )
    )
    losers = ranked.filter(F.col("__rn") > 1).select(F.col(id_col))
    return docs.join(losers, id_col, "left_anti")


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_distance: int,
    prefix_chars: int = 400,
    num_hashes: int = 32,
    bands: int = 8,
    parallelism: int | None = None,
    max_bucket_size: int | None = 1_000,
) -> DataFrame:
    """Near-duplicate pairs verified by EDIT DISTANCE: MinHash-LSH proposes
    candidates (no all-pairs), then ``levenshtein`` on a fixed prefix
    confirms. The LSH⇒verify split is the only way edit distance survives
    scale — Levenshtein is O(len²) PER PAIR, so it must never meet more
    than the banding survivors, and ``prefix_chars`` caps the quadratic
    term itself (doc pairs that diverge beyond the prefix are already
    non-duplicates at any sane threshold).

    Returns (id_a, id_b, edit_distance) for candidates with distance <=
    ``max_distance``. Distance is computed on ``substr(text, 1,
    prefix_chars)`` of both sides — deterministic, engine-portable
    (unit-cost Levenshtein is identical in Spark and DuckDB).
    """
    pairs = lsh_candidate_pairs(
        df, id_col, text_col, num_hashes=num_hashes, bands=bands,
        parallelism=parallelism, max_bucket_size=max_bucket_size,
    )
    txt = df.select(F.col(id_col), F.substring(F.col(text_col), 1, prefix_chars).alias("__t"))
    a = txt.select(F.col(id_col).alias("id_a"), F.col("__t").alias("__ta"))
    b = txt.select(F.col(id_col).alias("id_b"), F.col("__t").alias("__tb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("edit_distance", F.levenshtein("__ta", "__tb"))
        .filter(F.col("edit_distance") <= max_distance)
        .select("id_a", "id_b", "edit_distance")
    )


def ngram_overlap_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 13,
    lowercase: bool = True,
    max_train_gram_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: find (train doc, eval doc) pairs sharing
    at least one ``n``-token gram — the GPT-3-style 13-gram overlap rule
    (public: Brown et al. 2020 App. C) every serious pretraining pipeline
    runs before training. Output ``(train_id, eval_id, n_shared_grams)``;
    downstream either drops the train docs or flags the eval scores.

    Scale shape: the EVAL side is benchmark-sized by nature (thousands of
    documents, not billions) — its distinct gram table BROADCASTS, so the
    100 TB train scan explodes to grams and joins map-side: zero shuffle
    of train data; the only exchange is the per-pair count aggregate
    (bounded by true overlaps). ``max_train_gram_df`` optionally drops
    grams whose TRAIN document frequency exceeds the cap (universal
    boilerplate shared with an eval doc would otherwise emit one row per
    train doc — real contamination signal, but at |train| rows it belongs
    in a boilerplate report, not a pair list); the cut costs one extra
    partial-aggregated pass over train grams, off by default.
    """

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        toks = tokens(F.col(text_col))
        if lowercase:
            toks = F.transform(toks, lambda t: F.lower(t))
        # tokens (and their lowercase) once per document, in their own
        # projection; per-doc dedup INSIDE the array (array_distinct) — a
        # post-explode .distinct() would shuffle every train gram for nothing
        return df.select(F.col(id_col).alias(out_id), toks.alias("__toks")).select(
            out_id, F.explode(F.array_distinct(ngrams(F.col("__toks"), n))).alias("gram")
        )

    tr = grams(train, "train_id")
    ev = grams(eval_df, "eval_id")
    if max_train_gram_df is not None:
        df_t = tr.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
        tr = tr.join(
            df_t.filter(F.col("__df") <= max_train_gram_df).select("gram"), "gram"
        )
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def substring_overlap_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    passage_len: int = 30,
    stride: int = 8,
    lowercase: bool = True,
) -> DataFrame:
    """Passage-level EXACT substring decontamination — the character-grain
    contamination mode token n-gram rules miss (a verbatim quote that
    straddles tokenization, numbers, or punctuation). Public method: the
    suffix-array exact-substring criterion of Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better", §4) —
    flag a (train, eval) pair when they share a verbatim character run of
    at least a threshold length. A distributed suffix array is the wrong
    Spark shape (one global sort of every suffix), so the equivalent
    rolling-window formulation is used instead:

    - TRAIN side emits its length-``passage_len`` character windows at
      ``stride`` (|text|/stride rows, per-doc deduped inside the array);
    - EVAL side (benchmark-sized by nature) emits ALL its windows
      (stride 1) and the 8-byte xxhash64 of each — the (eval_id, hash)
      table broadcasts;
    - a train window hash-matching an eval window is a candidate; the
      survivor set (true overlaps + ~0 collisions) is exact-verified with
      a ``contains`` probe against the broadcast eval texts.

    GUARANTEE: any shared verbatim run of length >= passage_len + stride
    - 1 contains a full strided train window, and the dense eval side has
    every window — so no such run escapes. Detection grain is tunable:
    (30, 8) flags runs >= 37 chars, between the 13-token GPT-3 gram rule
    and chunk-level dedup.

    Output ``(train_id, eval_id, n_shared_passages)`` where the count is
    of DISTINCT matched train windows — a verbatim-length proxy that
    downstream thresholds (1 window = one short quote; dozens = a
    wholesale copy).

    Scale shape (100 TB train corpus): the train scan never shuffles raw
    text — windows hash-join map-side against the broadcast eval hash
    table (8+8 bytes per eval window; a 10k-doc benchmark at 1k chars is
    ~10M windows = ~160 MB, and `passage_len`-sized shards of the eval
    set bound it further if needed). The only exchange is the per-pair
    count aggregate, bounded by true contamination volume. The verify
    join touches only candidate rows against the broadcast eval texts.
    """
    if passage_len < 1 or stride < 1:
        raise ValueError("passage_len and stride must be positive integers")

    def windows(df: DataFrame, out_id: str, step: int) -> DataFrame:
        # the (lowercased) text is its own projection, so the window
        # lambda reads a column instead of lowercasing the whole text
        # again for every window
        t = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
        txt = df.select(F.col(id_col).alias(out_id), t.alias("__t"))
        npos = F.length("__t") - F.lit(passage_len) + 1
        pos = F.when(
            npos >= 1, F.sequence(F.lit(1), npos, F.lit(step))
        ).otherwise(F.array().cast("array<int>"))
        # per-doc dedup INSIDE the array — a post-explode .distinct()
        # would shuffle every train window for nothing
        w = F.explode(
            F.array_distinct(
                F.transform(pos, lambda i: F.substring(F.col("__t"), i, passage_len))
            )
        )
        return txt.select(out_id, w.alias("passage"))

    ev_hashes = windows(eval_df, "eval_id", 1).select(
        "eval_id", F.xxhash64("passage").alias("__h")
    )
    tr_w = windows(train, "train_id", stride).withColumn(
        "__h", F.xxhash64("passage")
    )
    cand = tr_w.join(F.broadcast(ev_hashes.distinct()), "__h")
    ev_txt = eval_df.select(
        F.col(id_col).alias("eval_id"),
        (F.lower(F.col(text_col)) if lowercase else F.col(text_col)).alias("__evt"),
    )
    # plain count IS the distinct-passage count here: windows are deduped
    # inside each train doc's array (array_distinct) and the broadcast
    # hash table is distinct on (eval_id, hash), so one (train, eval)
    # group never sees a passage twice — count_distinct would re-shuffle
    # the candidate passages through an extra (…, passage)-keyed exchange
    # for nothing.
    return (
        cand.join(F.broadcast(ev_txt), "eval_id")
        .filter(F.contains(F.col("__evt"), F.col("passage")))
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared_passages"))
    )
