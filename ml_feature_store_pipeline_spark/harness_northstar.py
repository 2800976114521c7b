"""North-star query registry: dedup, similarity search, text analysis,
multimodal plumbing, windowed aggregation (BASELINE.json extensions).

The MinHash/SimHash oracles are generated SQL that reproduces the md5-based
signatures bit-for-bit in DuckDB — the point of deriving every hash from
md5 instead of Spark-private xxhash64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import davg_sql, dsum, dsum_sql, local_frame, tokens
from .harness import register
from .operators import dedup, multimodal, selection, similarity, text
from .operators import fe as fe_ops
from .operators import windows as windows_ops
from .sources.readers import read_table


def _par(spark: SparkSession) -> int:
    """Target parallelism for CPU-bound per-row stages: the driver testdata
    arrives as ONE small parquet file, which would serialize heavy hashing
    onto a single core; at production scale file counts make this a no-op."""
    return spark.sparkContext.defaultParallelism


def _par_rows(
    spark: SparkSession, sf_dir: str, table: str, rows_per_task: int = 1000
) -> int:
    """Row-proportional parallelism for Python-boundary (mapInPandas /
    Arrow) stages, capped at the cluster parallelism: each task should
    see at least ~``rows_per_task`` rows so worker fork + Arrow batch
    framing amortize. The r12 scaling block showed the decode queries
    FASTER at 8 cores than 32 (ratios 0.23/0.36) — 32-way splits of a
    5000-row corpus starve every task; the measured knee at sf0.1 is
    4-8 partitions (0.36 s vs 0.7-1.1 s at 32). At production row counts
    the cap saturates to ``defaultParallelism``, so this is
    scale-adaptive, not a local constant. Costs one session-cached
    column-pruned count job (:func:`table_rows`)."""
    from .sources.readers import table_rows

    return max(1, min(_par(spark), -(-table_rows(spark, sf_dir, table) // rows_per_task)))


#: DuckDB token list identical to functions.tokens()
_SQL_TOKS = "list_filter(regexp_split_to_array(trim({t}), '\\s+'), x -> x <> '')"


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS.format(t='text')} AS toks FROM documents)
    SELECT doc_id,
           LENGTH(text) AS n_chars,
           CAST(LEN(toks) AS BIGINT) AS n_tokens,
           CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_tokens_bpeish,
           CAST(LENGTH(text) - LENGTH(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_whitespace,
           CASE WHEN LEN(toks) > 0
                THEN CAST(LEN(array_to_string(toks, '')) AS DOUBLE) / LEN(toks)
                ELSE 0.0 END AS mean_token_len,
           CAST(LENGTH(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
             / GREATEST(LENGTH(text), 1) AS punct_ratio,
           CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
             / GREATEST(LENGTH(text), 1) AS digit_ratio
    FROM t
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return text.text_stats(docs, "doc_id", "text")


def _lang_sql() -> str:
    toks = _SQL_TOKS.format(t="lower(text)")
    hits = {
        lang: f"CAST(LEN(list_filter({toks}, x -> x IN ({', '.join(repr(w) for w in words)}))) AS BIGINT)"
        for lang, words in text.STOPWORDS.items()
    }
    hit_cols = ",\n           ".join(f"{expr} AS hits_{lang}" for lang, expr in hits.items())
    best = "GREATEST(" + ", ".join(f"hits_{lang}" for lang in text.STOPWORDS) + ")"
    guess = "'und'"
    for lang in reversed(list(text.STOPWORDS)):
        guess = f"CASE WHEN hits_{lang} = {best} AND {best} > 0 THEN '{lang}' ELSE {guess} END"
    return f"""
    WITH h AS (
      SELECT doc_id,
           {hit_cols}
      FROM documents
    )
    SELECT doc_id, {guess} AS lang_guess,
           hits_en, hits_de, hits_fr, hits_es
    FROM h
    """


@register("language_id", _lang_sql())
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(read_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "doc_quality_scores",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             CAST(LEN({_SQL_TOKS.format(t='text')}) AS BIGINT) AS n_tok,
             CAST(LENGTH(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) AS punct,
             CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) AS digit,
             CAST(LEN(list_filter({_SQL_TOKS.format(t='lower(text)')},
                  x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
               / GREATEST(LEN({_SQL_TOKS.format(t='text')}), 1) AS stop_ratio
      FROM documents
    )
    SELECT doc_id, n_tok AS n_tokens,
           ROUND(
             (CASE WHEN n_tok < 5 THEN n_tok / 5.0 WHEN n_tok > 5000 THEN 0.5 ELSE 1.0 END)
             * (1.0 - LEAST(punct * 2, 1.0))
             * (1.0 - LEAST(digit * 2, 1.0))
             * (0.5 + LEAST(stop_ratio * 2, 0.5)), 6) AS quality_score
    FROM t
    """,
)
def q_doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(read_table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# dedup: exact, MinHash LSH, SimHash, n-gram Jaccard
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_docs",
    "SELECT MIN(doc_id) AS doc_id, md5(text) AS content_hash FROM documents GROUP BY md5(text)",
)
def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the lowest id per content (deterministic survivor).
    Shuffles a 16-byte digest, not the document text."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    # content is already a 16-byte digest — raw grouping IS the digest path
    return dedup.exact_dedup(docs, ["content_hash"], "doc_id", method="raw").select(
        "doc_id", "content_hash"
    )


_MINHASH_N = 8
_MINHASH_BANDS = 4
_SHINGLE_N = 3
# Stop-shingle document-frequency cap for ngram_jaccard_pairs (applied on
# BOTH engines; at sf0.01 max df is 7, so driver results are unchanged —
# the cap's explosion guard is pytest-covered with a synthetic hot shingle).
_NGRAM_MAX_DF = 1000


def _minhash_sig_sql() -> str:
    toks = _SQL_TOKS.format(t="text")
    mins = ",\n           ".join(
        f"MIN(md5('{i}|' || sh)) AS m{i}" for i in range(_MINHASH_N)
    )
    concat = " || '|' || ".join(f"m{i}" for i in range(_MINHASH_N))
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    sh AS (
      SELECT doc_id, array_to_string(toks[i:i+{_SHINGLE_N - 1}], ' ') AS sh
      FROM t, UNNEST(generate_series(1, LEN(toks) - {_SHINGLE_N - 1})) AS u(i)
      WHERE LEN(toks) >= {_SHINGLE_N}
    ),
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)
    SELECT doc_id, {concat} AS signature FROM sig
    """


@register("minhash_signatures", _minhash_sig_sql())
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-local MinHash signatures (no shuffle until the final exchange)."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    sig = dedup.minhash_signatures(docs, "doc_id", "text", _MINHASH_N, _SHINGLE_N)
    return sig.filter(F.col("signature")[0].isNotNull()).select(
        "doc_id", F.concat_ws("|", "signature").alias("signature")
    )


def _minhash_pairs_sql() -> str:
    rows = _MINHASH_N // _MINHASH_BANDS
    band_cols = []
    for b in range(_MINHASH_BANDS):
        parts = " || '|' || ".join(f"m{i}" for i in range(b * rows, (b + 1) * rows))
        band_cols.append(f"({b}, md5({parts}))")
    mins = ", ".join(f"MIN(md5('{i}|' || sh)) AS m{i}" for i in range(_MINHASH_N))
    toks = _SQL_TOKS.format(t="text")
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    sh AS (
      SELECT doc_id, array_to_string(toks[i:i+{_SHINGLE_N - 1}], ' ') AS sh
      FROM t, UNNEST(generate_series(1, LEN(toks) - {_SHINGLE_N - 1})) AS u(i)
      WHERE LEN(toks) >= {_SHINGLE_N}
    ),
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bb AS (
      SELECT doc_id, band.* FROM sig,
      LATERAL (SELECT * FROM (VALUES {', '.join(band_cols)}) AS v(band_id, bucket)) AS band
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bb a JOIN bb b
      ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """


@register("minhash_candidate_pairs", _minhash_pairs_sql())
def q_minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(
        docs, "doc_id", "text", num_hashes=_MINHASH_N, bands=_MINHASH_BANDS,
        parallelism=_par(spark),
    )


@register(
    "incremental_minhash_pairs",
    _minhash_pairs_sql().replace(
        "FROM bb a JOIN bb b\n      ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id",
        "FROM bb a JOIN bb b\n      ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id\n    WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0",
    ),
)
def q_incremental_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion near-dup: every 10th doc plays the NEW batch,
    the rest the standing corpus (`dedup.lsh_candidate_pairs_incremental`).
    Exact oracle: the FULL pipeline's pair SQL filtered to pairs touching
    the batch — the incremental form must reproduce it while pruning
    corpus-only buckets before any pair expansion and reusing the corpus's
    precomputed signatures. In the r4 driver window."""
    docs = read_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    sigs = dedup.minhash_signatures(
        corpus.repartition(_par(spark)), "doc_id", "text", _MINHASH_N
    )
    return dedup.lsh_candidate_pairs_incremental(
        new,
        corpus,
        "doc_id",
        "text",
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        corpus_signatures=sigs,
        parallelism=_par(spark),
    )


def _simhash_sql() -> str:
    # 64-bit twin of dedup.simhash: bits 0–31 hash from md5 chars 1–8,
    # bits 32–63 from chars 9–16 (two independent 32-bit hashes — no
    # unsigned-64 arithmetic). The signed long is assembled as hi/lo
    # 32-bit halves with an explicit two's-complement sign adjustment,
    # because DuckDB's `<<` overflow-checks (1::BIGINT << 63 errors).
    toks = _SQL_TOKS.format(t="text")
    bit_sums = ", ".join(
        f"SUM(CASE WHEN ({'hlo' if i < 32 else 'hhi'} >> {i % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(dedup.SIMHASH_BITS)
    )
    lo = " + ".join(f"CASE WHEN b{i} >= 0 THEN {1 << i} ELSE 0 END" for i in range(32))
    hi = " + ".join(f"CASE WHEN b{i} >= 0 THEN {1 << (i - 32)} ELSE 0 END" for i in range(32, 64))
    return f"""
    WITH tok AS (SELECT doc_id, UNNEST({toks}) AS tok FROM documents),
    h AS (SELECT doc_id,
            CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hlo,
            CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS hhi
          FROM tok),
    bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id),
    parts AS (SELECT doc_id, CAST({lo} AS BIGINT) AS lo, CAST({hi} AS BIGINT) AS hi FROM bits)
    SELECT doc_id,
           CAST((hi - CASE WHEN hi >= 2147483648 THEN 4294967296 ELSE 0 END)
                * 4294967296 + lo AS BIGINT) AS simhash
    FROM parts
    """


@register("simhash_docs", _simhash_sql())
def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return dedup.simhash(docs, "doc_id", "text")


def _simhash_pairs_sql(max_hamming: int) -> str:
    # Twin of dedup.simhash_near_pairs: docs agreeing on ≥1 band, filtered
    # by exact hamming. Same minimal banding as the Spark side (result is
    # band-count-invariant, but matching keeps both plans comparable). The
    # SQL self-join is the oracle-only formulation — the Spark side uses
    # the capped group-expand (max_bucket_size is inert at oracle scales).
    specs = dedup.simhash_band_specs(max_hamming + 1)
    band_rows = ", ".join(
        f"({b}, (simhash >> {lo}) & {(1 << w) - 1})" if w < dedup.SIMHASH_BITS
        else f"({b}, simhash)"
        for b, (lo, w) in enumerate(specs)
    )
    return f"""
    WITH sig AS ({_simhash_sql()}),
    bands AS (
      SELECT doc_id, simhash, band.* FROM sig,
      LATERAL (SELECT * FROM (VALUES {band_rows}) AS v(band_id, band_val)) AS band
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@register("simhash_near_pairs", _simhash_pairs_sql(3))
def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3) via 8 byte-bands over the
    64-bit signature + capped bucket group-expand."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS.format(t='text')} AS toks FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+{_SHINGLE_N - 1}], ' ') AS sh
      FROM t, UNNEST(generate_series(1, LEN(toks) - {_SHINGLE_N - 1})) AS u(i)
      WHERE LEN(toks) >= {_SHINGLE_N}
    ),
    df AS (SELECT sh, COUNT(*) AS d FROM sh0 GROUP BY sh),
    sh AS (  -- stop-shingle cut: same document-frequency cap as the Spark side
      SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN df USING (sh) WHERE df.d <= {_NGRAM_MAX_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(CAST(n AS DOUBLE) / (sa.sz + sb.sz - n), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) >= 0.3
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard ≥ 0.3 via inverted-index self-join, with the
    stop-shingle document-frequency cut active (and mirrored in the oracle)."""
    docs = read_table(spark, sf_dir, "documents", parallelize=True)
    out = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=_SHINGLE_N, threshold=0.3,
        max_doc_frequency=_NGRAM_MAX_DF, parallelism=_par(spark)
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_COS_SQL = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
    "sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


@register(
    "cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT q.query_id, c.vec_id,
             {_COS_SQL.format(a='q.qv', b='c.embedding')} AS cosine
      FROM q, embeddings c
    ),
    ranked AS (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, ROUND(cosine, 9) AS cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-k cosine (the ANN baseline): corpus scanned once,
    queries broadcast, all math codegen'd."""
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(queries, emb, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 9).alias("cosine"), F.col("rank").cast("int").alias("rank")
    )


@register(
    "embedding_near_dup",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 9) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND {_COS_SQL.format(a='a.embedding', b='b.embedding')} >= 0.4
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact mode for the oracle; the LSH
    candidate path is ``embedding_near_dup_pairs(exact=False)``)."""
    emb = read_table(spark, sf_dir, "embeddings")
    out = similarity.embedding_near_dup_pairs(emb, threshold=0.4, exact=True)
    return out.select("id_a", "id_b", F.round("cosine", 9).alias("cosine"))


def _recall_row(spark, exact_rows, approx_rows, *, k: int, floor: float):
    """Driver-side replay of the bounded-quality recall row the ANN
    queries used to compute as ``intersect → count / count`` over pinned
    LocalRelations (plan bookkeeping over |queries|·k rows — see
    functions.pin_rows): n_hit counts the distinct (query, corpus) pairs
    both lists share (INTERSECT's set semantics), n_exact counts exact
    rows, and the recall comparison is the same single IEEE double
    division. NULL-mirrors: an empty exact frame yields a NULL boolean
    exactly like SQL's 0/0."""
    ex = [(r[0], r[1]) for r in exact_rows]
    n_exact = len(ex)
    n_queries = len({q for q, _ in ex})
    n_hit = len(set(ex) & {(r[0], r[1]) for r in approx_rows})
    ok = None if n_exact == 0 else bool(n_hit / n_exact >= floor)
    return local_frame(spark, [(n_queries, k, ok)], "n_queries bigint, k int, recall_ok boolean")


@register(
    "lsh_ann_topk",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, CAST(5 AS INT) AS k,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 20
    """,
)
def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (the 100 TB path: score only co-bucketed
    candidates), verified by a BOUNDED-QUALITY oracle: the approximate
    result's recall@5 against the exact brute-force top-k (both computed
    here, deterministic — the hyperplanes are md5-seeded) must clear 0.8;
    measured 0.93 at sf0.01 with these params (4 planes × 16 tables —
    recall-oriented for this small corpus; at scale the library's
    corpus-aware defaults take over: similarity.auto_lsh_params grows
    planes ~log2(n) and tables with planes — r10, 2M-vector-measured in
    SCALE.md). The oracle asserts the bound + the query count, so a recall
    collapse or a query-set change fails the hash check — the per-row ANN
    output itself is approximate by design and has no exact twin."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # exact + approx are lineage-independent corpus passes — the
    # concurrent build overlaps the two scans and stops the brute
    # subtree from executing twice in one plan; r12 folds the recall
    # bookkeeping on the driver (see _recall_row — the pins are
    # |queries|*k rows already)
    from .functions import collect_concurrent as _collect_all

    pins = _collect_all(
        {
            "exact": lambda: similarity.cosine_topk(queries, emb, k=5).select(
                "query_id", "vec_id"
            ),
            "approx": lambda: similarity.lsh_topk(
                queries, emb, k=5, dim=64, n_planes=4, n_tables=16
            ).select("query_id", "vec_id"),
        }
    )
    return _recall_row(spark, pins["exact"], pins["approx"], k=5, floor=0.8)


_TOPK_IDS_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT q.query_id, c.vec_id,
             {_COS_SQL.format(a='q.qv', b='c.embedding')} AS cosine
      FROM q, embeddings c
    ),
    ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """


@register("ivf_ann_topk", _TOPK_IDS_SQL)
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: KMeans coarse quantizer → probe nprobe nearest cells →
    exact cosine within probed lists. Registered at FULL probe
    (nprobe == n_cells), which is exactly brute force (property-tested:
    test_similarity.py::test_ivf_topk_full_probe_equals_exact), so the
    driver gets an ids-only exact oracle; cosine floats are dropped because
    the normalized-path summation differs in final ulps from SQL. The
    approximate nprobe<n_cells path stays pytest-covered."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(queries, emb, k=5, n_cells=8, nprobe=8)
    return out.select("query_id", "vec_id", F.col("rank").cast("int").alias("rank"))


# ---------------------------------------------------------------------------
# multimodal: real binary decode (numpy PPM codec — no external deps)
# ---------------------------------------------------------------------------


# The fake payload is a REAL binary P6 PPM whose pixels are the ramp
# (i*a + b) mod 256 with (a, b) drawn from md5(text) bytes 0-1
# (multimodal._fake_pixels). The oracle re-derives those pixels purely in
# SQL — md5 hex → (a, b) → generate_series ramp — and aggregates the same
# exact-integer statistics the Spark side computes FROM THE DECODED BYTES.
# Any decode defect (header skip off-by-one, channel order, truncation)
# breaks a sum, so this hash-checks the whole encode→parse→pixels path.
# 8×8×3 = 192 pixel bytes + the 11-byte "P6\n8 8\n255\n" header = 203.
_MULTIMODAL_SQL = """
    WITH d AS (
      SELECT doc_id, md5(COALESCE(text, '')) AS h FROM documents
    ), ab AS (
      SELECT doc_id,
             1 + 2 * ((16 * (strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
                       + strpos('0123456789abcdef', substr(h, 2, 1)) - 1) % 127) AS a,
             (16 * (strpos('0123456789abcdef', substr(h, 3, 1)) - 1)
              + strpos('0123456789abcdef', substr(h, 4, 1)) - 1) AS b
      FROM d
    ), px AS (
      SELECT doc_id, i, (i * a + b) % 256 AS v
      FROM ab, UNNEST(generate_series(0, 191)) AS u(i)
    )
    SELECT doc_id,
           CAST(203 AS BIGINT) AS n_bytes,
           CAST(8 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(SUM(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS r_sum,
           CAST(SUM(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS g_sum,
           CAST(SUM(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS b_sum,
           CAST(SUM(v * v) AS BIGINT) AS px_sq_sum
    FROM px GROUP BY doc_id
    """


@register("multimodal_decode", _MULTIMODAL_SQL)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload pipeline: text → deterministic P6 PPM payload →
    Arrow-batched mapInPandas decode (REAL numpy header parse + pixel
    reconstruction — bytes→pixels→stats, not a hash stub). Emits the
    exact-integer pixel statistics so the DuckDB oracle (which re-derives
    the expected pixels from the generator formula, never touching the
    binary) can hash-verify the decode (per-channel means and stds are
    pure functions of these sums)."""
    docs = read_table(spark, sf_dir, "documents").repartition(
        _par_rows(spark, sf_dir, "documents")
    )
    payloads = multimodal.attach_fake_payload(docs, "doc_id", "text")
    out = multimodal.decode_image_stats(payloads)
    # sha1 is decode-side only (DuckDB can't reconstruct the binary blob
    # to hash it) — drop it from the oracle-compared projection
    return out.select(
        "doc_id", "n_bytes", "width", "height", "r_sum", "g_sum", "b_sum", "px_sq_sum"
    )


@register(
    "image_phash_dup_groups",
    """
    SELECT cnt AS group_size, CAST(COUNT(*) AS BIGINT) AS n_groups
    FROM (SELECT doc_id % 40 AS residue, COUNT(*) AS cnt FROM documents GROUP BY 1)
    GROUP BY 1
    """,
)
def q_image_phash_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup (r5): every doc gets a REAL PPM payload whose
    pixels derive from ``doc_id % 40`` — 40 visually distinct images, each
    repeated across its residue class. The pipeline decodes the binaries
    and pHashes them (grayscale → 32×32 → DCT → median-threshold bits);
    grouping by phash must reconstruct EXACTLY the residue-class size
    histogram: identical images must collide, the 40 distinct images must
    not (collision-freeness checked at build time), and the oracle derives
    the expected histogram from doc_id arithmetic without touching a byte
    of the binary — any decode or DCT bug shifts a group."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit("img"), (F.col("doc_id") % 40)).alias("imgkey")
    ).repartition(_par_rows(spark, sf_dir, "documents"))  # slim (id, key) shuffle BEFORE payloads exist
    payloads = multimodal.attach_fake_payload(docs, "doc_id", "imgkey")
    hashes = multimodal.phash_images(payloads, "doc_id")
    groups = hashes.groupBy("phash").agg(F.count(F.lit(1)).alias("group_size"))
    return groups.groupBy("group_size").agg(F.count(F.lit(1)).alias("n_groups"))


@register(
    "audio_afp_dup_groups",
    """
    SELECT cnt AS group_size, CAST(COUNT(*) AS BIGINT) AS n_groups
    FROM (SELECT doc_id % 40 AS residue, COUNT(*) AS cnt FROM documents GROUP BY 1)
    GROUP BY 1
    """,
)
def q_audio_afp_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic dedup (r5): every doc gets a REAL RIFF/WAVE payload whose
    PCM derives from ``doc_id % 40`` — 40 distinct clips, repeated per
    residue class. The pipeline chunk-walks the WAV, fingerprints the
    samples (65-frame energy-delta signs — gain-invariant), and grouping
    by fingerprint must reconstruct the residue-class histogram exactly
    (identical clips collide, the 40 distinct ones don't — checked at
    build time). Same structural-oracle pattern as the image pHash query:
    the oracle never touches a byte of audio."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit("aud"), (F.col("doc_id") % 40)).alias("audkey")
    ).repartition(_par_rows(spark, sf_dir, "documents"))
    payloads = multimodal.attach_fake_audio(docs, "doc_id", "audkey")
    fps = multimodal.afp_audio(payloads, "doc_id")
    groups = fps.groupBy("afp").agg(F.count(F.lit(1)).alias("group_size"))
    return groups.groupBy("group_size").agg(F.count(F.lit(1)).alias("n_groups"))


@register(
    "video_vhash_dup_groups",
    """
    SELECT cnt AS group_size, CAST(COUNT(*) AS BIGINT) AS n_groups
    FROM (SELECT doc_id % 40 AS residue, COUNT(*) AS cnt FROM documents GROUP BY 1)
    GROUP BY 1
    """,
)
def q_video_vhash_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video dedup (r5): FSC1 containers keyed by ``doc_id % 40`` → frame
    decode → per-frame pHash → MAJORITY-BIT video fingerprint
    (order-insensitive, frame-sampling-tolerant). Grouping by the
    fingerprint must reconstruct the residue-class histogram — the same
    byte-free structural oracle as the image and audio fingerprints,
    completing the text/image/audio/video dedup quartet."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit("vid"), (F.col("doc_id") % 40)).alias("vidkey")
    ).repartition(_par_rows(spark, sf_dir, "documents"))
    payloads = multimodal.attach_fake_video(docs, "doc_id", "vidkey", n_frames=6)
    fps = multimodal.vhash_video(payloads, "doc_id")
    groups = fps.groupBy("vhash").agg(F.count(F.lit(1)).alias("group_size"))
    return groups.groupBy("group_size").agg(F.count(F.lit(1)).alias("n_groups"))


@register(
    "embedding_quantization_stats",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      FROM embeddings
    ),
    el AS (
      SELECT vec_id, scale, CAST(e AS DOUBLE) AS x,
             CASE WHEN scale > 0
                  THEN floor(CAST(e AS DOUBLE) / scale + 0.5) * scale
                  ELSE 0.0 END AS d
      FROM s, UNNEST(embedding) AS t(e)
    ),
    agg AS (
      SELECT vec_id, ANY_VALUE(scale) AS scale,
             SUM(x * d) AS dot, SUM(x * x) AS nv2, SUM(d * d) AS nd2
      FROM el GROUP BY vec_id
    )
    SELECT vec_id, ROUND(scale, 6) AS scale,
           ROUND(CASE WHEN nv2 > 0 AND nd2 > 0
                      THEN dot / (sqrt(nv2) * sqrt(nd2)) ELSE 1.0 END, 6) AS cos_fidelity
    FROM agg
    """,
)
def q_embedding_quantization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization audit (r5): per-vector scale and the
    cosine between the original and its dequantized form — the gate for
    serving a 100 TB float32 corpus as int8 (4× smaller). Runs the
    Arrow-batched numpy twin (r7: the higher-order-function codegen form
    executes interpreted per element, ~6× slower at sf0.1; the twin is
    value-identical — equivalence-tested in test_similarity.py — and the
    oracle SQL still replays the codegen recipe exactly)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.quantization_fidelity_blas(emb, "vec_id", "embedding")


# ---------------------------------------------------------------------------
# windowed aggregation (batch equivalent of the streaming ingest path)
# ---------------------------------------------------------------------------


@register(
    "windowed_user_counts",
    f"""
    SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start, user_id,
           COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_windowed_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window per-user aggregation — the batch twin of
    ``streaming.streaming_feature_aggregation`` (same grouping, same epoch
    alignment as DuckDB's time_bucket)."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n_events", "total_value")
    )


# ---------------------------------------------------------------------------
# MLlib feature-engineering variants (library twins of the md5-parity ops;
# MLlib hashing is Spark-private, so the oracles check bounded INVARIANTS —
# nnz/norm/recall floors — rather than hash-exact values; upgraded from
# rows-only in r4)
# ---------------------------------------------------------------------------


@register(
    "ml_tfidf_vectors",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, TRUE AS nnz_bounded_ok,
           TRUE AS norms_positive_ok
    FROM documents
    """,
)
def q_ml_tfidf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF document vectors (Tokenizer → HashingTF → IDF), verified by
    an INVARIANT oracle — HashingTF's murmur buckets are Spark-private, so
    exact values have no SQL twin; what IS checkable: every vector's nnz is
    bounded by the doc's distinct-token count (collisions only merge), and
    every tokened doc has a positive squared norm (would break if IDF
    zeroed everything or the pipeline dropped rows). The full pipeline
    runs; the oracle hash-fails if either invariant breaks on any doc."""
    from pyspark.ml.functions import vector_to_array

    from .operators import mlfeatures

    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    out = mlfeatures.tfidf_vectors(docs, "doc_id", "text")
    arr = vector_to_array("tfidf")
    stats = out.select(
        "doc_id",
        F.size(F.filter(arr, lambda x: x != 0)).alias("nnz"),
        F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x).alias("sq"),
    )
    # RegexTokenizer lowercases by default — mirror it for the bound
    dt = docs.select(
        "doc_id", F.size(F.array_distinct(tokens(F.lower(F.col("text"))))).alias("ndt")
    )
    return (
        stats.join(dt, "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.max(F.col("nnz") - F.col("ndt")) <= 0).alias("nnz_bounded_ok"),
            (
                F.sum(F.when((F.col("ndt") > 0) & (F.col("sq") <= 0), 1).otherwise(0)) == 0
            ).alias("norms_positive_ok"),
        )
    )


@register(
    "semantic_decontaminate_embeddings",
    f"""
    WITH ev AS (SELECT embedding FROM embeddings WHERE vec_id % 50 = 0),
    m AS (
      SELECT t.vec_id,
             ROUND(MAX({_COS_SQL.format(a='t.embedding', b='c.embedding')}), 9)
               AS max_eval_cosine
      FROM embeddings t, ev c
      WHERE t.vec_id % 50 <> 0
      GROUP BY t.vec_id
    )
    SELECT vec_id, max_eval_cosine,
           max_eval_cosine >= 0.98 AS contaminated
    FROM m
    """,
)
def q_semantic_decontaminate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (r7): a 2% slice of the
    embeddings table plays the eval benchmark; every train vector gets its
    max cosine against the broadcast eval set and a contamination flag at
    0.98 — the semantic complement of the 13-gram `decontaminate_docs`
    rule (a paraphrase shares few 13-grams but a near-identical
    embedding). Zero shuffles, zero joins: the eval vectors collapse to
    one broadcast array row and the max-cosine is a codegen
    array_max(transform(...)) on the train scan. The oracle replays the
    exact max-cosine per train vector and the threshold on the rounded
    value."""
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    ev = emb.filter(F.col("vec_id") % 50 == 0)
    tr = emb.filter(F.col("vec_id") % 50 != 0)
    out = similarity.semantic_decontaminate(tr, ev, threshold=0.98)
    return out.select("vec_id", "max_eval_cosine", "contaminated")


@register(
    "ml_quality_filter_docs",
    f"""
    WITH t AS (
      SELECT list_contains({_SQL_TOKS.format(t='lower(text)')}, 'spark') AS pos
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
           TRUE AS auc_above_0p9,
           TRUE AS scores_in_unit,
           TRUE AS keep_rate_monotone
    FROM t
    """,
)
def q_ml_quality_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style classifier quality filter end-to-end (Brown et al.
    2020 §A: logistic regression over tf-idf features + Pareto-thresholded
    importance sampling — the canonical classifier-based corpus filter;
    r7): weak label = the doc contains the token ``spark`` (a REAL text
    feature DuckDB recomputes exactly, so the label column is
    hash-verified), train LR on hashed TF-IDF, score every doc, then keep
    via the deterministic md5 Pareto draw. Bounded invariants in the
    ANN-recall style: train AUC must clear 0.9 (the label's token is in
    the feature space, so a working tokenize→hash→IDF→LBFGS→score chain
    separates it nearly perfectly — measured ≈1.0; a broken stage drops
    it toward 0.5), every sigmoid score must lie in [0, 1], and the
    Pareto keep-rate must be monotone in score (kept fraction of
    positives ≥ kept fraction of negatives — the margin is ~99% vs ~1%
    at these score separations)."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from .functions import tokens as _tokens
    from .operators import mlfeatures

    docs = (
        read_table(spark, sf_dir, "documents", parallelize=True)
        .repartition(_par(spark))
        .withColumn(
            "is_quality",
            F.array_contains(_tokens(F.lower(F.col("text"))), "spark"),
        )
    )
    from .sources.readers import table_rows

    n_docs = table_rows(spark, sf_dir, "documents")
    # the checkpointed scorecard feeds 4 separate downstream jobs (AUC
    # eval + 3 aggregates) — coalesce it to the same work-proportional
    # target as the fit so each of those jobs schedules ~n_docs/2000
    # tasks instead of defaultParallelism near-empty ones (no-op at
    # corpus scale, same clamp rationale as quality_classifier_scores)
    scored_parts = max(
        1, min(spark.sparkContext.defaultParallelism, -(-n_docs // 2000))
    )
    scored = (
        mlfeatures.quality_classifier_scores(
            docs, "doc_id", "text", "is_quality", n_docs=n_docs
        )
        .coalesce(scored_parts)
        .localCheckpoint(eager=False)
    )  # AUC eval + 3 aggregates share the fit
    auc = BinaryClassificationEvaluator(
        labelCol="is_quality", rawPredictionCol="quality_score",
        metricName="areaUnderROC",
    ).evaluate(scored.withColumn("is_quality", F.col("is_quality").cast("double")))
    kept = mlfeatures.pareto_quality_keep(scored, "doc_id")
    # true keep rate k/n per class: flag each scored doc kept/not via a
    # left join (doc_id is unique) and average the flag. (An earlier
    # union-based form double-counted kept docs in the denominator —
    # k/(n+k) — and only compared correctly because x/(1+x) is monotone.)
    rates = (
        scored.join(
            kept.select("doc_id").withColumn("__kept", F.lit(1)), "doc_id", "left"
        )
        .withColumn("__kept", F.coalesce(F.col("__kept"), F.lit(0)))
        .groupBy("is_quality")
        .agg(F.avg("__kept").alias("rate"))
    )
    pos_rate = F.max(F.when(F.col("is_quality") == 1.0, F.col("rate")))
    neg_rate = F.max(F.when(F.col("is_quality") == 0.0, F.col("rate")))
    summary = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("is_quality").cast("long")).cast("long").alias("n_positive"),
        (
            F.min("quality_score") >= 0.0
        ).alias("__lo"),
        (F.max("quality_score") <= 1.0).alias("__hi"),
    )
    mono = rates.agg((pos_rate >= neg_rate).alias("keep_rate_monotone"))
    return (
        summary.crossJoin(mono)
        .select(
            "n_docs",
            "n_positive",
            F.lit(bool(auc > 0.9)).alias("auc_above_0p9"),
            (F.col("__lo") & F.col("__hi")).alias("scores_in_unit"),
            "keep_rate_monotone",
        )
    )


@register(
    "ml_minhash_near_dup",
    f"""
    WITH t AS (
      SELECT doc_id,
             list_distinct({_SQL_TOKS.format(t='lower(text)')}) AS tks
      FROM documents
    ), n AS (SELECT doc_id, tks FROM t WHERE len(tks) > 0),
    p AS (
      SELECT len(list_intersect(a.tks, b.tks)) AS i,
             len(a.tks) + len(b.tks) - len(list_intersect(a.tks, b.tks)) AS u
      FROM n a JOIN n b ON a.doc_id < b.doc_id
    )
    -- the DISTANCE form (1 - i/u <= 0.3), not the similarity form
    -- (i/u >= 0.7): mathematically equal, but IEEE doubles disagree at the
    -- exact-7/10 boundary (1 - 0.7 rounds up past 0.3) and MLlib filters
    -- on distance — the ground truth must use the same arithmetic
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs, TRUE AS recall_ok,
           TRUE AS precision_ok
    FROM p WHERE 1 - CAST(i AS DOUBLE) / u <= 0.3
    """,
)
def q_ml_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib MinHashLSH approx similarity join (token-set Jaccard distance
    ≤ 0.3), verified against GROUND TRUTH: the exact qualifying-pair count
    (token-set Jaccard ≥ 0.7, via the scalable inverted-index operator —
    no all-pairs scan) is hash-compared with DuckDB's independent
    computation, and the MLlib result's recall AND precision against that
    exact pair set must clear 0.95 (measured 1.0 at sf0.01/sf0.001 with
    seed 42). A missed pair, a phantom pair, or any tokenization drift
    fails the check."""
    from .operators import dedup, mlfeatures

    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    # RegexTokenizer lowercases — mirror it for the exact ground truth
    lowered = docs.select("doc_id", F.lower(F.col("text")).alias("text"))
    # threshold=0 then filter on the DISTANCE form — 1 - i/u ≤ 0.3 and
    # i/u ≥ 0.7 disagree in IEEE doubles at the exact-7/10 boundary, and
    # MLlib (like the SQL twin above) filters on distance
    exact = (
        dedup.ngram_jaccard_pairs(
            lowered, "doc_id", "text", shingle_n=1, threshold=0.0, max_doc_frequency=None
        )
        .filter(F.lit(1.0) - F.col("jaccard") <= 0.3)
        .select("id_a", "id_b")
    )
    ml = mlfeatures.minhash_near_dup_ml(
        docs, "doc_id", "text", max_jaccard_distance=0.3
    ).select("id_a", "id_b")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_ret = ml.agg(F.count(F.lit(1)).alias("n_ret"))
    n_common = exact.join(ml, ["id_a", "id_b"]).agg(F.count(F.lit(1)).alias("n_common"))
    return (
        n_exact.crossJoin(n_ret)
        .crossJoin(n_common)
        .select(
            F.col("n_exact").cast("long").alias("n_exact_pairs"),
            (F.col("n_common") / F.col("n_exact") >= 0.95).alias("recall_ok"),
            (F.col("n_common") / F.col("n_ret") >= 0.95).alias("precision_ok"),
        )
    )


@register(
    "ml_brp_ann_topk",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, CAST(5 AS INT) AS k,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def q_ml_brp_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH Euclidean ANN (top-5 per query),
    verified by a BOUNDED-QUALITY oracle: recall@5 against the exact
    brute-force Euclidean top-k (computed here — corpus scan × broadcast
    queries, the cosine_topk shape) must clear 0.9; measured 0.98 at
    sf0.01 / 0.94 at sf0.001 with seed 42.

    Deliberately UN-pinned (the r10 fold-in list suggested the
    lsh_ann_topk concurrent-pin shape here, but the measured A/B says
    no): this plan keeps exact + approx in ONE job, where Spark's
    exchange reuse already deduplicates the brute subtree
    (ReusedExchange=1 on the executed plan — no double execution to
    save), so the pins only add two collect barriers — 2.0 s pinned vs
    1.21 s un-pinned best-of-3 at sf0.1. lsh_ann_topk differs because
    its routes carry DRIVER-EAGER plan-build work that serializes ahead
    of any job; BRP's fit is cheap."""
    from pyspark.sql.window import Window

    from .operators import mlfeatures
    from .operators.similarity import _l2sq

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    scored = emb.select("vec_id", F.col("embedding").alias("__cv")).crossJoin(
        F.broadcast(queries.select("query_id", F.col("embedding").alias("__qv")))
    ).select("query_id", "vec_id", _l2sq(F.col("__qv"), F.col("__cv")).alias("__d"))
    w = Window.partitionBy("query_id").orderBy(F.asc("__d"), F.asc("vec_id"))
    exact = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= 5)
        .select("query_id", "vec_id")
    )
    approx = mlfeatures.brp_ann(queries, emb, k=5, bucket_length=4.0).select(
        "query_id", "vec_id"
    )
    hits = exact.intersect(approx).agg(F.count(F.lit(1)).alias("n_hit"))
    totals = exact.agg(
        F.count(F.lit(1)).alias("n_exact"), F.countDistinct("query_id").alias("n_queries")
    )
    return hits.crossJoin(totals).select(
        F.col("n_queries").cast("long").alias("n_queries"),
        F.lit(5).cast("int").alias("k"),
        (F.col("n_hit") / F.col("n_exact") >= 0.9).alias("recall_ok"),
    )


@register(
    "chunk_documents",
    f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKS.format(t='text')} AS toks FROM documents
    ), n AS (
      SELECT doc_id, toks, LEN(toks) AS n FROM t WHERE LEN(toks) > 0
    ), c AS (
      SELECT doc_id, toks,
             GREATEST(CAST(FLOOR((n - 16 - 1) / 48.0) AS BIGINT) + 1, 1) AS nc
      FROM n
    )
    SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
           CAST(LEN(toks[(i-1)*48 + 1 : (i-1)*48 + 64]) AS INT) AS n_chunk_tokens,
           array_to_string(toks[(i-1)*48 + 1 : (i-1)*48 + 64], ' ') AS chunk_text
    FROM c, UNNEST(generate_series(1, nc)) AS u(i)
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, 16 overlap) —
    the LLM-pipeline pre-tokenizer step; pure array codegen, no UDF."""
    docs = read_table(spark, sf_dir, "documents", parallelize=True)
    return text.chunk_documents(docs, "doc_id", "text", chunk_tokens=64, overlap=16)


@register(
    "pack_sequences_docs",
    f"""
    WITH t AS (
      SELECT doc_id, CAST(LEN({_SQL_TOKS.format(t='text')}) AS BIGINT) AS nt
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           TRUE AS each_doc_once_ok,
           TRUE AS budget_ok,
           TRUE AS n_packs_ok
    FROM t
    """,
)
def q_pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM sequence packing (128-token budget, partitioned greedy next-fit
    over md5 groups — `operators/text.py:pack_sequences`), verified by an
    INVARIANT oracle: pack membership is engine-private (depends on the
    group split), but (a) token totals must be conserved exactly (DuckDB
    recounts them from text), (b) every doc appears exactly once, (c) no
    multi-doc pack exceeds the budget, and (d) the pack count sits between
    ceil(total/budget) (perfect fill) and n_docs (no packing at all).
    Breaking any of these — dropped docs, split docs, budget overflow, or
    degenerate one-doc-per-pack output — fails the hash check."""
    budget = 128
    docs = read_table(spark, sf_dir, "documents", parallelize=True).repartition(_par(spark))
    assign = text.pack_sequences(docs, "doc_id", "text", token_budget=budget, n_groups=64)
    packs = text.pack_stats(assign, token_budget=budget)
    doc_side = assign.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_distinct"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    pack_side = packs.agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum(
            F.when((F.col("n_docs") > 1) & (F.col("tokens_used") > budget), 1).otherwise(0)
        ).alias("n_over_budget"),
    )
    return doc_side.crossJoin(pack_side).select(
        "n_docs",
        "total_tokens",
        (F.col("n_docs") == F.col("n_distinct")).alias("each_doc_once_ok"),
        (F.col("n_over_budget") == 0).alias("budget_ok"),
        (
            (F.col("n_packs") >= F.ceil(F.col("total_tokens") / budget))
            & (F.col("n_packs") <= F.col("n_docs"))
        ).alias("n_packs_ok"),
    )


@register(
    "token_mixture_sample_docs",
    f"""
    WITH t AS (
      SELECT doc_id, source, CAST(LEN({_SQL_TOKS.format(t='text')}) AS BIGINT) AS nt,
             CAST(regexp_extract(source, 'src(\\d+)', 1) AS BIGINT) + 1 AS w
      FROM documents
    ),
    tot AS (SELECT source, MAX(w) AS w, SUM(nt) AS T FROM t GROUP BY source),
    m AS (SELECT T AS tm, w AS wm FROM tot ORDER BY T * 1.0 / w, source LIMIT 1),
    cuts AS (SELECT source, ((10000 * tm * w) // (wm * T)) AS cut FROM tot, m),
    kept AS (
      SELECT t.doc_id, t.source, t.nt FROM t JOIN cuts USING (source)
      WHERE CAST(concat('0x', substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 10000 < cut
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(nt) AS BIGINT) AS tokens_kept
    FROM kept GROUP BY source
    """,
)
def q_token_mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM data-mix rebalance (`sampling.mixture_sample_by_tokens`): target
    token share of srcK is ∝ K+1, every source downsampled to the binding
    one with EXACT integer cut arithmetic — the DuckDB twin recomputes the
    same totals, binding source, integer cuts, and md5 membership, so the
    kept per-source doc/token counts hash-match exactly (not a bounded
    check). In the r4 driver window."""
    from .functions import token_count
    from .operators import sampling

    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    srcs = [r["source"] for r in docs.select("source").distinct().collect()]
    weights = {s: int(s.removeprefix("src")) + 1 for s in srcs}
    kept = sampling.mixture_sample_by_tokens(
        docs, "doc_id", "source", weights, n_tokens=token_count(F.col("text"))
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum(token_count(F.col("text"))).cast("long").alias("tokens_kept"),
    )


@register(
    "mixture_epochs_docs",
    f"""
    WITH t AS (
      SELECT doc_id, source, CAST(LEN({_SQL_TOKS.format(t='text')}) AS BIGINT) AS nt,
             CAST(regexp_extract(source, 'src(\\d+)', 1) AS BIGINT) + 1 AS w
      FROM documents
    ),
    tot AS (SELECT source, MAX(w) AS w, CAST(SUM(nt) AS BIGINT) AS T FROM t GROUP BY source),
    g AS (SELECT CAST(2 * SUM(T) AS BIGINT) AS budget_b,
                 CAST(SUM(CASE WHEN T > 0 AND w > 0 THEN w ELSE 0 END) AS BIGINT) AS w_sum
          FROM tot),
    plan AS (
      SELECT source, T,
             CASE WHEN T > 0 THEN (budget_b * w) // w_sum ELSE 0 END AS tgt
      FROM tot, g
    ),
    p2 AS (
      SELECT source,
             CASE WHEN T > 0 AND tgt > 0 THEN tgt // T ELSE 0 END AS base,
             CASE WHEN T > 0 AND tgt > 0 THEN (10000 * (tgt % T)) // T ELSE 0 END AS cut
      FROM plan
    ),
    e AS (
      SELECT t.doc_id, t.source, t.nt,
             p2.base + CASE WHEN CAST(concat('0x', substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                              % 10000 < p2.cut
                       THEN 1 ELSE 0 END AS n
      FROM t JOIN p2 USING (source)
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_rows_out,
           CAST(SUM(n * nt) AS BIGINT) AS tokens_out,
           CAST(MAX(n) - 1 AS BIGINT) AS max_epoch
    FROM e GROUP BY source HAVING SUM(n) > 0
    """,
)
def q_mixture_epochs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch data mixture (``sampling.mixture_sample_epochs``, r7):
    per-source token budgets ∝ srcK weight K+1 with TOTAL budget = 2× the
    corpus, so high-weight sources repeat for >1 epoch (GPT-3 trains
    Wikipedia ~3.4 epochs — downsample-only mixing can't express that)
    while low-weight ones still cut. The DuckDB twin recomputes totals,
    integer targets, base/fractional copy counts, and md5 membership
    arithmetically — per-source emitted rows, tokens, and max epoch
    hash-match exactly, which pins the explode to "exactly n copies with
    epochs 0..n-1"."""
    from .functions import token_count
    from .operators import sampling as smp

    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    nt = token_count(F.col("text"))
    totals = {
        r["__src"]: r["__t"] or 0
        for r in docs.groupBy(F.col("source").alias("__src"))
        .agg(F.sum(nt).alias("__t"))
        .collect()
    }
    weights = {s: int(s.removeprefix("src")) + 1 for s in totals}
    budget = 2 * sum(totals.values())
    targets = smp.proportional_targets(totals, weights, budget)
    out = smp.mixture_sample_epochs(
        docs, "doc_id", "source", targets, n_tokens=nt, totals=totals
    )
    return out.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows_out"),
        F.sum(nt).cast("long").alias("tokens_out"),
        F.max("epoch").cast("long").alias("max_epoch"),
    )


@register("cosine_topk_blas", _TOPK_IDS_SQL)
def q_cosine_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow+BLAS exact top-k (mapInPandas matmul): same ids/ranks as
    cosine_topk (property-tested). Cosine floats differ from SQL only in
    summation order, so the oracle compares ids+rank (exact, vec_id
    tiebreak) and drops the float column. Measured 15x the codegen path
    at 100 queries x 200k vectors warm."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk_blas(queries, emb, k=5)
    return out.select("query_id", "vec_id", F.col("rank").cast("int").alias("rank"))


@register(
    "scrub_pii_docs",
    """
    WITH s0 AS (SELECT doc_id, text FROM documents),
    s1 AS (
      SELECT doc_id,
             CAST(LEN(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<email>', 'g') AS t
      FROM s0
    ), s2 AS (
      SELECT doc_id, n_email,
             CAST(LEN(regexp_extract_all(t, 'https?://[^\\s]+')) AS BIGINT) AS n_url,
             regexp_replace(t, 'https?://[^\\s]+', '<url>', 'g') AS t
      FROM s1
    )
    SELECT doc_id, n_email, n_url,
           CAST(LEN(regexp_extract_all(t, '\\d{7,}')) AS BIGINT) AS n_long_digits,
           regexp_replace(t, '\\d{7,}', '<long_digits>', 'g') AS scrubbed_text
    FROM s2
    """,
)
def q_scrub_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails → urls → long digit runs, chained) with per-kind
    audit counts — chained regexp_replace, all codegen."""
    return text.scrub_pii(read_table(spark, sf_dir, "documents", parallelize=True), "doc_id", "text")


@register(
    "repetition_stats_docs",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS.format(t='text')} AS toks FROM documents),
    g AS (
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
      FROM t, UNNEST(generate_series(1, LEN(toks) - 1)) AS u(i)
      WHERE LEN(toks) >= 2
    ),
    pg AS (SELECT doc_id, gram, COUNT(*) AS n FROM g GROUP BY doc_id, gram),
    agg AS (
      SELECT doc_id,
             CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_ngram_frac,
             CAST(SUM(n - 1) AS DOUBLE) / SUM(n) AS dup_ngram_frac
      FROM pg GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(agg.top_ngram_frac, 0.0) AS top_ngram_frac,
           COALESCE(agg.dup_ngram_frac, 0.0) AS dup_ngram_frac
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """,
)
def q_repetition_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher repetition signals: most-repeated-bigram fraction and
    duplicate-bigram fraction per doc (explode → two narrow partial-agg
    shuffles)."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return text.repetition_stats(docs, "doc_id", "text", ngram=2)


@register(
    "decontaminate_docs",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS.format(t='lower(text)')} AS t FROM documents),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS gram
      FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
      WHERE len(t) >= 5
    ),
    ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 11 = 0),
    tr AS (SELECT doc_id AS train_id, gram FROM g WHERE doc_id % 11 <> 0)
    SELECT tr.train_id, ev.eval_id, COUNT(*) AS n_shared_grams
    FROM tr JOIN ev USING (gram)
    GROUP BY tr.train_id, ev.eval_id
    """,
)
def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (r5): the GPT-3 n-gram overlap rule over
    the documents table — every 11th doc plays the benchmark, the rest the
    training corpus; any shared 5-gram flags the pair. The eval gram table
    broadcasts; the train side never shuffles raw grams (per-doc dedup is
    an in-array array_distinct)."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    ev = docs.filter(F.col("doc_id") % 11 == 0)
    tr = docs.filter(F.col("doc_id") % 11 != 0)
    return dedup.ngram_overlap_pairs(tr, ev, "doc_id", "text", n=5)


@register(
    "decayed_user_spend",
    """
    SELECT user_id,
           ROUND(SUM(value * pow(0.5, (epoch(TIMESTAMP '2024-02-01 00:00:00') - epoch(ts)) / 604800.0)), 6) AS decayed_sum,
           ROUND(SUM(pow(0.5, (epoch(TIMESTAMP '2024-02-01 00:00:00') - epoch(ts)) / 604800.0)), 6) AS decayed_count,
           ROUND(SUM(value * pow(0.5, (epoch(TIMESTAMP '2024-02-01 00:00:00') - epoch(ts)) / 604800.0))
                 / SUM(pow(0.5, (epoch(TIMESTAMP '2024-02-01 00:00:00') - epoch(ts)) / 604800.0)), 6) AS decayed_mean
    FROM events
    WHERE ts <= TIMESTAMP '2024-02-01 00:00:00'
    GROUP BY user_id
    """,
)
def q_decayed_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed per-user spend snapshot (r5): the feature-store
    "decayed counter" — recency-weighted sum/count/mean with a 7-day
    half-life, point-in-time correct at a fixed as-of. ONE
    partial-aggregated groupBy; the weight is a codegen scan expression."""
    import datetime as dt

    from .operators import fe

    events = read_table(spark, sf_dir, "events")
    return fe.decayed_agg(
        events, "user_id", "ts", "value",
        half_life_seconds=604_800.0,
        asof=dt.datetime(2024, 2, 1),
    )


@register(
    "ewma_user_spend_prior",
    """
    WITH b AS (
      SELECT event_id, user_id, ts, value,
             MAX(epoch(ts)) OVER (PARTITION BY user_id) AS tmax
      FROM events
    )
    SELECT event_id, user_id,
           ROUND(COALESCE(
             pow(2.0, (tmax - epoch(ts)) / 604800.0) *
             SUM(value * pow(0.5, (tmax - epoch(ts)) / 604800.0)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0.0), 6) AS ewma_prior
    FROM b
    """,
)
def q_ewma_user_spend_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event leakage-free EWMA (r5): each event sees the 7-day-half-life
    decayed sum of the user's STRICTLY PRIOR events ((ts, event_id) order).
    One key-partitioned window via the rescaled-cumsum trick — no O(n²)
    self-join; the oracle replays the identical rescaling."""
    from .operators import fe

    events = read_table(spark, sf_dir, "events")
    return fe.ewma_prior(
        events, "user_id", "ts", "value",
        half_life_seconds=604_800.0, tie_col="event_id",
    ).select("event_id", "user_id", "ewma_prior")


@register(
    "lm_quality_score_docs",
    """
    WITH txt AS (SELECT doc_id, lower(text) AS t FROM documents),
    grams AS (
      SELECT doc_id, substr(t, CAST(i AS INTEGER), 3) AS gram
      FROM txt, UNNEST(generate_series(1, length(t) - 2)) AS u(i)
      WHERE length(t) >= 3
    ),
    model AS (
      SELECT gram, COUNT(*) AS cnt FROM grams WHERE doc_id % 2 = 0 GROUP BY gram
    ),
    tot AS (SELECT SUM(cnt) AS total, COUNT(*) AS v FROM model)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           ROUND(-AVG(ln(COALESCE(m.cnt, 0) + 1.0) - ln(tot.total + tot.v + 1.0)), 6) AS xent
    FROM grams g LEFT JOIN model m ON g.gram = m.gram, tot
    GROUP BY g.doc_id
    """,
)
def q_lm_quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (r5): train a char-trigram model on
    the even-doc_id half of the corpus, score EVERY document's smoothed
    cross-entropy under it — the odd half exercises the unseen-gram path.
    Real pipelines gate/bucket pretraining text on exactly this signal
    (model from a trusted reference corpus, score the crawl)."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    model = text.char_ngram_model(docs.filter(F.col("doc_id") % 2 == 0), "text")
    return text.lm_score(docs, model, "doc_id", "text")


def _curation_pipeline_sql() -> str:
    toks = _SQL_TOKS.format(t="text")
    return f"""
    WITH RECURSIVE raw AS (
      SELECT doc_id, source, lang, text, {toks} AS toks FROM documents
    ),
    base AS (  -- stage 1: language + min-length quality gate
      SELECT doc_id, source, text, toks, CAST(LEN(toks) AS BIGINT) AS nt FROM raw
      WHERE lang = 'en' AND LEN(toks) >= 20
    ),
    ex AS (  -- stage 2: exact dedup, lowest-id survivor per distinct text
      SELECT doc_id, source, text, toks, nt FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM base
      ) WHERE rn = 1
    ),
    sh0 AS (  -- stage 3: near-dup survivors (jaccard >= 0.3 on 3-gram sets)
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+{_SHINGLE_N - 1}], ' ') AS sh
      FROM ex, UNNEST(generate_series(1, LEN(toks) - {_SHINGLE_N - 1})) AS u(i)
      WHERE LEN(toks) >= {_SHINGLE_N}
    ),
    sdf AS (SELECT sh, COUNT(*) AS d FROM sh0 GROUP BY sh),
    sh AS (
      SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN sdf USING (sh) WHERE sdf.d <= {_NGRAM_MAX_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) >= 0.3
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    cc(node, comp) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.src, cc.comp FROM edges e JOIN cc ON e.dst = cc.node
    ),
    losers AS (SELECT node FROM cc GROUP BY node HAVING node <> MIN(comp))
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens
    FROM ex LEFT JOIN losers ON ex.doc_id = losers.node
    WHERE losers.node IS NULL
    GROUP BY source
    """


@register("corpus_curation_pipeline", _curation_pipeline_sql())
def q_corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end LLM corpus-prep DAG as one Spark plan: language +
    min-length gate → exact dedup (digest-first, lowest-id survivor) →
    near-dup survivors (n-gram Jaccard ≥ 0.3 → connected components →
    anti-join) → per-source doc/token summary. Every stage is an
    already-oracled operator; this entry proves the COMPOSITION end-to-end
    against a single chained-CTE DuckDB twin (recursive CTE closes the
    near-dup graph). In the r4 driver window."""
    from .functions import token_count

    docs = read_table(spark, sf_dir, "documents", parallelize=True).repartition(_par(spark))
    base = docs.withColumn("nt", token_count(F.col("text"))).filter(
        (F.col("lang") == "en") & (F.col("nt") >= 20)
    )
    ex_ids = dedup.exact_dedup(base, ["text"], "doc_id").select("doc_id")
    ex = base.join(ex_ids, "doc_id", "semi")
    pairs = dedup.ngram_jaccard_pairs(
        ex, "doc_id", "text", threshold=0.3,
        max_doc_frequency=_NGRAM_MAX_DF, parallelism=_par(spark),
    )
    surv = dedup.dedup_survivors(ex, pairs, "doc_id")
    return surv.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("total_tokens"),
    )


def _near_dup_clusters_sql() -> str:
    toks = _SQL_TOKS.format(t="text")
    return f"""
    WITH RECURSIVE t AS (SELECT doc_id, {toks} AS toks FROM documents),
    sh0 AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+{_SHINGLE_N - 1}], ' ') AS sh
      FROM t, UNNEST(generate_series(1, LEN(toks) - {_SHINGLE_N - 1})) AS u(i)
      WHERE LEN(toks) >= {_SHINGLE_N}
    ),
    sdf AS (SELECT sh, COUNT(*) AS d FROM sh0 GROUP BY sh),
    sh AS (  -- same stop-shingle document-frequency cut as the Spark side
      SELECT sh0.doc_id, sh0.sh FROM sh0 JOIN sdf USING (sh) WHERE sdf.d <= {_NGRAM_MAX_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
      WHERE CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) >= 0.3
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    cc(node, comp) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.src, cc.comp FROM edges e JOIN cc ON e.dst = cc.node
    )
    SELECT node, MIN(comp) AS component FROM cc GROUP BY node
    """


@register("near_dup_clusters", _near_dup_clusters_sql())
def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → components (iterative min-label propagation; the
    DuckDB oracle is the same graph closed by a recursive CTE). The cluster
    assignment is what dedup actually ships: keep min-id per component."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.3,
        max_doc_frequency=_NGRAM_MAX_DF, parallelism=_par(spark),
    )
    return dedup.connected_components(pairs)


@register(
    "sliding_window_counts",
    f"""
    WITH cand AS (
      SELECT ts, value,
             time_bucket(INTERVAL '3 hours', ts) - s * INTERVAL '3 hours' AS wstart
      FROM events, UNNEST([0, 1]) AS u(s)
    )
    SELECT wstart AS window_start, COUNT(*) AS n_events, {dsum_sql('value')} AS total_value
    FROM cand
    WHERE ts >= wstart AND ts < wstart + INTERVAL '6 hours'
    GROUP BY 1
    """,
)
def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (overlapping) 6h/3h windows — the hopping-window batch twin
    (`F.window(duration, slide)`): each event lands in duration/slide
    windows. DuckDB twin explodes the two candidate window starts; both
    engines align window origins to the epoch."""
    e = read_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "dedup_survivors_docs",
    _near_dup_clusters_sql().replace(
        "    SELECT node, MIN(comp) AS component FROM cc GROUP BY node",
        """    , losers AS (
      SELECT node FROM cc GROUP BY node HAVING node <> MIN(comp)
    )
    SELECT d.doc_id FROM documents d
    LEFT JOIN losers ON d.doc_id = losers.node
    WHERE losers.node IS NULL""",
    ),
)
def q_dedup_survivors_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup output: the corpus minus every non-minimum
    member of each Jaccard>=0.3 cluster (pairs → components → anti-join)."""
    docs = read_table(spark, sf_dir, "documents", parallelize=True)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.3,
        max_doc_frequency=_NGRAM_MAX_DF, parallelism=_par(spark),
    )
    return dedup.dedup_survivors(docs, pairs, "doc_id").select("doc_id")


@register(
    "dedup_survivors_priority_docs",
    _near_dup_clusters_sql().replace(
        "    SELECT node, MIN(comp) AS component FROM cc GROUP BY node",
        """    , comp AS (SELECT node, MIN(comp) AS component FROM cc GROUP BY node),
    ranked AS (
      SELECT comp.node,
             ROW_NUMBER() OVER (
               PARTITION BY comp.component
               ORDER BY LEN(t.toks) DESC, comp.node ASC
             ) AS rn
      FROM comp JOIN t ON t.doc_id = comp.node
    ),
    losers AS (SELECT node FROM ranked WHERE rn > 1)
    SELECT d.doc_id FROM documents d
    LEFT JOIN losers ON d.doc_id = losers.node
    WHERE losers.node IS NULL""",
    ),
)
def q_dedup_survivors_priority_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup keeping the LONGEST member of each Jaccard>=0.3 cluster
    (``dedup.dedup_survivors_by_priority`` with token count as the
    priority, min-id tiebreak; r7) — the curation-grade survivor rule:
    the kept doc is what the training set contains, so "keep the most
    content" beats "keep the smallest id". The DuckDB twin closes the
    same pair graph with a recursive CTE and ranks each component by the
    same (token count DESC, id ASC) window — survivor ids hash-match
    exactly."""
    from .functions import token_count

    docs = read_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.3,
        max_doc_frequency=_NGRAM_MAX_DF, parallelism=_par(spark),
    )
    return dedup.dedup_survivors_by_priority(
        docs, pairs, "doc_id", token_count(F.col("text"))
    ).select("doc_id")


# ---------------------------------------------------------------------------
# round-2 scale operators: stratified sampling, skew profiling, interval join
# ---------------------------------------------------------------------------


@register(
    "stratified_sample_counts",
    """
    WITH cut AS (
      SELECT event_id, user_id, event_type,
             CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10000 AS b,
             CASE event_type WHEN 'purchase' THEN 10000 WHEN 'view' THEN 1000
                             ELSE 200 END AS c
      FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sampled
    FROM cut WHERE b < c GROUP BY event_type
    """,
)
def q_stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample (training-mix rebalance: keep every
    purchase, 10% of views, 2% of the rest), counted per stratum. The
    stratum chooses only the md5-bucket CUT, so samples are engine-portable
    and nested (operators.sampling.stratified_sample_deterministic)."""
    from .operators.sampling import stratified_sample_deterministic

    e = read_table(spark, sf_dir, "events")
    out = stratified_sample_deterministic(
        e, "event_id", "event_type",
        {"purchase": 1.0, "view": 0.10}, default_fraction=0.02,
    )
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_sampled"))


@register(
    "key_skew_profile_events",
    """
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows FROM events GROUP BY user_id
    ),
    t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_keys FROM c)
    SELECT user_id, n_rows,
           ROUND(CAST(n_rows AS DOUBLE) / total, 9) AS share,
           ROUND(CAST(n_rows AS DOUBLE) * n_keys / total, 9) AS skew_ratio
    FROM c, t
    ORDER BY n_rows DESC, user_id ASC
    LIMIT 20
    """,
)
def q_key_skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter pre-flight for shuffle keys: top-20 hottest user_ids
    with row share and skew ratio (share x distinct keys). One partial-agg
    shuffle + TakeOrdered (operators.drift.key_skew_profile)."""
    from .operators.drift import key_skew_profile

    e = read_table(spark, sf_dir, "events")
    out = key_skew_profile(e, ["user_id"], top_n=20)
    return out.select(
        "user_id", "n_rows",
        F.round("share", 9).alias("share"),
        F.round("skew_ratio", 9).alias("skew_ratio"),
    )


@register(
    "interval_join_price_buckets",
    f"""
    WITH tiers AS (
      SELECT i * 50.0 AS lo, i * 50.0 + 75.0 AS hi,
             concat('tier_', CAST(i AS VARCHAR)) AS tier
      FROM UNNEST(generate_series(0, 199)) AS u(i)
    )
    SELECT t.tier, CAST(COUNT(*) AS BIGINT) AS n_items,
           {dsum_sql('l.l_extendedprice')} AS sum_price
    FROM lineitem l
    JOIN tiers t ON l.l_extendedprice >= t.lo AND l.l_extendedprice < t.hi
    GROUP BY t.tier
    """,
)
def q_interval_join_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval join: 200 OVERLAPPING price bands (width 75,
    stride 50 - facts can hit 2 tiers) equi-joined through coarse buckets
    instead of a broadcast nested loop - the shape that still works when
    the interval table is data-scale (operators.joins.interval_join_bucketed)."""
    from .operators.joins import interval_join_bucketed

    li = read_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    tiers = spark.range(200).select(
        (F.col("id") * 50.0).alias("lo"),
        (F.col("id") * 50.0 + 75.0).alias("hi"),
        F.concat(F.lit("tier_"), F.col("id").cast("string")).alias("tier"),
    )
    out = interval_join_bucketed(li, tiers, "l_extendedprice", bucket_width=50.0)
    return out.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_extendedprice")).alias("sum_price"),
    )


@register(
    "tfidf_terms_docs",
    f"""
    WITH t AS (
      SELECT doc_id, list_transform({_SQL_TOKS.format(t='text')}, x -> lower(x)) AS toks
      FROM documents
    ),
    dt AS (SELECT doc_id, UNNEST(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM dt GROUP BY 1, 2),
    dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, dft.df_t,
           ROUND(tf.tf * (LN((1.0 + nd) / (1.0 + df_t)) + 1.0), 6) AS tfidf
    FROM tf JOIN dft USING (term), n
    """,
)
def q_tfidf_terms_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF per (doc, term) with real terms - the transparent,
    fully-oracle-checked twin of the MLlib HashingTF pipeline (whose private
    hashing forces ml_tfidf_vectors to a rows-only check)."""
    from .operators.text import tfidf_terms

    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    out = tfidf_terms(docs, "doc_id", "text")
    return out.select(
        "doc_id", "term", "tf", "df_t", F.round("tfidf", 6).alias("tfidf")
    )


@register(
    "scd2_event_type_history",
    """
    WITH p AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ),
    c AS (SELECT * FROM p WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
    FROM c
    """,
)
def q_scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 change history of each user's event_type stream: consecutive
    duplicate observations compress into [valid_from, valid_to) runs
    (operators.windows.scd2_compress; event_id breaks timestamp ties)."""
    from .operators.windows import scd2_compress

    e = read_table(spark, sf_dir, "events")
    return scd2_compress(
        e, ["user_id"], "ts", ["event_type"], order_tiebreak=["event_id"]
    )


@register(
    "pit_scd2_orders_state",
    """
    WITH p AS (
      SELECT o_custkey AS user_id, o_orderstatus, o_orderdate, o_orderkey,
             LAG(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev
      FROM orders
    ),
    c AS (SELECT * FROM p WHERE prev IS NULL OR prev <> o_orderstatus),
    h AS (
      SELECT user_id, o_orderstatus, o_orderdate AS valid_from,
             LEAD(o_orderdate) OVER (PARTITION BY user_id ORDER BY o_orderdate, o_orderkey) AS valid_to
      FROM c
    )
    SELECT e.event_id, e.user_id, e.ts, h.o_orderstatus AS status_asof
    FROM events e
    LEFT JOIN h ON e.user_id = h.user_id
              AND e.ts >= h.valid_from
              AND (h.valid_to IS NULL OR e.ts < h.valid_to)
    """,
)
def q_pit_scd2_orders_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free PIT read via compressed history: the order-status change
    log compresses to SCD2 runs (scd2_compress), then every event joins the
    run covering its timestamp (pit.scd2_read — key-equi join, interval as
    join filter, at most one match per event). The log-vs-history twin of
    asof_events_orders: same semantics, right side shrunk to change points."""
    from .operators.pit import scd2_read
    from .operators.windows import scd2_compress

    e = read_table(spark, sf_dir, "events")
    o = read_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    hist = scd2_compress(
        o, ["user_id"], "o_orderdate", ["o_orderstatus"], order_tiebreak=["o_orderkey"]
    )
    out = scd2_read(e, hist, key="user_id", ts_col="ts")
    return out.select(
        "event_id", "user_id", "ts", F.col("o_orderstatus").alias("status_asof")
    )


@register(
    "embedding_norm_stats",
    f"""
    WITH n AS (
      SELECT label,
             SQRT(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
      FROM embeddings
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND({dsum_sql('l2', scale=8)} / COUNT(*), 6) AS avg_norm,
           ROUND(MIN(l2), 6) AS min_norm, ROUND(MAX(l2), 6) AS max_norm
    FROM n GROUP BY label
    """,
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corpus health profile: per-label vector counts and L2-norm
    range — the standard pre-ANN sanity check (un-normalized or degenerate
    embedding batches show up as wild norm spreads). Norms are a JVM-side
    left fold (F.aggregate); the cross-row mean goes through the decimal-sum
    recipe so the hash is partition-order-proof."""
    emb = read_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    n = emb.select("label", F.sqrt(sq).alias("l2"))
    return n.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            (dsum(F.col("l2"), scale=8) / F.count(F.lit(1))).cast("double"), 6
        ).alias("avg_norm"),
        F.round(F.min("l2"), 6).alias("min_norm"),
        F.round(F.max("l2"), 6).alias("max_norm"),
    )


@register(
    "token_histogram_docs",
    f"""
    WITH t AS (
      SELECT CAST(len({_SQL_TOKS.format(t='text')}) AS BIGINT) AS tc FROM documents
    )
    SELECT CAST(FLOOR(tc / 20) * 20 AS BIGINT) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM t GROUP BY 1
    """,
)
def q_token_histogram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count histogram (width-20 buckets) — the corpus length profile
    every filtering/chunking decision starts from. Fixed-width buckets keep
    the agg a single partial→final groupBy (mergeable across any partition
    split), unlike quantile sketches."""
    from .functions import token_count

    d = read_table(spark, sf_dir, "documents")
    return (
        d.select((F.floor(token_count(F.col("text")) / 20) * 20).alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "kmv_distinct_orderkeys",
    None,  # replaced below via sketches.kmv_distinct_sql
)
def q_kmv_distinct_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) distinct-count sketch over lineitem.l_orderkey — the
    mergeable cardinality estimator (operators/sketches.py): md5-derived
    hash fractions, k smallest kept via TakeOrderedAndProject (partial
    per-partition selection; nothing O(N) shuffles). Oracle replays the
    sketch bit-for-bit in DuckDB."""
    from .operators import sketches

    li = read_table(spark, sf_dir, "lineitem")
    return sketches.kmv_distinct(li, "l_orderkey", k=256)


@register(
    "weighted_sample_events",
    None,  # replaced below
)
def q_weighted_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-Res) of events
    by value: training-mix construction where high-value rows must be
    overrepresented but reruns must pick the SAME sample (md5-seeded keys,
    id tiebreak)."""
    from .operators import sketches

    e = read_table(spark, sf_dir, "events")
    return sketches.weighted_sample(e, "event_id", "value", k=100)


def _install_sketch_oracles() -> None:
    from .harness import _ORACLES
    from .operators import sketches

    _ORACLES["kmv_distinct_orderkeys"] = sketches.kmv_distinct_sql(
        "(SELECT l_orderkey FROM lineitem)", "l_orderkey", k=256
    )
    _ORACLES["weighted_sample_events"] = sketches.weighted_sample_sql(
        "events", "event_id", "value", k=100
    )


_install_sketch_oracles()


@register(
    "incremental_user_value_stats",
    """
    SELECT user_id,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total,
           CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) / COUNT(value) AS mean,
           MIN(value) AS min, MAX(value) AS max,
           GREATEST(CAST(SUM(CAST(value * value AS DECIMAL(38,8))) AS DOUBLE) / COUNT(value)
                    - (CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) / COUNT(value))
                      * (CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) / COUNT(value)),
                    0.0) AS var_pop
    FROM events GROUP BY user_id
    """,
)
def q_incremental_user_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance proven in-query: the event history
    splits at its midpoint into two batches, each folds to a mergeable
    per-user state (count/sums/min/max/sum-of-squares), the states merge,
    and finalize() produces the stats — which the oracle computes in ONE
    pass over the full table. merge(state(b1), state(b2)) == full scan is
    the contract that makes O(batch) feature refresh correct at 100 TB."""
    from .operators import incremental

    e = read_table(spark, sf_dir, "events")
    mid = F.lit("2024-07-01 00:00:00").cast("timestamp")
    s1 = incremental.aggregate_state(e.filter(F.col("ts") < mid), ["user_id"], "value")
    s2 = incremental.aggregate_state(e.filter(F.col("ts") >= mid), ["user_id"], "value")
    return incremental.finalize(incremental.merge_states(s1, s2))


def _edit_distance_pairs_sql() -> str:
    return (
        "WITH pairs AS (" + _minhash_pairs_sql() + ")"
        + """
    SELECT p.id_a, p.id_b,
           CAST(levenshtein(substr(a.text, 1, 400), substr(b.text, 1, 400)) AS BIGINT)
             AS edit_distance
    FROM pairs p
    JOIN documents a ON a.doc_id = p.id_a
    JOIN documents b ON b.doc_id = p.id_b
    WHERE levenshtein(substr(a.text, 1, 400), substr(b.text, 1, 400)) <= 40
    """
    )


@register("near_dup_edit_distance", _edit_distance_pairs_sql())
def q_near_dup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-propose / Levenshtein-verify near-dup detection (dedup.
    edit_distance_pairs): banding bounds the candidate set, a 400-char
    prefix bounds the O(len^2) distance itself."""
    docs = read_table(spark, sf_dir, "documents")
    out = dedup.edit_distance_pairs(
        docs, "doc_id", "text", max_distance=40, parallelism=_par(spark)
    )
    return out.withColumn("edit_distance", F.col("edit_distance").cast("long"))


def _hist_quantile_oracle() -> str:
    from .operators import sketches

    return sketches.histogram_quantile_sql(
        "lineitem", "l_extendedprice", [0.5, 0.9, 0.99],
        lo_sql="(SELECT MIN(l_extendedprice) FROM lineitem)",
        hi_sql="(SELECT MAX(l_extendedprice) FROM lineitem)",
        n_buckets=256,
    )


@register("hist_quantile_prices", _hist_quantile_oracle())
def q_hist_quantile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram quantile estimates (p50/p90/p99 of line prices):
    the scale-path quantile — one fixed-width counting pass + interpolation,
    error bounded by bucket width, state mergeable across partitions/days
    (exact `percentile` must hold every value; this holds 256 counts). The
    oracle replays the estimator bit-for-bit."""
    from .operators import sketches

    li = read_table(spark, sf_dir, "lineitem")
    return sketches.histogram_quantiles(li, "l_extendedprice", [0.5, 0.9, 0.99])


def _cms_heavy_hitters_oracle() -> str:
    from .operators import sketches

    bucket_data = sketches.cms_bucket_sql("s.seed", "e.user_id", width=512)
    bucket_probe = sketches.cms_bucket_sql("s.seed", "p.user_id", width=512)
    return f"""
    WITH seeds AS (SELECT range AS seed FROM range(4)),
    st AS (
      SELECT s.seed, {bucket_data} AS bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM events e, seeds s WHERE e.user_id IS NOT NULL
      GROUP BY 1, 2
    ),
    probe AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1 ORDER BY n_true DESC, user_id ASC LIMIT 20
    ),
    pb AS (
      SELECT p.user_id, p.n_true, s.seed, {bucket_probe} AS bucket
      FROM probe p, seeds s
    )
    SELECT pb.user_id, pb.n_true, CAST(MIN(COALESCE(st.n, 0)) AS BIGINT) AS n_est
    FROM pb LEFT JOIN st ON st.seed = pb.seed AND st.bucket = pb.bucket
    GROUP BY pb.user_id, pb.n_true
    """


@register("cms_heavy_hitters_events", _cms_heavy_hitters_oracle())
def q_cms_heavy_hitters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch (Cormode & Muthukrishnan 2005) over
    events.user_id: fixed depth×width state (mergeable monoid counts,
    ≤2048 cells regardless of input size), probed for the exact top-20
    users. est ≥ true always; collisions only inflate. The oracle replays
    the md5-derived hashing bit-for-bit, so even collision noise matches.
    Scale: state build is one partial-aggregated groupBy (shuffle is
    O(depth·width) per partition); probing is a broadcast join."""
    from .operators import sketches

    e = read_table(spark, sf_dir, "events")
    state = sketches.cms_state(e, "user_id", depth=4, width=512)
    probe = (
        e.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_true"))
        .orderBy(F.col("n_true").desc(), F.col("user_id").asc())
        .limit(20)
    )
    return sketches.cms_estimate(state, probe, "user_id", depth=4, width=512)


# ---------------------------------------------------------------------------
# bloom-pruned join + CDC merge (round 4 additions)
# ---------------------------------------------------------------------------


@register(
    "bloom_prune_lineitem",
    None,  # installed below via sketches.bloom_state_sql / bloom_pass_sql
)
def q_bloom_prune_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter pattern, hand-rolled and engine-portable: build a
    deterministic bloom filter over the urgent-order keys (a filtered dim),
    probe every lineitem row with depth broadcast hash joins (the fact side
    never shuffles, never changes row count), then count bloom survivors vs
    exact matches per returnflag — making the false-positive rate a
    first-class, oracle-checked output. md5-derived positions, so DuckDB
    replays the filter bit-for-bit (operators/sketches.py bloom_*).

    Reference parity: the reference filters features by key membership via
    SQLite ``WHERE key IN (...)`` (ml_pipeline.py get_features); at 100 TB
    membership must travel as a sketch, not a key list."""
    from .operators import sketches

    o = read_table(spark, sf_dir, "orders", parallelize=True)
    keys = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey").distinct()
    state = sketches.bloom_state(keys, "o_orderkey")
    li = read_table(spark, sf_dir, "lineitem", parallelize=True).select("l_orderkey", "l_returnflag")
    probed = sketches.bloom_probe(li, state, "l_orderkey")
    marked = probed.join(
        F.broadcast(
            keys.withColumnRenamed("o_orderkey", "l_orderkey").withColumn("__m", F.lit(1))
        ),
        "l_orderkey",
        "left",
    )
    return marked.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).cast("long").alias("n_bloom"),
        F.sum(F.when(F.col("__m").isNotNull(), 1).otherwise(0)).cast("long").alias("n_true"),
        F.count(F.lit(1)).alias("n_total"),
    )


def _install_bloom_oracle() -> None:
    from .harness import _ORACLES
    from .operators import sketches

    state = sketches.bloom_state_sql(
        "(SELECT DISTINCT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')",
        "o_orderkey",
    )
    joins, pred = sketches.bloom_pass_sql("l.l_orderkey", "bloom")
    _ORACLES["bloom_prune_lineitem"] = f"""
    WITH bloom AS ({state}),
    keys AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT l.l_returnflag,
      CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
      CAST(SUM(CASE WHEN k.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
      CAST(COUNT(*) AS BIGINT) AS n_total
    FROM lineitem l {joins}
    LEFT JOIN keys k ON k.o_orderkey = l.l_orderkey
    GROUP BY 1
    """


_install_bloom_oracle()


@register(
    "merge_upsert_orders",
    None,  # installed below via cdc.merge_changes_sql
)
def q_merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE-INTO (operators/cdc.py): fold a deterministic CDC batch
    — price updates for keys ≡0 (mod 7), deletes for keys ≡3 (mod 11), new
    keys for ≡5 (mod 13), with a seq conflict where update and delete hit
    the same key — into the orders snapshot. Compaction picks one winner
    per key (max seq, delete wins ties); apply = broadcast anti join +
    union, so the target scan never shuffles.

    Reference parity: batch form of the reference's row-at-a-time
    ``INSERT OR REPLACE`` / ``DELETE`` store mutations (SURVEY §2 A4/A5/A9)."""
    from .operators import cdc

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    o = read_table(spark, sf_dir, "orders").select(*cols)
    k = F.col("o_orderkey")
    updates = (
        o.filter(k % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
        .withColumn("op", F.lit("upsert"))
        .withColumn("seq", F.lit(1))
    )
    deletes = o.filter(k % 11 == 3).withColumn("op", F.lit("delete")).withColumn("seq", F.lit(2))
    inserts = (
        o.filter(k % 13 == 5)
        .select(
            (k + F.lit(10_000_000)).alias("o_orderkey"),
            F.col("o_custkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(1.0).alias("o_totalprice"),
        )
        .withColumn("op", F.lit("upsert"))
        .withColumn("seq", F.lit(1))
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    return cdc.merge_changes(o, changes, ["o_orderkey"], seq_col="seq")


def _install_cdc_oracle() -> None:
    from .harness import _ORACLES
    from .operators import cdc

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    ctes = """
    base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
    changes AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 10.0 AS o_totalprice,
             'upsert' AS op, 1 AS seq FROM base WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             'delete' AS op, 2 AS seq FROM base WHERE o_orderkey % 11 = 3
      UNION ALL
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
             1.0 AS o_totalprice, 'upsert' AS op, 1 AS seq FROM base WHERE o_orderkey % 13 = 5
    )
    """
    _ORACLES["merge_upsert_orders"] = cdc.merge_changes_sql(
        "base", "changes", ["o_orderkey"], cols, seq_col="seq", with_ctes=ctes
    )


_install_cdc_oracle()


@register(
    "merge_upsert_orders_evolve",
    None,  # installed below via cdc.merge_changes_sql(new_cols=...)
)
def q_merge_upsert_orders_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving MERGE (r5): the same CDC scenario as
    ``merge_upsert_orders`` but the feed has started carrying a NEW column
    ``o_channel`` the snapshot lacks. ``allow_new_columns=True`` adopts it:
    surviving target rows get NULL, upserts carry the feed value, and the
    snapshot schema grows by one column — the standard additive-column
    evolution every long-lived CDC pipeline eventually needs."""
    from .operators import cdc

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    o = read_table(spark, sf_dir, "orders").select(*cols)
    k = F.col("o_orderkey")
    updates = (
        o.filter(k % 7 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
        .withColumn("o_channel", F.lit("online"))
        .withColumn("op", F.lit("upsert"))
        .withColumn("seq", F.lit(1))
    )
    deletes = (
        o.filter(k % 11 == 3)
        .withColumn("o_channel", F.lit(None).cast("string"))
        .withColumn("op", F.lit("delete"))
        .withColumn("seq", F.lit(2))
    )
    inserts = (
        o.filter(k % 13 == 5)
        .select(
            (k + F.lit(10_000_000)).alias("o_orderkey"),
            F.col("o_custkey"),
            F.lit("N").alias("o_orderstatus"),
            F.lit(1.0).alias("o_totalprice"),
        )
        .withColumn("o_channel", F.lit("backfill"))
        .withColumn("op", F.lit("upsert"))
        .withColumn("seq", F.lit(1))
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    return cdc.merge_changes(
        o, changes, ["o_orderkey"], seq_col="seq", allow_new_columns=True
    )


def _install_cdc_evolve_oracle() -> None:
    from .harness import _ORACLES
    from .operators import cdc

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_channel"]
    ctes = """
    base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
    changes AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 10.0 AS o_totalprice,
             'online' AS o_channel, 'upsert' AS op, 1 AS seq FROM base WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
             CAST(NULL AS VARCHAR) AS o_channel, 'delete' AS op, 2 AS seq FROM base WHERE o_orderkey % 11 = 3
      UNION ALL
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
             1.0 AS o_totalprice, 'backfill' AS o_channel, 'upsert' AS op, 1 AS seq
      FROM base WHERE o_orderkey % 13 = 5
    )
    """
    _ORACLES["merge_upsert_orders_evolve"] = cdc.merge_changes_sql(
        "base", "changes", ["o_orderkey"], cols, seq_col="seq", with_ctes=ctes,
        new_cols=("o_channel",),
    )


_install_cdc_evolve_oracle()


@register(
    "semantic_dedup_embeddings",
    None,  # installed below (needs sketches.hash_fraction_sql)
)
def q_semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over the embeddings table in
    deterministic-centroid mode with the knob AUTO-TUNED (r7): the
    operator derives ``n_cells = ceil(N / 128)`` from one column-pruned
    count (16 cells at sf0.1 — the hand-picked value of prior rounds —
    4 at sf0.01, scaling with the corpus so per-cell pairwise cost stays
    flat); in-cell cosine ≥ 0.4 pairs form duplicate groups; the member
    least similar to its centroid survives per group. The oracle replays
    the cell-count rule, centroid pick, argmax assignment, pairing, the
    recursive-CTE component closure, and the survivor rule exactly."""
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    out = similarity.semantic_dedup(emb, threshold=0.4, target_cell_size=128)
    return out.select("vec_id", F.col("cell").cast("int").alias("cell"))


def _install_semantic_dedup_oracle() -> None:
    from .harness import _ORACLES
    from .operators import sketches

    h = sketches.hash_fraction_sql("vec_id")
    cos_ac = _COS_SQL.format(a="e.embedding", b="c.center")
    cos_ab = _COS_SQL.format(a="a.embedding", b="b.embedding")
    _ORACLES["semantic_dedup_embeddings"] = f"""
    WITH RECURSIVE ranked AS (
      SELECT vec_id, embedding, {h} AS hfrac FROM embeddings
    ),
    cent AS (
      -- auto_n_cells(N, 128) = GREATEST(1, CEIL(N / 128)) — the operator's rule
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY hfrac, vec_id) - 1 AS INT) AS cell,
             embedding AS center
      FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY hfrac, vec_id) AS rk,
               COUNT(*) OVER () AS n
        FROM ranked
      ) WHERE rk <= GREATEST(1, CAST(CEIL(n / 128.0) AS BIGINT))
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cell, {cos_ac} AS cos_c,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {cos_ac} DESC, c.cell ASC) AS rn
      FROM embeddings e, cent c
    ),
    assigned AS (SELECT vec_id, embedding, cell, cos_c FROM scored WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
      -- DuckDB, like Spark, compares NaN above every number; a NaN cosine never pairs
      WHERE {cos_ab} >= 0.4 AND NOT isnan({cos_ab})
    ),
    edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    cc(node, comp) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.src, cc.comp FROM edges e JOIN cc ON e.dst = cc.node
    ),
    comp AS (SELECT node, MIN(comp) AS component FROM cc GROUP BY node),
    keepers AS (
      SELECT vec_id FROM (
        SELECT a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY c.component ORDER BY a.cos_c ASC, a.vec_id ASC) AS rk
        FROM assigned a JOIN comp c ON a.vec_id = c.node
      ) WHERE rk = 1
    )
    SELECT a.vec_id, a.cell FROM assigned a
    LEFT JOIN comp ON a.vec_id = comp.node
    WHERE comp.node IS NULL OR a.vec_id IN (SELECT vec_id FROM keepers)
    """


_install_semantic_dedup_oracle()


# ---------------------------------------------------------------------------
# audio / video / resize multimodal paths (round 4): same verification story
# as multimodal_decode — exact integer stats, oracle re-derives the payload
# content from the generator formula without touching any binary
# ---------------------------------------------------------------------------

#: md5-hex byte k (0-based) as an integer, for the (a, b, n) seed derivation
_HEXB = (
    "(16 * (strpos('0123456789abcdef', substr(h, {p1}, 1)) - 1)"
    " + strpos('0123456789abcdef', substr(h, {p2}, 1)) - 1)"
)


def _seed_cte() -> str:
    b0 = _HEXB.format(p1=1, p2=2)
    b1 = _HEXB.format(p1=3, p2=4)
    b2 = _HEXB.format(p1=5, p2=6)
    return f"""
    d AS (SELECT doc_id, md5(COALESCE(text, '')) AS h FROM documents),
    ab AS (
      SELECT doc_id,
             1 + 2 * (({b0}) % 127) AS a,
             {b1} AS b,
             128 + (({b2}) % 64) AS n
      FROM d
    )"""


_AUDIO_SQL = f"""
    WITH {_seed_cte()},
    s AS (
      SELECT doc_id, n, k, ((k * a + b) % 4096) - 2048 AS v
      FROM ab, UNNEST(generate_series(0, 191)) AS u(k) WHERE k < n
    ),
    z AS (
      SELECT doc_id, n, v,
             CASE WHEN LAG(CASE WHEN v >= 0 THEN 1 ELSE -1 END)
                    OVER (PARTITION BY doc_id ORDER BY k)
                  <> CASE WHEN v >= 0 THEN 1 ELSE -1 END
                  THEN 1 ELSE 0 END AS zc
      FROM s
    )
    SELECT doc_id,
           CAST(44 + 2 * MAX(n) AS BIGINT) AS n_bytes,
           CAST(8000 AS INT) AS sample_rate,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(SUM(zc) AS BIGINT) AS zero_crossings,
           CAST(MAX(n) * 1000 // 8000 AS BIGINT) AS duration_ms
    FROM z GROUP BY doc_id
    """


@register("audio_decode_stats", _AUDIO_SQL)
def q_audio_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio path: text → deterministic PCM → REAL RIFF/WAVE bytes →
    Arrow-batched chunk-walking parser → exact integer clip statistics
    (energy, zero crossings, duration). The oracle re-derives the PCM from
    the generator formula in SQL — any parser defect (chunk offset,
    endianness, sign handling) shifts a statistic."""
    docs = read_table(spark, sf_dir, "documents").repartition(
        _par_rows(spark, sf_dir, "documents")
    )
    payloads = multimodal.attach_fake_audio(docs, "doc_id", "text")
    return multimodal.decode_audio_stats(payloads)


_VIDEO_SQL = f"""
    WITH {_seed_cte()},
    fr AS (SELECT UNNEST(generate_series(0, 5)) AS f),
    px AS (
      SELECT ab.doc_id, fr.f, ((i * a + b + 7 * f) % 256) AS v
      FROM ab, fr, UNNEST(generate_series(0, 47)) AS u(i)
      WHERE f % 2 = 0
    )
    SELECT doc_id, CAST(f AS INT) AS frame_idx,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(SUM(v * v) AS BIGINT) AS px_sq_sum
    FROM px GROUP BY doc_id, f
    """


@register("video_frame_stats", _VIDEO_SQL)
def q_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling path: text → 6-frame FSC1 container of real PPM
    frames → container walk decoding only every 2nd frame → exact per-frame
    pixel stats. Sampling happens at the index level (skipped frames are
    never decoded), which is the 100 TB-relevant property."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    payloads = multimodal.attach_fake_video(docs, "doc_id", "text", n_frames=6)
    return multimodal.sample_frame_stats(payloads, every_k=2)


_RESIZE_SQL = f"""
    WITH {_seed_cte()},
    px AS (
      SELECT ab.doc_id, (((2 * yy) * 8 + 2 * xx) * 3 + c) AS i,
             ((((2 * yy) * 8 + 2 * xx) * 3 + c) * a + b) % 256 AS v
      FROM ab,
           UNNEST(generate_series(0, 3)) AS uy(yy),
           UNNEST(generate_series(0, 3)) AS ux(xx),
           UNNEST(generate_series(0, 2)) AS uc(c)
    )
    SELECT doc_id, CAST(4 AS INT) AS out_w, CAST(4 AS INT) AS out_h,
           CAST(SUM(v) AS BIGINT) AS px_sum,
           CAST(SUM(v * v) AS BIGINT) AS px_sq_sum
    FROM px GROUP BY doc_id
    """


@register("image_resize_stats", _RESIZE_SQL)
def q_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize path: 8×8 PPM decode → nearest-neighbor floor-grid resample
    to 4×4 → exact integer stats of the RESIZED pixels. The oracle
    re-derives exactly which source ramp indices the floor grid picks, so
    a half-pixel offset or axis transpose breaks the hash."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    payloads = multimodal.attach_fake_payload(docs, "doc_id", "text")
    return multimodal.resize_image_stats(payloads, out_w=4, out_h=4)


# ---------------------------------------------------------------------------
# label-aware embedding curation (r7: kNN label audit, hard negatives,
# prototypicality) + Gopher rule filter + vocabulary coverage
# ---------------------------------------------------------------------------

_STOP_EN_SQL = "('the','a','and','of','to','in','is','it')"


@register(
    "knn_label_audit",
    f"""
    WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
    p AS (
      SELECT a.vec_id AS aid, a.label AS albl, b.vec_id AS bid, b.label AS blbl,
             ROUND({_COS_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS c
      FROM e a, e b WHERE a.vec_id <> b.vec_id
    ),
    r AS (
      SELECT aid, albl, blbl,
             ROW_NUMBER() OVER (PARTITION BY aid ORDER BY c DESC, bid ASC) AS rk
      FROM p
    )
    SELECT aid AS vec_id, albl AS label,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(SUM(CASE WHEN blbl = albl THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           SUM(CASE WHEN blbl = albl THEN 1 ELSE 0 END) / COUNT(*) AS agree_frac,
           (SUM(CASE WHEN blbl = albl THEN 1 ELSE 0 END) / COUNT(*)) < 0.5 AS suspect
    FROM r WHERE rk <= 10
    GROUP BY aid, albl
    """,
)
def q_knn_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-agreement audit (cleanlab-style label-error triage): each
    vector's 10 nearest neighbors vote on its label; low agreement flags a
    likely mislabel. Exact self-kNN (the oracle needs exactness); the
    operator's ``candidates=`` path is the documented 100 TB route."""
    emb = read_table(spark, sf_dir, "embeddings").repartition(_par(spark))
    return similarity.knn_label_consistency(emb, k=10, min_agree=0.5)


@register(
    "hard_negative_pairs",
    f"""
    WITH q AS (SELECT vec_id AS anchor_id, label AS albl, embedding AS qv
               FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT q.anchor_id, c.vec_id,
             ROUND({_COS_SQL.format(a='q.qv', b='c.embedding')}, 6) AS cosine
      FROM q, embeddings c WHERE c.label <> q.albl
    ),
    ranked AS (
      SELECT anchor_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT anchor_id, vec_id, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_hard_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: top-5 most-similar DIFFERENT-label vectors per
    anchor (the contrastive-training negatives a uniform sampler misses).
    Label filter precedes the top-k window — ids+rank compared, cosine
    dropped (float summation-order, the cosine_topk_blas precedent)."""
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    anchors = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    out = similarity.hard_negatives(anchors, emb, k=5)
    return out.select("anchor_id", "vec_id", F.col("rank").cast("int").alias("rank"))


@register(
    "prototypicality_scores",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    comp AS (
      SELECT label, i, CAST(SUM(CAST(v[i] AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS cv
      FROM e, UNNEST(generate_series(1, LEN(v))) AS u(i)
      GROUP BY label, i
    ),
    cent AS (SELECT label, LIST(cv ORDER BY i) AS c FROM comp GROUP BY label),
    s AS (
      SELECT e.vec_id, e.label,
             ROUND({_COS_SQL.format(a='e.v', b='cent.c')}, 6) AS proto_cos
      FROM e JOIN cent ON e.label = cent.label
    )
    SELECT vec_id, label, proto_cos,
           ROUND(PERCENT_RANK() OVER (PARTITION BY label ORDER BY proto_cos), 6) AS proto_pct
    FROM s
    """,
)
def q_prototypicality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality pruning scores (Sorscher et al. 2022): cosine to the
    label centroid + within-label percentile. Centroid components sum via
    DECIMAL(28,12) on both engines (order-insensitive), percent_rank ranks
    the ROUNDED cosine so ties agree across engines."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.prototypicality(emb)


_GOPHER_SQL = f"""
    WITH t AS (
      SELECT doc_id, text, {_SQL_TOKS.format(t='text')} AS toks FROM documents
    ),
    s AS (
      SELECT doc_id,
             CAST(LEN(toks) AS BIGINT) AS n_words,
             CASE WHEN LEN(toks) > 0
                  THEN CAST(LEN(array_to_string(toks, '')) AS DOUBLE) / LEN(toks)
                  ELSE 0.0 END AS mean_wl,
             CASE WHEN LEN(toks) > 0
                  THEN LEN(regexp_extract_all(text, '[#…]|\\.\\.\\.')) / LEN(toks)
                  ELSE 0.0 END AS sym_ratio,
             CASE WHEN LEN(toks) > 0
                  THEN LEN(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) / LEN(toks)
                  ELSE 0.0 END AS alpha_frac,
             CAST(LEN(list_filter({_SQL_TOKS.format(t='lower(text)')},
                  x -> x IN {_STOP_EN_SQL})) AS BIGINT) AS stop_hits
      FROM t
    )
    SELECT doc_id, n_words,
           ROUND(mean_wl, 6) AS mean_word_len,
           ROUND(sym_ratio, 6) AS symbol_word_ratio,
           ROUND(alpha_frac, 6) AS alpha_word_frac,
           stop_hits AS stopword_hits,
           (n_words >= 50 AND n_words <= 100000) AS rule_n_words,
           (mean_wl >= 3.0 AND mean_wl <= 10.0) AS rule_word_len,
           (sym_ratio <= 0.1) AS rule_symbol,
           (alpha_frac >= 0.8) AS rule_alpha,
           (stop_hits >= 2) AS rule_stop,
           ((n_words >= 50 AND n_words <= 100000) AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
            AND (sym_ratio <= 0.1) AND (alpha_frac >= 0.8) AND (stop_hits >= 2)) AS keep
    FROM s
    """


@register("gopher_filter_docs", _GOPHER_SQL)
def q_gopher_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule filter (Rae et al. 2021 §A1.1): per-rule booleans +
    conjunction ``keep``. Pure codegen scan, zero shuffles — the audit
    twin of quality_score's blended ranking number."""
    return text.gopher_rules(read_table(spark, sf_dir, "documents", parallelize=True), "doc_id", "text")


@register(
    "vocab_coverage_docs",
    f"""
    WITH w AS (
      SELECT UNNEST({_SQL_TOKS.format(t='text')}) AS word FROM documents
    ),
    c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_occ FROM w GROUP BY word),
    tot AS (SELECT SUM(n_occ) AS total FROM c),
    top AS (
      SELECT word, n_occ,
             CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, word ASC) AS BIGINT) AS rank
      FROM c QUALIFY rank <= 20
    )
    SELECT word, n_occ, rank,
           ROUND(SUM(n_occ) OVER (ORDER BY rank) / (SELECT total FROM tot), 6) AS cum_frac
    FROM top
    """,
)
def q_vocab_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary head + cumulative coverage (tokenizer-budget planning):
    top-20 corpus tokens, exact counts, running coverage fraction. Exact
    integer arithmetic end-to-end — the division is the only float."""
    return text.vocab_coverage(
        read_table(spark, sf_dir, "documents"), "text", top_n=20
    )


# ---------------------------------------------------------------------------
# corpus selection (r7: DSIR importance resampling, token-budget subsetting,
# chunk-level dedup + reassembly)
# ---------------------------------------------------------------------------

_GRAMS_SQL = (
    "list_concat({t}, CASE WHEN LEN({t}) >= 2 THEN "
    "list_transform(generate_series(1, LEN({t}) - 1), "
    "i -> {t}[i] || ' ' || {t}[i + 1]) ELSE [] END)"
)


@register(
    "dsir_select_docs",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS.format(t='text')} AS toks FROM documents),
    g AS (
      SELECT doc_id, gram
      FROM t, UNNEST({_GRAMS_SQL.format(t='toks')}) AS u(gram)
    ),
    b AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT) % 256 AS bucket
      FROM g
    ),
    tc AS (SELECT bucket, COUNT(*) AS n FROM b WHERE doc_id % 11 = 0 GROUP BY bucket),
    rc AS (SELECT bucket, COUNT(*) AS n FROM b WHERE doc_id % 11 <> 0 GROUP BY bucket),
    lr AS (
      SELECT s.bucket,
             ROUND(LN((COALESCE(tc.n, 0) + 1.0) / ((SELECT SUM(n) FROM tc) + 256.0))
                 - LN((COALESCE(rc.n, 0) + 1.0) / ((SELECT SUM(n) FROM rc) + 256.0)),
                   9) AS log_ratio
      FROM (SELECT UNNEST(generate_series(0, 255)) AS bucket) s
      LEFT JOIN tc ON s.bucket = tc.bucket
      LEFT JOIN rc ON s.bucket = rc.bucket
    ),
    dw AS (
      SELECT b.doc_id,
             CAST(SUM(CAST(lr.log_ratio AS DECIMAL(20,9))) AS DOUBLE) AS log_weight
      FROM b JOIN lr USING (bucket) WHERE b.doc_id % 11 <> 0 GROUP BY b.doc_id
    ),
    keyed AS (
      SELECT d.doc_id, COALESCE(dw.log_weight, 0.0) AS log_weight,
             ROUND(COALESCE(dw.log_weight, 0.0) + (-LN(-LN(
               (CAST(concat('0x', substr(md5('g|' || CAST(d.doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) + 0.5) / 4294967296.0))), 6) AS sample_key
      FROM documents d LEFT JOIN dw ON d.doc_id = dw.doc_id
      WHERE d.doc_id % 11 <> 0
    )
    SELECT doc_id, log_weight, sample_key,
           CAST(ROW_NUMBER() OVER (ORDER BY sample_key DESC, doc_id ASC) AS INT)
             AS sample_rank
    FROM keyed QUALIFY sample_rank <= 50
    """,
)
def q_dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): every 11th doc plays
    the TARGET distribution, the rest the raw pool; hashed unigram+bigram
    bucket log-ratios (Laplace-smoothed, 256 buckets) score each raw doc,
    and Gumbel-top-k (md5-derived uniforms) draws 50 without replacement.
    Log-weights sum in DECIMAL(20,9) so both engines agree bit-for-bit."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    target = docs.filter(F.col("doc_id") % 11 == 0)
    raw = docs.filter(F.col("doc_id") % 11 != 0)
    ratios = selection.dsir_log_ratios(target, raw, "text", n_buckets=256)
    return selection.dsir_sample(raw, "doc_id", "text", ratios, k=50, n_buckets=256)


@register(
    "budget_select_docs",
    f"""
    WITH t AS (
      SELECT doc_id, text,
             CAST(LEN({_SQL_TOKS.format(t='text')}) AS BIGINT) AS n_tok,
             CAST(LENGTH(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) AS punct,
             CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) AS digit,
             CAST(LEN(list_filter({_SQL_TOKS.format(t='lower(text)')},
                  x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
               / GREATEST(LEN({_SQL_TOKS.format(t='text')}), 1) AS stop_ratio
      FROM documents
    ),
    q AS (
      SELECT doc_id, n_tok AS n_tokens,
             ROUND(
               (CASE WHEN n_tok < 5 THEN n_tok / 5.0 WHEN n_tok > 5000 THEN 0.5 ELSE 1.0 END)
               * (1.0 - LEAST(punct * 2, 1.0))
               * (1.0 - LEAST(digit * 2, 1.0))
               * (0.5 + LEAST(stop_ratio * 2, 0.5)), 6) AS quality_score
      FROM t
    )
    SELECT doc_id, quality_score, n_tokens,
           CAST(SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id ASC)
                AS BIGINT) AS cum_weight
    FROM q QUALIFY cum_weight <= 3000
    """,
)
def q_budget_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus subsetting: fill a 3000-token training budget
    from the top of the quality ranking (score desc, id tiebreak). The
    operator's banded prefix sum must equal the oracle's single global
    window — band assignment is provably order-preserving."""
    docs = read_table(spark, sf_dir, "documents", parallelize=True).repartition(_par(spark))
    qs = text.quality_score(docs, "doc_id", "text")
    return selection.select_by_budget(
        qs, "doc_id", score_col="quality_score", weight_col="n_tokens", budget=3000
    )


@register(
    "chunk_dedup_docs",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_TOKS.format(t='text')} AS toks FROM documents),
    c AS (
      SELECT doc_id, toks, CAST(FLOOR((LEN(toks) - 1) / 16.0) AS BIGINT) + 1 AS nc
      FROM t WHERE LEN(toks) > 0
    ),
    ch AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS chunk_id,
             array_to_string(toks[(i-1)*16 + 1 : i*16], ' ') AS chunk_text
      FROM c, UNNEST(generate_series(1, nc)) AS u(i)
    ),
    k AS (
      SELECT doc_id, chunk_id, chunk_text,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                                ORDER BY doc_id, chunk_id) AS rn
      FROM ch
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nk,
             array_to_string(LIST(chunk_text ORDER BY chunk_id), ' ') AS clean_text
      FROM k WHERE rn = 1 GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nc2 FROM ch GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(tot.nc2, 0) AS n_chunks,
           COALESCE(agg.nk, 0) AS n_chunks_kept,
           COALESCE(agg.clean_text, '') AS clean_text
    FROM documents d
    LEFT JOIN tot ON d.doc_id = tot.doc_id
    LEFT JOIN agg ON d.doc_id = agg.doc_id
    """,
)
def q_chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level corpus dedup (CCNet/RefinedWeb paragraph dedup at
    16-token-window grain): keep each distinct chunk's first occurrence
    (doc_id, chunk_id order), rebuild every document from its survivors.
    First-occurrence ranking shuffles by chunk md5; reassembly by id."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return selection.chunk_dedup(docs, "doc_id", "text", chunk_tokens=16)


@register(
    "quality_calibrated_docs",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(LEN({_SQL_TOKS.format(t='text')}) AS BIGINT) AS n_tok,
             CAST(LENGTH(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) AS punct,
             CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) AS digit,
             CAST(LEN(list_filter({_SQL_TOKS.format(t='lower(text)')},
                  x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
               / GREATEST(LEN({_SQL_TOKS.format(t='text')}), 1) AS stop_ratio
      FROM documents
    ),
    q AS (
      SELECT doc_id, source,
             ROUND(
               (CASE WHEN n_tok < 5 THEN n_tok / 5.0 WHEN n_tok > 5000 THEN 0.5 ELSE 1.0 END)
               * (1.0 - LEAST(punct * 2, 1.0))
               * (1.0 - LEAST(digit * 2, 1.0))
               * (0.5 + LEAST(stop_ratio * 2, 0.5)), 6) AS quality_score
      FROM t
    )
    SELECT doc_id, source, quality_score,
           ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY quality_score), 6)
             AS score_pct
    FROM q
    """,
)
def q_quality_calibrated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration (CCNet-style per-domain buckets):
    within-source percent_rank of the heuristic quality score, so one
    percentile threshold means "the best X% of EVERY source" instead of
    favoring the easiest domain. percent_rank over the rounded score is a
    pure function of the per-source score multiset — tie-stable on both
    engines."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    qs = text.quality_score(docs, "doc_id", "text").join(
        docs.select("doc_id", "source"), "doc_id"
    ).drop("n_tokens")
    return text.quality_calibrate(qs, "doc_id", "quality_score", "source")


@register(
    "source_overlap_docs",
    f"""
    WITH t AS (
      SELECT doc_id, source, {_SQL_TOKS.format(t='text')} AS toks FROM documents
    ),
    c AS (
      SELECT doc_id, source, toks,
             CAST(FLOOR((LEN(toks) - 1) / 16.0) AS BIGINT) + 1 AS nc
      FROM t WHERE LEN(toks) > 0
    ),
    s AS (
      SELECT DISTINCT md5(array_to_string(toks[(i-1)*16 + 1 : i*16], ' ')) AS d, source
      FROM c, UNNEST(generate_series(1, nc)) AS u(i)
    ),
    tot AS (SELECT source AS source_a, CAST(COUNT(*) AS BIGINT) AS n_chunks_a
            FROM s GROUP BY source),
    p AS (
      SELECT x.source AS source_a, y.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM s x JOIN s y ON x.d = y.d
      GROUP BY x.source, y.source
    )
    SELECT p.source_a, p.source_b, tot.n_chunks_a, p.n_shared,
           ROUND(CAST(p.n_shared AS DOUBLE) / tot.n_chunks_a, 6) AS overlap_frac
    FROM p JOIN tot ON p.source_a = tot.source_a
    """,
)
def q_source_overlap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix at 16-token-chunk grain: the
    fraction of each source's distinct chunks also present in every other
    source — decides dedup order and mixture weights before training. The
    join input is DISTINCT (md5 digest, source) pairs: 16-byte digests,
    never text."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return selection.source_overlap(docs, "doc_id", "text", "source", chunk_tokens=16)


# the BPE pre-tokenizer pattern as a DuckDB SQL literal (leading quote
# doubled); Java regex and RE2 split identically on it (no lookahead)
_BPE_RE_SQL = r"'''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'"


@register(
    "bpe_token_stats_docs",
    f"""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text, {_BPE_RE_SQL})) AS BIGINT) AS n_pretokens,
           CAST(LEN({_SQL_TOKS.format(t='text')}) AS BIGINT) AS n_ws_tokens,
           ROUND(CAST(LEN(regexp_extract_all(text, {_BPE_RE_SQL})) AS DOUBLE)
                 / GREATEST(LEN({_SQL_TOKS.format(t='text')}), 1), 6)
             AS pretokens_per_word
    FROM documents
    """,
)
def q_bpe_token_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting under the GPT-2-style (lookahead-free)
    pre-tokenizer: per-doc pre-token vs whitespace-token counts. Pure
    regexp codegen, zero shuffles; Java regex and RE2 verified to split
    identically (leftmost-first alternation, no lookahead)."""
    docs = read_table(spark, sf_dir, "documents")
    return text.bpe_token_stats(docs, "doc_id", "text")


@register(
    "bpe_pair_stats_docs",
    f"""
    WITH t AS (
      SELECT UNNEST(regexp_extract_all(text, {_BPE_RE_SQL})) AS tok FROM documents
    ),
    p AS (
      SELECT substr(tok, i, 1) AS "left", substr(tok, i + 1, 1) AS "right"
      FROM t, UNNEST(generate_series(1, LEN(tok) - 1)) AS u(i)
      WHERE LEN(tok) >= 2
    ),
    c AS (
      SELECT "left", "right", CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM p GROUP BY "left", "right"
    )
    SELECT "left", "right", n_occ,
           CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, "left" ASC, "right" ASC)
                AS BIGINT) AS rank
    FROM c QUALIFY rank <= 30
    """,
)
def q_bpe_pair_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE training step: corpus-wide adjacent character-pair counts
    within pre-tokens — the top pair is the first merge a BPE trainer
    learns. Two nested explodes into one map-side-combined groupBy; the
    shuffle carries |alphabet|² partials, never corpus positions."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return text.bpe_pair_stats(docs, "text", top_n=30)


@register(
    "quality_calibrated_sketch_docs",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(LEN({_SQL_TOKS.format(t='text')}) AS BIGINT) AS n_tok,
             CAST(LENGTH(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) AS punct,
             CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
               / GREATEST(LENGTH(text), 1) AS digit,
             CAST(LEN(list_filter({_SQL_TOKS.format(t='lower(text)')},
                  x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE)
               / GREATEST(LEN({_SQL_TOKS.format(t='text')}), 1) AS stop_ratio
      FROM documents
    ),
    q AS (
      SELECT doc_id, source,
             ROUND(
               (CASE WHEN n_tok < 5 THEN n_tok / 5.0 WHEN n_tok > 5000 THEN 0.5 ELSE 1.0 END)
               * (1.0 - LEAST(punct * 2, 1.0))
               * (1.0 - LEAST(digit * 2, 1.0))
               * (0.5 + LEAST(stop_ratio * 2, 0.5)), 6) AS quality_score
      FROM t
    ),
    bounds AS (
      SELECT source, MIN(quality_score) AS lo, MAX(quality_score) AS hi,
             CAST(COUNT(*) AS BIGINT) AS tot
      FROM q GROUP BY source
    ),
    r AS (
      SELECT q.doc_id, q.source, q.quality_score, b.tot,
             LEAST(GREATEST(CAST(FLOOR(
               CASE WHEN b.hi - b.lo > 0
                    THEN (q.quality_score - b.lo) / (b.hi - b.lo) ELSE 0.0 END
               * 256) AS BIGINT), 0), 255) AS bk
      FROM q JOIN bounds b ON q.source = b.source
    ),
    h AS (SELECT source, bk, CAST(COUNT(*) AS BIGINT) AS n FROM r GROUP BY source, bk),
    c AS (
      SELECT source, bk,
             SUM(n) OVER (PARTITION BY source ORDER BY bk) - n AS below
      FROM h
    )
    SELECT r.doc_id, r.source, r.quality_score,
           ROUND(CAST(c.below AS DOUBLE) / r.tot, 6) AS score_pct
    FROM r JOIN c ON r.source = c.source AND r.bk = c.bk
    """,
)
def q_quality_calibrated_sketch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB calibration path made concrete: bucket-granular
    per-source percentile from a fixed-width histogram — one map-side
    aggregate + broadcast join, NO row ever shuffles and nothing sorts
    (vs the exact form's per-source percent_rank window). Error ≤ one
    bucket's mass; the oracle replays the identical bucket arithmetic."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    qs = text.quality_score(docs, "doc_id", "text").join(
        docs.select("doc_id", "source"), "doc_id"
    ).drop("n_tokens")
    return text.quality_calibrate(
        qs, "doc_id", "quality_score", "source", strategy="sketch"
    )


@register(
    "trend_slope_user_value",
    """
    WITH t0 AS (SELECT MIN(epoch_us(ts)) AS v FROM events),
    b AS (
      SELECT user_id, epoch_us(ts) - (SELECT v FROM t0) AS t,
             CAST(value AS DECIMAL(18,6)) AS v
      FROM events
    ),
    a AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             SUM(CAST(t AS DECIMAL(38,0))) AS st,
             SUM(v) AS sv,
             SUM(CAST(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0))
                      AS DECIMAL(38,0))) AS stt,
             -- DECIMAL(19)+ forces DuckDB's int128 multiply path (width-18
             -- products run in int64 and overflow on epoch-scale values)
             SUM(CAST(CAST(t AS DECIMAL(19,0)) * CAST(v AS DECIMAL(19,6))
                      AS DECIMAL(38,6))) AS stv
      FROM b GROUP BY user_id
    )
    SELECT user_id, n_events,
           ROUND(
             CASE WHEN CAST(n_events AS DOUBLE) * CAST(stt AS DOUBLE)
                       - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) > 0
                  THEN (CAST(n_events AS DOUBLE) * CAST(stv AS DOUBLE)
                        - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
                       / (CAST(n_events AS DOUBLE) * CAST(stt AS DOUBLE)
                          - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                       * 86400000000.0
                  ELSE NULL END, 6) AS slope_per_day
    FROM a
    """,
)
def q_trend_slope_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS spend-trend slope (value-units/day) in ONE aggregation
    pass: exact decimal sums (order-free) recentered on the dataset's min
    timestamp (bounds the n·Σt²−(Σt)² cancellation by the data span), then
    IEEE-deterministic double combine — both engines bit-agree."""
    events = read_table(spark, sf_dir, "events").repartition(_par(spark))
    return fe_ops.trend_slope(events, "user_id", "ts", "value")


@register(
    "funnel_view_click_purchase",
    """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS r1 FROM events WHERE event_type = 'view'
      GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS r2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts >= s1.r1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS r3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s2.r2
      GROUP BY e.user_id
    ),
    n AS (
      SELECT CAST(COUNT(s1.user_id) AS BIGINT) AS n1,
             CAST(COUNT(s2.user_id) AS BIGINT) AS n2,
             CAST(COUNT(s3.user_id) AS BIGINT) AS n3
      FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
              LEFT JOIN s3 ON s1.user_id = s3.user_id
    )
    SELECT * FROM (
      SELECT CAST(1 AS INT) AS stage_idx, 'view' AS stage, n1 AS n_keys,
             ROUND(CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) / n1 ELSE 0.0 END, 6) AS conv_from_prev,
             ROUND(CASE WHEN n1 > 0 THEN CAST(n1 AS DOUBLE) / n1 ELSE 0.0 END, 6) AS conv_from_first
      FROM n
      UNION ALL
      SELECT CAST(2 AS INT), 'click', n2,
             ROUND(CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 ELSE 0.0 END, 6),
             ROUND(CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 ELSE 0.0 END, 6)
      FROM n
      UNION ALL
      SELECT CAST(3 AS INT), 'purchase', n3,
             ROUND(CASE WHEN n2 > 0 THEN CAST(n3 AS DOUBLE) / n2 ELSE 0.0 END, 6),
             ROUND(CASE WHEN n1 > 0 THEN CAST(n3 AS DOUBLE) / n1 ELSE 0.0 END, 6)
      FROM n
    )
    """,
)
def q_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel over the event log: stage i
    counts only via an event at/after the user's stage i−1 reach time.
    One filtered scan + min-aggregate per stage, chained by per-key joins
    — no windows, no per-user event sorting."""
    events = read_table(spark, sf_dir, "events").repartition(_par(spark))
    return windows_ops.funnel_summary(
        events, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


@register(
    "cohort_retention_weekly",
    """
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS p FROM events
    ),
    first AS (SELECT user_id, MIN(p) AS cohort FROM act GROUP BY user_id),
    j AS (
      SELECT act.user_id, f.cohort,
             CAST(datediff('day', f.cohort, act.p) / 7 AS BIGINT) AS off
      FROM act JOIN first f ON act.user_id = f.user_id
    ),
    c AS (
      SELECT cohort, off, CAST(COUNT(*) AS BIGINT) AS n_active
      FROM j GROUP BY cohort, off
    ),
    s AS (SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM first GROUP BY cohort)
    SELECT c.cohort, CAST(c.off AS INT) AS period_offset, c.n_active, s.cohort_size,
           ROUND(CAST(c.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
    FROM c JOIN s ON c.cohort = s.cohort
    """,
)
def q_cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over the event log: users grouped
    by first-activity week, re-activity counted per whole-week offset. The
    (key, period) activity set distincts BEFORE any join, so shuffles carry
    one row per user-week, never per event."""
    events = read_table(spark, sf_dir, "events").repartition(_par(spark))
    return windows_ops.cohort_retention(events, "user_id", "ts", period="week")


@register(
    "random_projection_embeddings",
    """
    WITH m AS (
      SELECT j, i,
             CASE WHEN CAST(concat('0x', substr(md5('rp_' || CAST(j AS VARCHAR)
                       || '_' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 1
                  THEN 1.0 ELSE -1.0 END AS r
      FROM (SELECT UNNEST(generate_series(0, 15)) AS j),
           (SELECT UNNEST(generate_series(0, 63)) AS i)
    ),
    rows_m AS (SELECT j, LIST(r ORDER BY i) AS w FROM m GROUP BY j)
    SELECT e.vec_id, CAST(rm.j AS INT) AS component,
           ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), rm.w) / sqrt(16.0), 6) AS value
    FROM embeddings e, rows_m rm
    """,
)
def q_random_projection_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sign projection 64→16 (Achlioptas ±1 matrix
    from md5 bits — reproducible on any engine, no weight shipping): the
    dimension-reduction front of a 100 TB ANN pipeline. Pure codegen scan,
    zero shuffles; components rounded 6 dp (the cosine-oracle contract)."""
    emb = read_table(spark, sf_dir, "embeddings")
    rp = similarity.random_projection(emb, in_dim=64, out_dim=16)
    # long format: the driver comparator hashes scalars, not arrays
    return rp.select(
        "vec_id", F.posexplode("rp").alias("component", "value")
    ).select("vec_id", F.col("component").cast("int").alias("component"), "value")


_MMR_S1 = _COS_SQL.format(a="c.v", b="s1.v1")
_MMR_S2 = _COS_SQL.format(a="c.v", b="s2.v2")
_MMR_S3 = _COS_SQL.format(a="c.v", b="s3.v3")


@register(
    "mmr_rerank_embeddings",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
    sc AS (
      SELECT q.qid, e.vec_id AS i,
             ROUND({_COS_SQL.format(a='q.qv', b='e.embedding')}, 6) AS rel,
             e.embedding AS v
      FROM q, embeddings e
    ),
    cand AS (
      SELECT * FROM sc
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, i ASC) <= 20
    ),
    s1 AS (
      SELECT qid, i AS i1, rel AS r1, v AS v1 FROM cand
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rel DESC, i ASC) = 1
    ),
    s2 AS (
      SELECT c.qid, c.i AS i2, c.rel AS r2, c.v AS v2
      FROM cand c JOIN s1 USING (qid) WHERE c.i <> s1.i1
      QUALIFY ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
        ROUND(0.7 * c.rel - 0.3 * ROUND({_MMR_S1}, 6), 6) DESC, c.i ASC) = 1
    ),
    s3 AS (
      SELECT c.qid, c.i AS i3, c.rel AS r3, c.v AS v3
      FROM cand c JOIN s1 USING (qid) JOIN s2 USING (qid)
      WHERE c.i <> s1.i1 AND c.i <> s2.i2
      QUALIFY ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
        ROUND(0.7 * c.rel - 0.3 * GREATEST(
          ROUND({_MMR_S1}, 6), ROUND({_MMR_S2}, 6)), 6) DESC, c.i ASC) = 1
    ),
    s4 AS (
      SELECT c.qid, c.i AS i4, c.rel AS r4
      FROM cand c JOIN s1 USING (qid) JOIN s2 USING (qid) JOIN s3 USING (qid)
      WHERE c.i <> s1.i1 AND c.i <> s2.i2 AND c.i <> s3.i3
      QUALIFY ROW_NUMBER() OVER (PARTITION BY c.qid ORDER BY
        ROUND(0.7 * c.rel - 0.3 * GREATEST(
          ROUND({_MMR_S1}, 6), ROUND({_MMR_S2}, 6), ROUND({_MMR_S3}, 6)), 6) DESC,
        c.i ASC) = 1
    )
    SELECT qid AS query_id, i1 AS vec_id, r1 AS relevance, CAST(1 AS INT) AS mmr_rank FROM s1
    UNION ALL SELECT qid, i2, r2, CAST(2 AS INT) FROM s2
    UNION ALL SELECT qid, i3, r3, CAST(3 AS INT) FROM s3
    UNION ALL SELECT qid, i4, r4, CAST(4 AS INT) FROM s4
    """,
)
def q_mmr_rerank_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    8 query vectors, top-20 relevance pool, greedy k=4 at λ=0.7 — the
    diversity pass between ANN retrieval and a RAG prompt. Every argmax
    compares 6-dp-rounded scores with id tiebreak, so the oracle's
    UNROLLED greedy (one CTE per step) reproduces the selection exactly;
    the operator itself takes any k via checkpointed iterations."""
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.mmr_rerank(queries, emb, k=4, pool=20, lam=0.7)


@register(
    "maxsim_multivector_topk",
    f"""
    WITH d AS (
      SELECT vec_id % 50 AS doc_id, vec_id, embedding FROM embeddings
    ),
    q AS (
      SELECT vec_id % 2 AS query_id, vec_id AS qvec_id, embedding AS qv
      FROM embeddings WHERE vec_id < 6
    ),
    per_qv AS (
      SELECT q.query_id, q.qvec_id, d.doc_id,
             MAX(ROUND({_COS_SQL.format(a='q.qv', b='d.embedding')}, 6)) AS m
      FROM q, d
      GROUP BY q.query_id, q.qvec_id, d.doc_id
    ),
    sc AS (
      SELECT query_id, doc_id,
             ROUND(CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE), 6) AS maxsim_score
      FROM per_qv GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, maxsim_score,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY maxsim_score DESC, doc_id ASC) AS INT) AS rank
    FROM sc QUALIFY rank <= 10
    """,
)
def q_maxsim_multivector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector late-interaction retrieval (ColBERT MaxSim): 2 queries
    of 3 vectors each against 50 multi-vector documents (embeddings
    grouped by vec_id % 50). Per-pair cosines round BEFORE the max, the
    per-doc sum is decimal-exact — both engines agree bit-for-bit."""
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    docs = emb.select((F.col("vec_id") % 50).alias("doc_id"), "embedding")
    queries = emb.filter(F.col("vec_id") < 6).select(
        (F.col("vec_id") % 2).alias("query_id"),
        F.col("vec_id").alias("qvec_id"),
        "embedding",
    )
    return similarity.maxsim_topk(queries, docs, k=10)


@register(
    "event_type_affinity",
    """
    WITH kt AS (SELECT DISTINCT user_id, event_type FROM events),
    nk AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n FROM kt),
    marg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS na FROM kt GROUP BY event_type),
    p AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_keys_both
      FROM kt x JOIN kt y ON x.user_id = y.user_id AND x.event_type < y.event_type
      GROUP BY x.event_type, y.event_type
    )
    SELECT p.type_a, p.type_b, p.n_keys_both,
           ROUND(p.n_keys_both / (SELECT n FROM nk), 6) AS support,
           ROUND((p.n_keys_both / (SELECT n FROM nk))
                 / ((ma.na / (SELECT n FROM nk)) * (mb.na / (SELECT n FROM nk))), 6) AS lift
    FROM p
    JOIN marg ma ON p.type_a = ma.event_type
    JOIN marg mb ON p.type_b = mb.event_type
    """,
)
def q_event_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity over the event log: per unordered event-type
    pair, co-occurrence support across users and lift vs independence.
    Events reduce to DISTINCT (user, type) before any join — ≤ |types|
    rows per user regardless of event volume."""
    events = read_table(spark, sf_dir, "events", parallelize=True).repartition(_par(spark))
    return windows_ops.type_affinity(events, "user_id", "event_type")


@register(
    "corpus_duplication_rate_docs",
    f"""
    WITH t AS (SELECT {_SQL_TOKS.format(t='text')} AS toks FROM documents),
    g AS (
      SELECT md5(array_to_string(toks[i : i + 7], ' ')) AS d
      FROM t, UNNEST(generate_series(1, LEN(toks) - 7)) AS u(i)
      WHERE LEN(toks) >= 8
    ),
    c AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY d)
    SELECT CAST(SUM(n) AS BIGINT) AS n_ngrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           ROUND(1.0 - COUNT(*) / CAST(SUM(n) AS DOUBLE), 6) AS dup_frac,
           ROUND(SUM(CASE WHEN n >= 10 THEN n ELSE 0 END)
                 / CAST(SUM(n) AS DOUBLE), 6) AS heavy_frac
    FROM c
    """,
)
def q_corpus_duplication_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level 8-gram duplication rate (Lee et al. 2022's dedup
    health-check, across documents): the shuffle carries 16-byte window
    digests with map-side-combined partial counts, never window text."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return text.corpus_duplication_rate(docs, "text", ngram=8)


@register(
    "zipf_fit_docs",
    f"""
    WITH w AS (
      SELECT UNNEST({_SQL_TOKS.format(t='text')}) AS word FROM documents
    ),
    c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_occ FROM w GROUP BY word),
    top AS (
      SELECT n_occ,
             CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, word ASC) AS BIGINT) AS rank
      FROM c QUALIFY rank <= 50
    ),
    h AS (
      SELECT CAST(ROUND(LN(CAST(rank AS DOUBLE)), 9) AS DECIMAL(12,9)) AS x,
             CAST(ROUND(LN(CAST(n_occ AS DOUBLE)), 9) AS DECIMAL(12,9)) AS y
      FROM top
    ),
    a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy
      FROM h
    )
    SELECT n_words,
           ROUND((n_words * sxy - sx * sy) / (n_words * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy - (n_words * sxy - sx * sy) / (n_words * sxx - sx * sx) * sx)
                 / n_words, 6) AS zipf_intercept,
           ROUND(CASE WHEN syy - sy * sy / n_words > 0
                 THEN 1.0 - (syy - sy * sy / n_words
                      - POW((n_words * sxy - sx * sy) / (n_words * sxx - sx * sx), 2)
                        * (n_words * sxx - sx * sx) / n_words)
                      / (syy - sy * sy / n_words)
                 ELSE 1.0 END, 6) AS r2
    FROM a
    """,
)
def q_zipf_fit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-50 vocabulary (natural text ≈ −1 slope;
    this synthetic near-uniform corpus reads ≈ 0 — exactly the signal):
    OLS on 9-dp-rounded logs with exact decimal sums, IEEE double combine
    — the trend_slope recipe on bounded-small data."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return text.zipf_fit(docs, "text", top_n=50)


@register(
    "active_users_daily",
    """
    WITH act AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
    ),
    sp AS (
      SELECT UNNEST(generate_series(
        (SELECT MIN(d) FROM act), (SELECT MAX(d) FROM act), INTERVAL 1 DAY
      ))::DATE AS day
    ),
    w1 AS (
      SELECT sp.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n
      FROM sp JOIN act a ON a.d <= sp.day AND a.d > sp.day - 1
      GROUP BY sp.day
    ),
    w7 AS (
      SELECT sp.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n
      FROM sp JOIN act a ON a.d <= sp.day AND a.d > sp.day - 7
      GROUP BY sp.day
    ),
    w28 AS (
      SELECT sp.day, CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n
      FROM sp JOIN act a ON a.d <= sp.day AND a.d > sp.day - 28
      GROUP BY sp.day
    )
    SELECT sp.day,
           COALESCE(w1.n, 0) AS active_1d,
           COALESCE(w7.n, 0) AS active_7d,
           COALESCE(w28.n, 0) AS active_28d
    FROM sp
    LEFT JOIN w1 ON sp.day = w1.day
    LEFT JOIN w7 ON sp.day = w7.day
    LEFT JOIN w28 ON sp.day = w28.day
    """,
)
def q_active_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU per calendar day: trailing 1/7/28-day distinct-active
    counts over a day spine (gap days report 0). Events reduce to
    DISTINCT (user, day) before any join — the range join fans each
    key-day into ≤28 spine rows, never event rows."""
    events = read_table(spark, sf_dir, "events").repartition(_par(spark))
    return windows_ops.active_user_counts(events, "user_id", "ts", windows=(1, 7, 28))


_RFM_TILES = 5
_RFM_BOUNDS = ", ".join(
    f"ROUND(quantile_cont({m}, {i / _RFM_TILES}), 6) AS b_{m}{i - 1}"
    for m in ("recency_days", "frequency", "monetary")
    for i in range(1, _RFM_TILES)
)
_RFM_TILE = {
    m: "(1 + "
    + " + ".join(
        f"CAST(ROUND({m}, 6) > qb.b_{m}{i} AS INT)" for i in range(_RFM_TILES - 1)
    )
    + ")"
    for m in ("recency_days", "frequency", "monetary")
}


@register(
    "rfm_segments",
    f"""
    WITH mx AS (SELECT MAX(o_orderdate) AS m FROM orders),
    rfm AS (
      SELECT o_custkey AS custkey,
             CAST(FLOOR(date_diff('second', MAX(o_orderdate), mx.m) / 86400.0) AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             {dsum_sql('o_totalprice')} AS monetary
      FROM orders, mx GROUP BY o_custkey, mx.m
    ),
    qb AS (SELECT {_RFM_BOUNDS} FROM rfm)
    SELECT custkey, recency_days, frequency, monetary,
           CAST({_RFM_TILES + 1} - {_RFM_TILE['recency_days']} AS INT) AS r_score,
           CAST({_RFM_TILE['frequency']} AS INT) AS f_score,
           CAST({_RFM_TILE['monetary']} AS INT) AS m_score,
           CAST(({_RFM_TILES + 1} - {_RFM_TILE['recency_days']}) * 100
                + {_RFM_TILE['frequency']} * 10
                + {_RFM_TILE['monetary']} AS INT) AS rfm_segment
    FROM rfm, qb
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over orders (windows.rfm_scores): per
    customer, days since last order (as of the data's max date),
    order count, and decimal-exact spend, each quintiled via exact
    interpolated percentiles broadcast map-side — no global ntile sort.
    The oracle recomputes boundaries with quantile_cont and the same
    rounded > comparisons."""
    o = read_table(spark, sf_dir, "orders").repartition(_par(spark))
    out = windows_ops.rfm_scores(o, "o_custkey", "o_orderdate", "o_totalprice")
    return out.withColumnRenamed("o_custkey", "custkey")


@register(
    "touch_attribution_events",
    f"""
    WITH t AS (
      SELECT user_id, ts, event_id, event_type, value,
             FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
      FROM events
    ),
    c AS (SELECT * FROM t WHERE event_type = 'purchase')
    SELECT 'first_touch' AS model, COALESCE(ft, '(direct)') AS channel,
           CAST(COUNT(*) AS BIGINT) AS conversions, {dsum_sql('value')} AS attributed_value
    FROM c GROUP BY 2
    UNION ALL
    SELECT 'last_touch', COALESCE(lt, '(direct)'),
           CAST(COUNT(*) AS BIGINT), {dsum_sql('value')}
    FROM c GROUP BY 2
    """,
)
def q_touch_attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-/last-touch conversion attribution (windows.touch_attribution):
    each purchase credits the first and the most recent strictly-prior
    non-purchase event of the same user; no prior touch → '(direct)'.
    Both touches come from ONE user-window pass ((ts, event_id) total
    order); the per-channel rollups are |channels|-sized."""
    events = read_table(spark, sf_dir, "events").repartition(_par(spark))
    return windows_ops.touch_attribution(
        events, "user_id", "ts", "event_type",
        conversion="purchase", tie_col="event_id", value_col="value",
    )


@register(
    "interpurchase_gaps",
    """
    WITH g AS (
      SELECT o_custkey AS custkey,
             ROUND(date_diff('second',
                             LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                                    ORDER BY o_orderdate, o_orderkey),
                             o_orderdate) / 86400.0, 6) AS gap
      FROM orders
    )
    SELECT custkey,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(gap) AS BIGINT) AS n_gaps,
           ROUND(CAST(SUM(CAST(gap AS DECIMAL(28,6))) AS DOUBLE) / COUNT(gap), 6) AS mean_gap_days,
           ROUND(quantile_cont(gap, 0.5), 6) AS median_gap_days,
           MIN(gap) AS min_gap_days,
           MAX(gap) AS max_gap_days
    FROM g GROUP BY custkey
    """,
)
def q_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer interpurchase-time profile (windows.interarrival_stats):
    gaps between consecutive orders in (o_orderdate, o_orderkey) order —
    count / decimal-exact mean / exact interpolated median / min / max in
    fractional days. One shuffle: the groupBy reuses the lag window's
    key partitioning."""
    o = read_table(spark, sf_dir, "orders").repartition(_par(spark))
    out = windows_ops.interarrival_stats(o, "o_custkey", "o_orderdate", tie_col="o_orderkey")
    return out.withColumnRenamed("o_custkey", "custkey")


@register(
    "k_anonymity_events",
    """
    WITH g AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(FLOOR(value / 10.0) AS BIGINT) AS vb,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2, 3
    )
    SELECT CAST(5 AS INT) AS k,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_at_risk,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           ROUND(CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE) / SUM(n), 6) AS rows_at_risk_frac,
           CAST(MIN(n) AS BIGINT) AS min_group_size
    FROM g
    """,
)
def q_k_anonymity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity risk audit (quality.k_anonymity_profile) on the event
    log's quasi-identifier tuple (event_type, day, value decile-bucket):
    how many rows live in groups an adversary could single out (<k=5).
    The governance twin of scrub_pii — two map-side-combinable
    aggregates, zero row data off the executors."""
    from . import quality

    events = read_table(spark, sf_dir, "events").repartition(_par(spark))
    qdf = events.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
        F.floor(F.col("value") / 10.0).cast("long").alias("vb"),
    )
    return quality.k_anonymity_profile(qdf, ["event_type", "d", "vb"], k=5)


@register(
    "resample_ffill_user_value",
    """
    WITH daily AS (
      SELECT user_id, d, value FROM (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE user_id < 200 AND value IS NOT NULL
      ) WHERE rn = 1
    ),
    hi AS (SELECT MAX(CAST(date_trunc('day', ts) AS DATE)) AS h FROM events WHERE user_id < 200),
    spine AS (
      SELECT d.user_id, CAST(UNNEST(generate_series(d.lo, hi.h, INTERVAL 1 DAY)) AS DATE) AS day
      FROM (SELECT user_id, MIN(d) AS lo FROM daily GROUP BY user_id) d, hi
    )
    SELECT s.user_id, s.day,
           LAST_VALUE(daily.value IGNORE NULLS)
             OVER (PARTITION BY s.user_id ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
           daily.value IS NOT NULL AS is_observed
    FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.day = daily.d
    """,
)
def q_resample_ffill_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample + forward-fill (windows.resample_daily_ffill) of each
    user's last event value — the irregular-series → daily-feature-matrix
    step. User subset keeps the keys×days fan-out driver-comparable; the
    day's last value is pinned by (ts, event_id)."""
    events = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 200)
    return windows_ops.resample_daily_ffill(
        events, "user_id", "ts", "value", tie_col="event_id"
    )


@register(
    "session_stats_events",
    f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR DATE_DIFF('second', LAG(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS is_start
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ),
    per AS (
      SELECT user_id, sid, COUNT(*) AS n,
             DATE_DIFF('second', MIN(ts), MAX(ts)) AS dur
      FROM sess GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounce_sessions,
           ROUND(CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS bounce_rate,
           ROUND({dsum_sql('n')} / COUNT(*), 6) AS avg_session_events,
           ROUND({dsum_sql('dur')} / COUNT(*), 6) AS avg_duration_s,
           ROUND(quantile_cont(dur, 0.5), 6) AS median_duration_s,
           CAST(MAX(dur) AS BIGINT) AS max_duration_s
    FROM per
    """,
)
def q_session_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus session metrics (windows.session_stats, 30-min gap): session
    count, bounce rate, decimal-exact mean events/duration, exact median
    and max duration. The (user, session) rollup reuses the sessionize
    window's partitioning — no new fact exchange."""
    events = read_table(spark, sf_dir, "events").repartition(_par(spark))
    return windows_ops.session_stats(events, "user_id", "ts", 1800)


@register(
    "session_window_agg_events",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 1800 SECOND AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {dsum_sql('value')} AS total_value
    FROM sess GROUP BY user_id, sid
    """,
)
def q_session_window_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-NATIVE session windows (F.session_window) in batch mode, 30-min
    gap: microsecond boundary comparison, gap == threshold starts a new
    session, session_end = last event + gap. The oracle replays exactly
    those semantics with epoch_us (NOT the sessionize queries' whole-second
    DATE_DIFF — different operator, different contract)."""
    events = read_table(spark, sf_dir, "events").repartition(_par(spark))
    return windows_ops.session_window_agg(
        events, "user_id", "ts", "30 minutes", "value"
    )


@register(
    "session_trigrams_events",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR DATE_DIFF('second', LAG(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_start
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
    ),
    sess AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ),
    tri AS (
      SELECT event_type || '>' || LEAD(event_type, 1) OVER w2
                        || '>' || LEAD(event_type, 2) OVER w2 AS ngram,
             LEAD(event_type, 2) OVER w2 AS third
      FROM sess
      WINDOW w2 AS (PARTITION BY user_id, sid ORDER BY ts ASC, event_id ASC)
    )
    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n
    FROM tri WHERE third IS NOT NULL
    GROUP BY ngram
    ORDER BY n DESC, ngram ASC
    LIMIT 10
    """,
)
def q_session_trigrams_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 within-session event-type trigrams (30-min gap sessionize,
    (ts, event_id) order): the path-analysis primitive. The top-k is a
    TakeOrdered over ≤ |vocab|³ aggregate rows, never a data sort."""
    events = read_table(spark, sf_dir, "events").repartition(_par(spark))
    return windows_ops.session_ngram_topk(
        events, "user_id", "ts", "event_type", 1800, n=3, top_k=10,
        tie_col="event_id",
    )


@register(
    "user_event_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2
    ),
    p AS (
      SELECT user_id, c, SUM(c) OVER (PARTITION BY user_id) AS n FROM c
    ),
    k AS (
      SELECT user_id,
             CAST(MAX(n) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             -(CAST(SUM(CAST((c / n) * LN(c / n) AS DECIMAL(28,9))) AS DOUBLE)) + 0.0 AS h
      FROM p GROUP BY user_id
    )
    SELECT user_id, n_events, n_types,
           ROUND(h, 6) AS entropy,
           ROUND(CASE WHEN n_types > 1 THEN h / LN(CAST(n_types AS DOUBLE)) END, 6)
             AS norm_entropy
    FROM k
    """,
)
def q_user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity: Shannon entropy of the event-type
    distribution (decimal(28,9)-summed terms — order-insensitive,
    engine-identical) plus the ln(n_types)-normalized form."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.categorical_entropy(events, "user_id", "event_type")


def _benford_values_sql() -> str:
    from .quality import BENFORD_EXPECTED

    return ", ".join(f"({d}, {v!r})" for d, v in BENFORD_EXPECTED.items())


@register(
    "benford_orders_totalprice",
    f"""
    WITH f AS (
      SELECT CAST(FLOOR(o_totalprice / POWER(10,
               LENGTH(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR)) - 1))
             AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (SELECT digit, COUNT(*) AS n FROM f GROUP BY digit),
    tot AS (SELECT SUM(n) AS t FROM obs),
    e(digit, exp) AS (VALUES {_benford_values_sql()})
    SELECT e.digit,
           CAST(COALESCE(obs.n, 0) AS BIGINT) AS n,
           ROUND(COALESCE(obs.n, 0) / tot.t, 6) AS freq,
           ROUND(e.exp, 6) AS expected_freq,
           ROUND(COALESCE(obs.n, 0) / tot.t - e.exp, 6) AS deviation,
           ROUND(POWER(COALESCE(obs.n, 0) - e.exp * tot.t, 2) / (e.exp * tot.t), 6)
             AS chi2_contrib
    FROM e LEFT JOIN obs ON e.digit = obs.digit CROSS JOIN tot
    """,
)
def q_benford_orders_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: string-length digit
    extraction (no log10 — engine-exact), inline-literal expectations
    shared with the oracle, per-digit chi-square contributions."""
    from .quality import benford_profile

    orders = read_table(spark, sf_dir, "orders")
    return benford_profile(orders, "o_totalprice")


@register(
    "ohlc_user_value_daily",
    f"""
    WITH b AS (
      SELECT user_id, DATE_TRUNC('day', ts) AS bucket, value,
             FIRST_VALUE(value) OVER w AS o,
             LAST_VALUE(value) OVER w AS c
      FROM events
      WINDOW w AS (PARTITION BY user_id, DATE_TRUNC('day', ts)
                   ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket,
           MIN(o) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MIN(c) AS close,
           {dsum_sql('value')} AS volume,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM b GROUP BY user_id, bucket
    """,
)
def q_ohlc_user_value_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily OHLC bars over event value ((ts, event_id) total
    order): one (key, bucket) shuffle shared by the first/last window and
    the extremes/volume aggregate."""
    events = read_table(spark, sf_dir, "events")
    return windows_ops.ohlc_bars(
        events, "user_id", "ts", "value", tie_col="event_id", freq="day"
    )


from .operators import sketches as sketches_ops  # noqa: E402


@register(
    "kmv_user_overlap_view_purchase",
    sketches_ops.kmv_set_ops_sql(
        "(SELECT user_id FROM events WHERE event_type = 'view')",
        "user_id",
        "(SELECT user_id FROM events WHERE event_type = 'purchase')",
        "user_id",
        k=256,
    ),
)
def q_kmv_user_overlap_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set-operation estimates between viewer and purchaser user sets
    (union / intersection / Jaccard / A-only) — audience-overlap without
    shuffling the event log. Below 256 combined distinct users (sf0.01)
    the sketch IS exact set algebra; above (sf0.1) it estimates — the
    oracle replays the md5 sketch bit-for-bit either way."""
    events = read_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view")
    buys = events.filter(F.col("event_type") == "purchase")
    return sketches_ops.kmv_set_ops(views, buys, "user_id", "user_id", k=256)


@register(
    "weighted_median_price_by_flag",
    """
    WITH clean AS (
      SELECT l_returnflag, l_extendedprice AS v, l_quantity AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL AND l_quantity > 0
    ),
    c AS (
      SELECT l_returnflag, v,
             CAST(SUM(CAST(w AS DECIMAL(28,4))) OVER (
                    PARTITION BY l_returnflag ORDER BY v ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum,
             CAST(SUM(CAST(w AS DECIMAL(28,4))) OVER (
                    PARTITION BY l_returnflag) AS DOUBLE) AS tot
      FROM clean
    )
    SELECT l_returnflag, MIN(v) AS weighted_median, MIN(tot) AS total_weight
    FROM c WHERE cum >= 0.5 * tot
    GROUP BY l_returnflag
    """,
)
def q_weighted_median_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median of lineitem price per return flag:
    decimal cumulative weights (tie-order-proof), one group-key shuffle
    shared by both windows and the crossing-row pick."""
    li = read_table(spark, sf_dir, "lineitem")
    return windows_ops.weighted_quantile(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", 0.5,
        out_col="weighted_median",
    )


@register(
    "l_diversity_events",
    """
    WITH pv AS (
      SELECT event_type, DATE_TRUNC('day', ts) AS day, user_id, COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3
    ),
    g AS (
      SELECT event_type, day, SUM(n) AS rows_,
             COUNT(CASE WHEN user_id IS NOT NULL THEN 1 END) AS lv
      FROM pv GROUP BY 1, 2
    )
    SELECT CAST(3 AS INT) AS l,
           CAST(SUM(rows_) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN lv < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below,
           CAST(SUM(CASE WHEN lv < 3 THEN rows_ ELSE 0 END) AS BIGINT) AS n_rows_below,
           ROUND(CAST(SUM(CASE WHEN lv < 3 THEN rows_ ELSE 0 END) AS DOUBLE)
                 / SUM(rows_), 6) AS rows_below_frac,
           CAST(MIN(lv) AS BIGINT) AS min_distinct_sensitive
    FROM g
    """,
)
def q_l_diversity_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-diversity audit of (event_type, day) groups against user_id:
    the homogeneity-attack complement to the k-anonymity query — two
    map-side-combinable aggregates, no raw-row count_distinct shuffle."""
    from .quality import l_diversity_profile

    events = read_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    return l_diversity_profile(
        events.select(F.col("event_type"), day, F.col("user_id")),
        ["event_type", "day"],
        "user_id",
        l=3,
    )


@register(
    "part_copurchase_lift",
    """
    WITH kt AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS t FROM lineitem),
    n AS (SELECT COUNT(DISTINCT k) AS nk FROM kt),
    marg AS (SELECT t, COUNT(*) AS c FROM kt GROUP BY t),
    pairs AS (
      SELECT x.t AS a, y.t AS b, COUNT(*) AS nb
      FROM kt x JOIN kt y ON x.k = y.k AND x.t < y.t
      GROUP BY 1, 2
    )
    SELECT a AS part_a, b AS part_b,
           CAST(nb AS BIGINT) AS n_keys_both,
           ROUND(nb / nk, 6) AS support,
           ROUND((nb / nk) / ((ma.c / nk) * (mb.c / nk)), 6) AS lift
    FROM pairs
    JOIN marg ma ON ma.t = a
    JOIN marg mb ON mb.t = b
    CROSS JOIN n
    ORDER BY n_keys_both DESC, part_a ASC, part_b ASC
    LIMIT 20
    """,
)
def q_part_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket over the FACT side: top-20 part pairs co-purchased in
    the same order by count, with support and lift — windows.type_affinity
    re-keyed to (orderkey, partkey), where the self-join stays co-keyed on
    the order (one distinct-set shuffle) and the ~|parts| marginals
    broadcast. The top-20 is a TakeOrdered over pair aggregates."""
    li = read_table(spark, sf_dir, "lineitem")
    aff = windows_ops.type_affinity(li, "l_orderkey", "l_partkey")
    return (
        aff.select(
            F.col("type_a").alias("part_a"),
            F.col("type_b").alias("part_b"),
            "n_keys_both",
            "support",
            "lift",
        )
        .orderBy(F.desc("n_keys_both"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


@register(
    "event_transition_matrix",
    """
    WITH p AS (
      SELECT event_type AS from_token,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC) AS to_token
      FROM events
    ),
    c AS (
      SELECT from_token, to_token, COUNT(*) AS n
      FROM p WHERE to_token IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_token, to_token, CAST(n AS BIGINT) AS n,
           ROUND(n / SUM(n) OVER (PARTITION BY from_token), 6) AS prob
    FROM c
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov next-event matrix over the event log ((ts,
    event_id) order, transitions never cross users): one key shuffle for
    the lead window, |vocab|² aggregate rows after."""
    events = read_table(spark, sf_dir, "events").repartition(_par(spark))
    return windows_ops.transition_matrix(
        events, "user_id", "ts", "event_type", tie_col="event_id"
    )


@register(
    "key_skew_gini_events",
    """
    WITH counts AS (SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
    runs AS (SELECT c, COUNT(*) AS m FROM counts GROUP BY c),
    staged AS (
      SELECT c, m,
             COALESCE(SUM(m) OVER (ORDER BY c ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM runs
    )
    SELECT CAST(SUM(m) AS BIGINT) AS n_keys,
           CAST(SUM(c * m) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(c * (2*m*s + m*m + m)) - (SUM(m) + 1) * SUM(c*m) AS DOUBLE)
                 / CAST(SUM(m) * SUM(c*m) AS DOUBLE), 6) AS gini,
           ROUND(CASE WHEN SUM(m) > 1 THEN
                   (CAST(SUM(c*c*m) AS DOUBLE) / CAST(SUM(c*m) * SUM(c*m) AS DOUBLE)
                    - 1 / SUM(m)) / (1 - 1 / SUM(m))
                 END, 6) AS hhi_norm,
           CAST(MAX(c) AS BIGINT) AS max_key_rows
    FROM staged
    """,
)
def q_key_skew_gini_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini + normalized-HHI inequality of the user_id shuffle key —
    key_skew_profile's scalar companion, folded over runs of equal counts
    so the global window never exceeds |distinct count values| rows."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.key_gini_skew(events, ["user_id"])


@register(
    "event_value_mutual_info",
    """
    WITH cells AS (
      SELECT event_type AS x,
             CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 50.0), 0), 9) AS INT) AS y,
             COUNT(*) AS c
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
            AND value >= 0.0 AND value <= 500.0
      GROUP BY 1, 2
    ),
    m AS (
      SELECT c,
             SUM(c) OVER () AS n,
             SUM(c) OVER (PARTITION BY x) AS cx,
             SUM(c) OVER (PARTITION BY y) AS cy
      FROM cells
    ),
    agg AS (
      SELECT MAX(n) AS n, COUNT(*) AS n_cells,
             CAST(SUM(CAST((c/n) * LN((c/n) / ((cx/n) * (cy/n))) AS DECIMAL(28,9))) AS DOUBLE) + 0.0 AS mi_,
             -(CAST(SUM(CAST((c/n) * LN(cx/n) AS DECIMAL(28,9))) AS DOUBLE)) + 0.0 AS hx,
             -(CAST(SUM(CAST((c/n) * LN(cy/n) AS DECIMAL(28,9))) AS DOUBLE)) + 0.0 AS hy
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(n_cells AS BIGINT) AS n_cells,
           ROUND(mi_, 6) AS mi,
           ROUND(CASE WHEN LEAST(hx, hy) > 0 THEN mi_ / LEAST(hx, hy) END, 6) AS nmi
    FROM agg
    """,
)
def q_event_value_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event_type and the 10-binned value
    column ([0, 500) fixed-width bins — deterministic edges): the
    model-free dependence screen, one |cats|×bins contingency aggregate."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.mutual_information(
        events, "event_type", "value", lo=0.0, hi=500.0, bins=10
    )


@register(
    "weighted_median_price_hist",
    """
    WITH clean AS (
      SELECT l_returnflag, l_extendedprice AS v, l_quantity AS w
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL AND l_quantity > 0
    ),
    c AS (
      SELECT l_returnflag, v,
             CAST(SUM(CAST(w AS DECIMAL(28,4))) OVER (
                    PARTITION BY l_returnflag ORDER BY v ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum,
             CAST(SUM(CAST(w AS DECIMAL(28,4))) OVER (
                    PARTITION BY l_returnflag) AS DOUBLE) AS tot
      FROM clean
    )
    SELECT l_returnflag, MIN(v) AS weighted_median, MIN(tot) AS total_weight
    FROM c WHERE cum >= 0.5 * tot
    GROUP BY l_returnflag
    """,
)
def q_weighted_median_price_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME weighted median through the sort-free histogram-crossing
    plan (weighted_quantile_hist): the oracle is the window recompute —
    value-identity of the two plans is the claim this row verifies."""
    li = read_table(spark, sf_dir, "lineitem")
    return windows_ops.weighted_quantile_hist(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity", 0.5,
        out_col="weighted_median",
    )


@register(
    "pq_ann_topk",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, CAST(5 AS INT) AS k,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 20
    """,
)
def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact re-rank (the memory-bound
    retrieval path: m codes per vector instead of dim floats; ADC table
    lookups over the code index, then exact cosine over the shortlist
    only). Bounded-quality oracle like lsh_ann_topk: recall@5 against the
    brute-force top-k must clear 0.7 — measured 0.96/0.93/0.89 at
    sf0.001/0.01/0.1 with m=16, k_codes=16, shortlist=100 on the
    random-embedding corpus (the quantizer's worst case; at scale the
    library's corpus-aware default shortlist max(100, 20k, 1% n) takes
    over — r10, 2M-vector-measured in SCALE.md: 0.85 vs 0.09 at the old
    static 100). Everything is md5-deterministic (codebook = the
    smallest-md5 corpus sample), so a recall collapse or query-set
    change fails the hash."""
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # same concurrent exact/approx pin as lsh_ann_topk: overlap the
    # brute scan with the PQ build+probe; r12 folds the recall
    # bookkeeping on the driver (see _recall_row — the pins are
    # |queries|·k rows already)
    from .functions import collect_concurrent as _collect_all

    pins = _collect_all(
        {
            "exact": lambda: similarity.cosine_topk(queries, emb, k=5).select(
                "query_id", "vec_id"
            ),
            "approx": lambda: similarity.pq_topk_rerank(
                queries, emb, k=5, m=16, k_codes=16, shortlist=100
            ).select("query_id", "vec_id"),
        }
    )
    return _recall_row(spark, pins["exact"], pins["approx"], k=5, floor=0.7)


@register(
    "active_users_hll_daily",
    """
    WITH act AS (SELECT DISTINCT user_id, DATE_TRUNC('day', ts)::DATE AS d FROM events),
    span AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM act),
    spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM span),
    ex AS (
      SELECT s.day, COUNT(DISTINCT a.user_id) AS exact_28d
      FROM spine s LEFT JOIN act a
        ON a.d <= s.day AND a.d > s.day - INTERVAL 28 DAY
      GROUP BY s.day
    )
    SELECT day, CAST(exact_28d AS BIGINT) AS exact_28d, TRUE AS est_ok FROM ex
    """,
)
def q_active_users_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-28-day actives from MERGEABLE daily HLL sketches (the
    1e9-user MAU path: |days|·28 sketch rows shuffle, never key-days)
    against the exact recompute: per day, the exact count hash-anchors
    the row and ``est_ok`` asserts the sketch estimate within 5 % (lg_k
    12 ⇒ ~1.6 % typical) — the lsh_ann_topk bounded-oracle pattern."""
    events = read_table(spark, sf_dir, "events")
    est = windows_ops.active_user_counts_hll(
        events, "user_id", "ts", windows=(28,), lg_k=12
    ).withColumnRenamed("active_28d", "est_28d")
    exact = windows_ops.active_user_counts(
        events, "user_id", "ts", windows=(28,)
    ).withColumnRenamed("active_28d", "exact_28d")
    ok = F.when(
        F.col("exact_28d") == 0,
        F.col("est_28d") == 0,
    ).otherwise(
        (F.abs(F.col("est_28d") - F.col("exact_28d")) / F.col("exact_28d")) <= 0.05
    )
    return exact.join(est, "day").select(
        "day", F.col("exact_28d").cast("long").alias("exact_28d"), ok.alias("est_ok")
    )


@register(
    "daily_value_percentiles",
    """
    SELECT DATE_TRUNC('day', ts)::DATE AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def q_daily_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day exact p50/p95/p99 of event value (linear interpolation —
    Spark percentile == DuckDB quantile_cont): one day shuffle, per-day
    reducer buffering is the documented exact-percentile cost."""
    events = read_table(spark, sf_dir, "events")
    return windows_ops.daily_value_percentiles(events, "ts", "value")


@register(
    "hourly_seasonality_events",
    """
    WITH obs AS (SELECT EXTRACT(hour FROM ts) AS hour, COUNT(*) AS n FROM events GROUP BY 1),
    tot AS (SELECT SUM(n) AS t FROM obs),
    spine AS (SELECT UNNEST(range(24)) AS hour)
    SELECT CAST(spine.hour AS INT) AS hour,
           CAST(COALESCE(obs.n, 0) AS BIGINT) AS n,
           ROUND(COALESCE(obs.n, 0) / tot.t, 6) AS share,
           ROUND(POWER(COALESCE(obs.n, 0) - tot.t / 24.0, 2) / (tot.t / 24.0), 6) AS chi2_contrib
    FROM spine LEFT JOIN obs ON obs.hour = spine.hour CROSS JOIN tot
    """,
)
def q_hourly_seasonality_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day activity histogram + chi-square uniformity
    contributions: a 24-group count with broadcast spine/total."""
    events = read_table(spark, sf_dir, "events")
    return windows_ops.hourly_seasonality(events, "ts")


@register(
    "daily_anomaly_profile_events",
    f"""
    WITH daily AS (
      SELECT DATE_TRUNC('day', ts)::DATE AS day, CAST(COUNT(*) AS BIGINT) AS n,
             {dsum_sql('value')} AS total
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    st AS (
      SELECT day, n, total,
             COUNT(total) OVER w AS bn,
             CAST(SUM(CAST(total AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(total * total AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s2,
             LAG(total, 7) OVER (ORDER BY day ASC) AS wow
      FROM daily
      WINDOW w AS (ORDER BY day ASC ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, n, total,
           CAST(bn AS BIGINT) AS baseline_days,
           ROUND(CASE WHEN bn >= 2 AND (s2/bn - (s1/bn)*(s1/bn)) > 0
                      THEN (total - s1/bn) / SQRT(s2/bn - (s1/bn)*(s1/bn)) END, 6) AS z_score,
           ROUND(CASE WHEN wow <> 0 THEN total / wow - 1 END, 6) AS wow_change,
           COALESCE(ABS(CASE WHEN bn >= 2 AND (s2/bn - (s1/bn)*(s1/bn)) > 0
                      THEN (total - s1/bn) / SQRT(s2/bn - (s1/bn)*(s1/bn)) END) > 3.0,
                    FALSE) AS is_anomaly
    FROM st
    """,
)
def q_daily_anomaly_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue anomaly monitoring: trailing-7-day z-score from
    decimal-summed Σx/Σx² (no engine stddev — one closed form both
    engines evaluate identically), week-over-week change, |z|>3 flag."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.daily_anomaly_profile(events, "ts", "value")


@register(
    "referential_integrity_lineitem_orders",
    """
    WITH ck AS (SELECT l_orderkey AS k, COUNT(*) AS cn FROM lineitem
                WHERE l_orderkey IS NOT NULL GROUP BY 1),
    pkt AS (SELECT o_orderkey AS k, COUNT(*) AS pn FROM orders
            WHERE o_orderkey IS NOT NULL GROUP BY 1),
    j AS (SELECT cn, pn FROM ck FULL OUTER JOIN pkt ON ck.k = pkt.k)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_parent,
           CAST(SUM(CASE WHEN pn IS NULL AND cn IS NOT NULL THEN cn ELSE 0 END) AS BIGINT)
             AS n_orphan_child_rows,
           CAST(SUM(CASE WHEN pn IS NULL AND cn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphan_child_keys,
           CAST(SUM(CASE WHEN cn IS NULL AND pn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_childless_parents,
           CAST(SUM(CASE WHEN pn > 1 THEN pn - 1 ELSE 0 END) AS BIGINT)
             AS n_dup_parent_rows
    FROM j
    """,
)
def q_referential_integrity_lineitem_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key audit lineitem.l_orderkey → orders.o_orderkey: orphan
    facts, childless orders, PK duplicates — distinct-key joins only,
    never fact rows."""
    from .quality import referential_integrity_audit

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    return referential_integrity_audit(li, orders, "l_orderkey", "o_orderkey")


@register(
    "welch_ttest_view_purchase",
    """
    WITH g AS (
      SELECT event_type AS gname, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS s2
      FROM events
      WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
      GROUP BY 1
    ),
    a AS (SELECT n AS na, s1 AS sa1, s2 AS sa2 FROM g WHERE gname = 'view'),
    b AS (SELECT n AS nb, s1 AS sb1, s2 AS sb2 FROM g WHERE gname = 'purchase'),
    m AS (
      SELECT na, nb, sa1 / na AS ma, sb1 / nb AS mb,
             (sa2 - na * (sa1 / na) * (sa1 / na)) / (na - 1) AS va,
             (sb2 - nb * (sb1 / nb) * (sb1 / nb)) / (nb - 1) AS vb
      FROM a, b
    ),
    s AS (SELECT *, va / na + vb / nb AS se2 FROM m)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
           ROUND(ma - mb, 6) AS mean_diff,
           ROUND(CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0
                      THEN (ma - mb) / SQRT(se2) END, 6) AS t_stat,
           ROUND(CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0
                      THEN (se2 * se2) / ((va / na) * (va / na) / (na - 1)
                                          + (vb / nb) * (vb / nb) / (nb - 1))
                 END, 6) AS df
    FROM s
    """,
)
def q_welch_ttest_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test of event value, viewers vs purchasers: one
    combinable moment aggregate (decimal Σx/Σx²), the A/B readout."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.welch_ttest(events, "event_type", "value", "view", "purchase")


@register(
    "conversion_latency_view_purchase",
    f"""
    WITH f1 AS (SELECT user_id, MIN(ts) AS r1 FROM events
                WHERE event_type = 'view' GROUP BY 1),
    f2 AS (SELECT e.user_id, MIN(e.ts) AS r2
           FROM events e JOIN f1 ON e.user_id = f1.user_id AND e.ts >= f1.r1
           WHERE e.event_type = 'purchase' GROUP BY 1),
    j AS (SELECT f1.user_id, DATE_DIFF('second', f1.r1, f2.r2) AS lat
          FROM f1 LEFT JOIN f2 ON f1.user_id = f2.user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_started,
           CAST(COUNT(lat) AS BIGINT) AS n_converted,
           ROUND(COUNT(lat) / COUNT(*), 6) AS conv_rate,
           ROUND({davg_sql('lat')}, 6) AS mean_latency_s,
           ROUND(quantile_cont(lat, 0.5), 6) AS median_latency_s,
           ROUND(quantile_cont(lat, 0.9), 6) AS p90_latency_s,
           CAST(MAX(lat) AS BIGINT) AS max_latency_s
    FROM j
    """,
)
def q_conversion_latency_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→purchase time-to-convert distribution (funnel ≥ semantics,
    whole-second floors): conversion rate + decimal mean + exact
    median/p90/max latency."""
    events = read_table(spark, sf_dir, "events")
    return windows_ops.conversion_latency_stats(
        events, "user_id", "ts", "event_type", "view", "purchase"
    )


@register(
    "ks_value_drift_halves",
    """
    WITH sa AS (SELECT CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 0.5), 0), 999) AS INT) AS bin,
                       COUNT(*) AS na
                FROM events
                WHERE value IS NOT NULL AND value >= 0.0 AND value <= 500.0
                      AND ts < TIMESTAMP '2024-01-16 00:00:00'
                GROUP BY 1),
    sb AS (SELECT CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 0.5), 0), 999) AS INT) AS bin,
                  COUNT(*) AS nb
           FROM events
           WHERE value IS NOT NULL AND value >= 0.0 AND value <= 500.0
                 AND ts >= TIMESTAMP '2024-01-16 00:00:00'
           GROUP BY 1),
    spine AS (SELECT UNNEST(range(1000))::INT AS bin),
    j AS (SELECT spine.bin, COALESCE(sa.na, 0) AS na, COALESCE(sb.nb, 0) AS nb
          FROM spine LEFT JOIN sa ON sa.bin = spine.bin
                     LEFT JOIN sb ON sb.bin = spine.bin),
    staged AS (
      SELECT bin,
             SUM(na) OVER (ORDER BY bin ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / SUM(na) OVER () AS fa,
             SUM(nb) OVER (ORDER BY bin ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / SUM(nb) OVER () AS fb,
             SUM(na) OVER () AS ta, SUM(nb) OVER () AS tb
      FROM j
    ),
    d AS (SELECT bin, ta, tb, ABS(fa - fb) AS d FROM staged),
    best AS (SELECT bin, d FROM d ORDER BY d DESC, bin ASC LIMIT 1)
    SELECT CAST(MAX(ta) AS BIGINT) AS n_a,
           CAST(MAX(tb) AS BIGINT) AS n_b,
           ROUND((SELECT d FROM best), 6) AS d_stat,
           (SELECT bin FROM best) AS at_bin
    FROM d
    """,
)
def q_ks_value_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift between the event log's first and second
    half-months (fixed split 2024-01-16, fixed [0,500]×1000 bins): the
    numeric-drift test PSI's binning blurs — exact for the binned CDFs."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    return drift_ops.ks_statistic(
        events.filter(F.col("ts") < cut),
        events.filter(F.col("ts") >= cut),
        "value",
        lo=0.0,
        hi=500.0,
        bins=1000,
    )


def _srm_hash_sql() -> str:
    from .operators.sketches import hash_fraction_sql

    return hash_fraction_sql("'exp1:' || CAST(user_id AS VARCHAR)")


@register(
    "ab_assignment_srm_events",
    f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    h AS (SELECT user_id, {_srm_hash_sql()} AS h FROM u),
    asg AS (SELECT CASE WHEN h < 0.5 THEN 'control'
                        WHEN h < 0.75 THEN 'treat_a'
                        ELSE 'treat_b' END AS arm FROM h),
    obs AS (SELECT arm, COUNT(*) AS n FROM asg GROUP BY arm),
    d(arm, expected_frac) AS (VALUES ('control', 0.5), ('treat_a', 0.25), ('treat_b', 0.25)),
    tot AS (SELECT SUM(n) AS t FROM obs)
    SELECT d.arm, CAST(COALESCE(obs.n, 0) AS BIGINT) AS n,
           ROUND(COALESCE(obs.n, 0) / tot.t, 6) AS observed_frac,
           ROUND(d.expected_frac, 6) AS expected_frac,
           ROUND(POWER(COALESCE(obs.n, 0) - d.expected_frac * tot.t, 2)
                 / (d.expected_frac * tot.t), 6) AS chi2_contrib
    FROM d LEFT JOIN obs ON obs.arm = d.arm CROSS JOIN tot
    """,
)
def q_ab_assignment_srm_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 50/25/25 experiment assignment of distinct users
    (md5 of 'exp1:' + key — sticky, engine-replayable, zero-shuffle) and
    its sample-ratio-mismatch chi-square readout."""
    from .operators import sampling as sampling_ops

    events = read_table(spark, sf_dir, "events")
    users = events.select("user_id").distinct()
    arms = {"control": 0.5, "treat_a": 0.25, "treat_b": 0.25}
    assigned = sampling_ops.experiment_assignment(
        users, "user_id", salt="exp1", arms=arms
    )
    return sampling_ops.srm_check(assigned, "arm", arms)


@register(
    "mad_outliers_order_price",
    """
    WITH clean AS (SELECT o_orderpriority AS g, o_totalprice AS v FROM orders
                   WHERE o_totalprice IS NOT NULL),
    med AS (SELECT g, quantile_cont(v, 0.5) AS med, COUNT(*) AS n FROM clean GROUP BY g),
    mad AS (SELECT c.g, quantile_cont(ABS(c.v - m.med), 0.5) AS mad
            FROM clean c JOIN med m ON c.g = m.g GROUP BY c.g),
    st AS (SELECT c.g, c.v, m.med, m.n, d.mad
           FROM clean c JOIN med m ON c.g = m.g JOIN mad d ON c.g = d.g)
    SELECT g AS o_orderpriority,
           CAST(MIN(n) AS BIGINT) AS n,
           ROUND(MIN(med), 6) AS median,
           ROUND(MIN(mad), 6) AS mad,
           CAST(SUM(CASE WHEN mad > 0 AND ABS(0.6745 * (v - med) / mad) > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(SUM(CASE WHEN mad > 0 AND ABS(0.6745 * (v - med) / mad) > 3.5
                          THEN 1 ELSE 0 END) / MIN(n), 6) AS outlier_frac
    FROM st GROUP BY g
    """,
)
def q_mad_outliers_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority MAD robust-outlier profile of order totals
    (Iglewicz–Hoaglin modified z, |z| > 3.5): the median-based test a few
    extremes cannot drag, next to the IQR band the profile already has."""
    from .quality import mad_outlier_profile

    orders = read_table(spark, sf_dir, "orders", parallelize=True)
    return mad_outlier_profile(orders, ["o_orderpriority"], "o_totalprice")


@register(
    "calendar_features_events",
    """
    SELECT event_id,
           CAST(isodow(ts) AS INT) AS dow_iso,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
           CAST(EXTRACT(day FROM ts) AS INT) AS day,
           CAST(EXTRACT(month FROM ts) AS INT) AS month,
           CAST(EXTRACT(year FROM ts) AS INT) AS year,
           CAST(weekofyear(ts) AS INT) AS week_iso,
           isodow(ts) >= 6 AS is_weekend
    FROM events
    """,
)
def q_calendar_features_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard calendar feature block (ISO weekday/week pinned
    explicitly — Spark's bare dayofweek is 1=Sunday, a cross-engine
    trap): pure zero-shuffle projection."""
    events = read_table(spark, sf_dir, "events")
    return fe_ops.calendar_features(events, "ts").select(
        "event_id", "dow_iso", "hour", "day", "month", "year",
        "week_iso", "is_weekend",
    )


def _clf_hash_sql(salt: str) -> str:
    from .operators.sketches import hash_fraction_sql

    return hash_fraction_sql(f"'{salt}:' || CAST(vec_id AS VARCHAR)")


@register(
    "classification_report_embeddings",
    f"""
    WITH p AS (
      SELECT label,
             CASE WHEN {_clf_hash_sql('clf')} < 0.7 THEN label
                  ELSE CAST((label + 1 + CAST(FLOOR({_clf_hash_sql('clf2')} * 9) AS BIGINT)) % 10 AS INT)
             END AS pred
      FROM embeddings WHERE label IS NOT NULL
    ),
    cells AS (SELECT label AS y, pred, COUNT(*) AS c FROM p GROUP BY 1, 2),
    ts_ AS (SELECT y AS class, SUM(c) AS n_true,
                   SUM(CASE WHEN pred = y THEN c ELSE 0 END) AS tp
            FROM cells GROUP BY y),
    ps_ AS (SELECT pred AS class, SUM(c) AS n_pred FROM cells GROUP BY pred)
    SELECT COALESCE(ts_.class, ps_.class) AS class,
           CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
           CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
           CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
           ROUND(CASE WHEN COALESCE(n_pred, 0) > 0 THEN COALESCE(tp, 0) / n_pred END, 6)
             AS precision,
           ROUND(CASE WHEN COALESCE(n_true, 0) > 0 THEN COALESCE(tp, 0) / n_true END, 6)
             AS recall,
           ROUND(CASE WHEN COALESCE(n_pred, 0) > 0 AND COALESCE(n_true, 0) > 0
                           AND (COALESCE(tp, 0) / n_pred + COALESCE(tp, 0) / n_true) > 0
                      THEN 2 * (COALESCE(tp, 0) / n_pred) * (COALESCE(tp, 0) / n_true)
                           / (COALESCE(tp, 0) / n_pred + COALESCE(tp, 0) / n_true)
                 END, 6) AS f1
    FROM ts_ FULL OUTER JOIN ps_ ON ts_.class = ps_.class
    """,
)
def q_classification_report_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 report over a DETERMINISTIC pseudo-
    classifier on the labeled embeddings (md5 keeps 70 % correct, the
    rest offset by a hashed 1–9 shift — fully SQL-replayable, so the
    report operator itself verifies exactly; real predictions plug into
    the same (label, pred) contract)."""
    from .operators import mlfeatures
    from .operators.sketches import hash_fraction

    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    h1 = hash_fraction(F.concat(F.lit("clf:"), F.col("vec_id").cast("string")))
    h2 = hash_fraction(F.concat(F.lit("clf2:"), F.col("vec_id").cast("string")))
    pred = F.when(h1 < 0.7, F.col("label")).otherwise(
        ((F.col("label") + 1 + F.floor(h2 * 9)) % 10).cast("int")
    )
    scored = emb.select(F.col("label"), pred.alias("pred"))
    return mlfeatures.classification_report(scored, "label", "pred")


def _copurchase_edges_sql() -> str:
    return (
        "SELECT x.t AS a, y.t AS b "
        "FROM (SELECT DISTINCT l_orderkey AS k, l_partkey AS t FROM lineitem) x "
        "JOIN (SELECT DISTINCT l_orderkey AS k, l_partkey AS t FROM lineitem) y "
        "ON x.k = y.k AND x.t < y.t"
    )


def _pagerank_oracle() -> str:
    from .operators.graph import pagerank_sql

    return pagerank_sql(
        _copurchase_edges_sql(), "a", "b", iterations=10, top_k=20,
        node_alias="part",
    )


@register("part_pagerank_top20", None)  # oracle installed below (generated)
def q_part_pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank over the part co-purchase graph, top-20 most
    central parts: the canonical iterative join-aggregate loop, integer
    arithmetic end-to-end so the 10 unrolled iterations replay bit-exact
    in the oracle. Lineage checkpointed every 4 iterations."""
    from .operators.graph import pagerank

    li = read_table(spark, sf_dir, "lineitem")
    kt = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("t")
    ).distinct()
    edges = (
        kt.alias("x")
        .join(kt.alias("y"), "k")
        .filter(F.col("x.t") < F.col("y.t"))
        .select(F.col("x.t").alias("a"), F.col("y.t").alias("b"))
    )
    pr = pagerank(edges, "a", "b", iterations=10)
    return (
        pr.select(F.col("node").alias("part"), "rank")
        .orderBy(F.desc("rank"), F.asc("part"))
        .limit(20)
    )


def _install_graph_oracle() -> None:
    from .harness import _ORACLES

    _ORACLES["part_pagerank_top20"] = _pagerank_oracle()


_install_graph_oracle()


@register(
    "label_centroid_distances",
    f"""
    WITH x AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(UNNEST(embedding) AS DOUBLE) AS v
      FROM embeddings WHERE label IS NOT NULL
    ),
    c AS (SELECT label, dim, {davg_sql('v', scale=9)} AS c FROM x GROUP BY 1, 2),
    n AS (SELECT label,
                 SQRT(CAST(SUM(CAST(c * c AS DECIMAL(28,9))) AS DOUBLE)) AS nrm
          FROM c GROUP BY label),
    p AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(SUM(CAST(a.c * b.c AS DECIMAL(28,9))) AS DOUBLE) AS dot
      FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2
    )
    SELECT p.label_a, p.label_b,
           ROUND(p.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM p JOIN n na ON na.label = p.label_a JOIN n nb ON nb.label = p.label_b
    """,
)
def q_label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separability matrix: pairwise cosine between decimal-mean
    label centroids of the embedding corpus (45 pairs for 10 labels) —
    everything after the posexplode is |labels|×dim-sized."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.label_centroid_distances(emb, "label", "embedding")


@register(
    "copurchase_degree_profile",
    f"""
    WITH e0 AS ({_copurchase_edges_sql()}),
    und AS (SELECT DISTINCT s, d FROM
            (SELECT a AS s, b AS d FROM e0 UNION ALL SELECT b, a FROM e0)),
    counts AS (SELECT s, COUNT(*) AS c FROM und GROUP BY s),
    runs AS (SELECT c, COUNT(*) AS m FROM counts GROUP BY c),
    staged AS (
      SELECT c, m,
             COALESCE(SUM(m) OVER (ORDER BY c ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM runs
    )
    SELECT CAST(SUM(m) AS BIGINT) AS n_keys,
           CAST(SUM(c * m) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(c * (2*m*s + m*m + m)) - (SUM(m) + 1) * SUM(c*m) AS DOUBLE)
                 / CAST(SUM(m) * SUM(c*m) AS DOUBLE), 6) AS gini,
           ROUND(CASE WHEN SUM(m) > 1 THEN
                   (CAST(SUM(c*c*m) AS DOUBLE) / CAST(SUM(c*m) * SUM(c*m) AS DOUBLE)
                    - 1 / SUM(m)) / (1 - 1 / SUM(m))
                 END, 6) AS hhi_norm,
           CAST(MAX(c) AS BIGINT) AS max_key_rows
    FROM staged
    """,
)
def q_copurchase_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-inequality profile of the co-purchase graph (n_nodes as
    n_keys, directed-degree sum as n_rows, Gini + normalized HHI of the
    degree distribution, hub max) — key_gini_skew composed over the
    symmetrized edge list: the pre-flight read on whether PageRank/CC
    over this graph will see hub stragglers."""
    from .operators import drift as drift_ops

    li = read_table(spark, sf_dir, "lineitem")
    kt = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("t")
    ).distinct()
    edges = (
        kt.alias("x")
        .join(kt.alias("y"), "k")
        .filter(F.col("x.t") < F.col("y.t"))
        .select(F.col("x.t").alias("a"), F.col("y.t").alias("b"))
    )
    und = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()
    return drift_ops.key_gini_skew(und, ["a"])


def _bpe_train_oracle() -> str:
    return text.bpe_train_sql("documents", "text", n_merges=4)


@register("bpe_train_merges", None)  # generated oracle installed below
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE TRAINING (Sennrich et al. 2016), four merges over
    the documents corpus: per merge one pair-count scan, a pinned argmax,
    and the exact list-walk fold application — the learned merge table
    replays bit-for-bit in the unrolled-CTE oracle."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return text.bpe_train(docs, "text", n_merges=4)


from .harness import _ORACLES as _O  # noqa: E402

_O["bpe_train_merges"] = _bpe_train_oracle()


@register("bpe_encode_stats_docs", None)  # generated oracle installed below
def q_bpe_encode_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 4 BPE merges on the corpus, then ENCODE it and report per-doc
    token accounting (chars/token compression) — the train → serve
    roundtrip in one verified query; the encode pass chains the 4 folds
    in a single projection."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    merges = [
        (r["left"], r["right"], r["merged"])
        for r in text.bpe_train(docs, "text", n_merges=4)
        .orderBy("merge_rank")
        .collect()
    ]
    return text.bpe_encode_stats(docs, "doc_id", "text", merges)


_O["bpe_encode_stats_docs"] = text.bpe_encode_stats_sql(
    "documents", "doc_id", "text", n_merges=4
)


# ---------------------------------------------------------------------------
# rank / correlation statistics (round 7, late wave)
# ---------------------------------------------------------------------------

#: DuckDB average (fractional) rank of {v} within the current window scope —
#: identical semantics to operators.drift.banded_avg_rank (1-based, ties
#: share the mean of their positions).
_AVG_RANK = (
    "RANK() OVER (ORDER BY {v}) + (COUNT(*) OVER (PARTITION BY {v}) - 1) / 2.0"
)


@register(
    "corr_matrix_lineitem",
    """
    WITH keep AS (
      SELECT l_quantity AS q, l_extendedprice AS p, l_discount AS d, l_tax AS t
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        AND l_discount IS NOT NULL AND l_tax IS NOT NULL
    ),
    g AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) AS sq,
             CAST(SUM(CAST(q * q AS DECIMAL(28,6))) AS DOUBLE) AS qq,
             CAST(SUM(CAST(p AS DECIMAL(28,6))) AS DOUBLE) AS sp,
             CAST(SUM(CAST(p * p AS DECIMAL(28,6))) AS DOUBLE) AS qp,
             CAST(SUM(CAST(d AS DECIMAL(28,6))) AS DOUBLE) AS sd,
             CAST(SUM(CAST(d * d AS DECIMAL(28,6))) AS DOUBLE) AS qd,
             CAST(SUM(CAST(t AS DECIMAL(28,6))) AS DOUBLE) AS st,
             CAST(SUM(CAST(t * t AS DECIMAL(28,6))) AS DOUBLE) AS qt,
             CAST(SUM(CAST(q * p AS DECIMAL(28,6))) AS DOUBLE) AS sqp,
             CAST(SUM(CAST(q * d AS DECIMAL(28,6))) AS DOUBLE) AS sqd,
             CAST(SUM(CAST(q * t AS DECIMAL(28,6))) AS DOUBLE) AS sqt,
             CAST(SUM(CAST(p * d AS DECIMAL(28,6))) AS DOUBLE) AS spd,
             CAST(SUM(CAST(p * t AS DECIMAL(28,6))) AS DOUBLE) AS spt,
             CAST(SUM(CAST(d * t AS DECIMAL(28,6))) AS DOUBLE) AS sdt
      FROM keep
    ),
    pairs AS (
      SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n, sq AS sx, qq AS qx, sp AS sy, qp AS qy, sqp AS sxy FROM g
      UNION ALL
      SELECT 'l_quantity', 'l_discount', n, sq, qq, sd, qd, sqd FROM g
      UNION ALL
      SELECT 'l_quantity', 'l_tax', n, sq, qq, st, qt, sqt FROM g
      UNION ALL
      SELECT 'l_extendedprice', 'l_discount', n, sp, qp, sd, qd, spd FROM g
      UNION ALL
      SELECT 'l_extendedprice', 'l_tax', n, sp, qp, st, qt, spt FROM g
      UNION ALL
      SELECT 'l_discount', 'l_tax', n, sd, qd, st, qt, sdt FROM g
    )
    SELECT col_x, col_y, CAST(n AS BIGINT) AS n,
           ROUND(CASE WHEN n >= 2 AND (qx - n * (sx / n) * (sx / n)) > 0
                           AND (qy - n * (sy / n) * (sy / n)) > 0
                 THEN (sxy - n * (sx / n) * (sy / n))
                      / SQRT((qx - n * (sx / n) * (sx / n))
                             * (qy - n * (sy / n) * (sy / n))) END, 6) AS corr
    FROM pairs
    """,
)
def q_corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem's four numeric measures —
    ONE decimal-moment aggregate, the pair fan-out on the single agg row."""
    from .operators import drift as drift_ops

    li = read_table(spark, sf_dir, "lineitem", parallelize=True)
    return drift_ops.correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


@register(
    "spearman_price_quantity",
    f"""
    WITH keep AS (
      SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ),
    ranked AS (
      SELECT {_AVG_RANK.format(v='x')} AS rx,
             {_AVG_RANK.format(v='y')} AS ry
      FROM keep
    ),
    g AS (
      -- DECIMAL(38,6): the rank-product sum grows ≈ N³/3, which would
      -- overflow DECIMAL(28,6) at ~3e7 rows (r7 ADVICE); 38,6 holds to
      -- ~4e10 rows, matching the operator's widened accumulators
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(rx AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(rx * rx AS DECIMAL(38,6))) AS DOUBLE) AS qx,
             CAST(SUM(CAST(ry AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ry * ry AS DECIMAL(38,6))) AS DOUBLE) AS qy,
             CAST(SUM(CAST(rx * ry AS DECIMAL(38,6))) AS DOUBLE) AS pxy
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(CASE WHEN n >= 2 AND (qx - n * (sx / n) * (sx / n)) > 0
                           AND (qy - n * (sy / n) * (sy / n)) > 0
                 THEN (pxy - n * (sx / n) * (sy / n))
                      / SQRT((qx - n * (sx / n) * (sx / n))
                             * (qy - n * (sy / n) * (sy / n))) END, 6) AS spearman
    FROM g
    """,
)
def q_spearman_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price — two
    BANDED rank passes (no global single-task sort) + one moment agg."""
    from .operators import drift as drift_ops

    li = read_table(spark, sf_dir, "lineitem")
    return drift_ops.spearman_corr(li, "l_quantity", "l_extendedprice")


@register(
    "mann_whitney_view_purchase",
    f"""
    WITH keep AS (
      SELECT event_type AS g, value AS v FROM events
      WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL
    ),
    ranked AS (
      SELECT g, v, {_AVG_RANK.format(v='v')} AS r FROM keep
    ),
    sums AS (
      -- conditional aggregation in ONE SELECT (mirrors the operator's
      -- single conditional aggregate): always exactly one row, even when
      -- a group is absent — the old per-group 1-row CTEs cross-joined to
      -- ZERO rows on degenerate inputs, diverging from the operator's
      -- documented one-row-NULL-z contract (r7 ADVICE)
      SELECT COUNT(CASE WHEN g = 'view' THEN 1 END) AS na,
             COALESCE(CAST(SUM(CASE WHEN g = 'view'
                                    THEN CAST(r AS DECIMAL(28,6)) END)
                           AS DOUBLE), 0.0) AS ra,
             COUNT(CASE WHEN g <> 'view' THEN 1 END) AS nb,
             COALESCE(CAST(SUM(CASE WHEN g <> 'view'
                                    THEN CAST(r AS DECIMAL(28,6)) END)
                           AS DOUBLE), 0.0) AS rb
      FROM ranked
    ),
    ties AS (
      SELECT COALESCE(CAST(SUM(CAST(t AS HUGEINT) * t * t - t) AS DOUBLE),
                      0.0) AS tie_term
      FROM (SELECT COUNT(*) AS t FROM keep GROUP BY v)
    ),
    m AS (
      SELECT na, nb, ra, rb, tie_term,
             ra - na * (na + 1) / 2 AS u_a,
             rb - nb * (nb + 1) / 2 AS u_b,
             na * nb / 2.0 AS mean_u,
             na * nb / 12.0 * (((na + nb) + 1)
                               - tie_term / ((na + nb) * ((na + nb) - 1))) AS var
      FROM sums, ties
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(u_a, 6) AS u_a, ROUND(u_b, 6) AS u_b,
           ROUND(CASE WHEN na >= 1 AND nb >= 1 AND var > 0
                 THEN (u_a - mean_u + CASE WHEN u_a > mean_u THEN -0.5
                                           WHEN u_a < mean_u THEN 0.5
                                           ELSE 0.0 END) / SQRT(var) END, 6) AS z
    FROM m
    """,
)
def q_mann_whitney_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U of event value, viewers vs purchasers — the
    nonparametric twin of welch_ttest_view_purchase; banded ranks, one
    rank-sum agg, one value-grain tie agg."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.mann_whitney_u(events, "event_type", "value", "view", "purchase")


@register(
    "acf_daily_value",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    stats AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS qx
      FROM daily
    ),
    lags AS (SELECT CAST(r AS INTEGER) AS lag FROM range(1, 8) t(r)),
    pairs0 AS (
      SELECT lag, COUNT(*) AS n_pairs,
             CAST(SUM(CAST(a.x * b.x AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(a.x AS DECIMAL(28,6))) AS DOUBLE) AS sh,
             CAST(SUM(CAST(b.x AS DECIMAL(28,6))) AS DOUBLE) AS st
      FROM lags JOIN daily a ON TRUE JOIN daily b ON a.day + lag = b.day
      GROUP BY lag
    ),
    pairs AS (
      SELECT l.lag, COALESCE(p.n_pairs, 0) AS n_pairs, p.sxy, p.sh, p.st
      FROM lags l LEFT JOIN pairs0 p ON p.lag = l.lag
    )
    SELECT lag, CAST(n_pairs AS BIGINT) AS n_pairs,
           ROUND(CASE WHEN n >= 2 AND (qx - n * (sx / n) * (sx / n)) > 0
                           AND n_pairs > 0
                 THEN (sxy - (sx / n) * (sh + st) + n_pairs * (sx / n) * (sx / n))
                      / (qx - n * (sx / n) * (sx / n)) END, 6) AS acf
    FROM pairs, stats
    """,
)
def q_acf_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily event-value total at calendar lags
    1..7 — the seasonality screen behind the trailing anomaly baseline;
    everything after the day-grain agg is |days|-sized."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.daily_acf(events, "ts", "value", max_lag=7)


# ---------------------------------------------------------------------------
# lexical + hybrid retrieval (round 7, late wave)
# ---------------------------------------------------------------------------

_BM25_TERMS = ["vector", "stream", "customer"]


@register("bm25_topk_docs", None)  # generated oracle installed below
def q_bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-15 for a fixed query-term bag over the documents
    corpus — only query-matching tokens explode; df/corpus stats
    broadcast; top-k is TakeOrderedAndProject on the exact decimal score."""
    docs = read_table(spark, sf_dir, "documents")
    return text.bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=15)


_O["bm25_topk_docs"] = text.bm25_sql("documents", "doc_id", "text", _BM25_TERMS, k=15)


@register(
    "hybrid_rrf_topk",
    f"""
    WITH lex AS (
      SELECT doc_id, rank FROM ({text.bm25_sql("documents", "doc_id", "text", _BM25_TERMS, k=50)})
    ),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    dense_scored AS (
      SELECT c.vec_id AS doc_id,
             {_COS_SQL.format(a='q.embedding', b='c.embedding')} AS cosine
      FROM q, embeddings c
    ),
    dense AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS rank
        FROM dense_scored
      ) WHERE rank <= 50
    ),
    fused AS (
      SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
             lex.rank AS rank_lex, dense.rank AS rank_dense,
             COALESCE(1.0 / (60 + lex.rank), 0.0)
               + COALESCE(1.0 / (60 + dense.rank), 0.0) AS s
      FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
    ),
    ranked AS (
      SELECT doc_id, rank_lex, rank_dense, s,
             ROW_NUMBER() OVER (ORDER BY s DESC, doc_id ASC) AS fused_rank
      FROM fused
    )
    SELECT doc_id, CAST(rank_lex AS INT) AS rank_lex,
           CAST(rank_dense AS INT) AS rank_dense,
           ROUND(s, 9) AS rrf_score, CAST(fused_rank AS INT) AS fused_rank
    FROM ranked WHERE fused_rank <= 10
    """,
)
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 (lexical) ∪ brute-cosine top-50 for
    query vec 0 (dense, ids shared with doc_id), fused by reciprocal-rank
    fusion — rank-only, so the two scorers' scales never need calibration.
    Every join/window after the candidate lists is ≤100 rows."""
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    lex = text.bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=50)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = similarity.cosine_topk(qv, emb, k=50).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    fused = similarity.rrf_fuse(lex, dense, "doc_id", top_k=10)
    return fused.select(
        "doc_id",
        F.col("rank_a").cast("int").alias("rank_lex"),
        F.col("rank_b").cast("int").alias("rank_dense"),
        "rrf_score",
        "fused_rank",
    )


# ---------------------------------------------------------------------------
# supervised encodings + independence tests (round 7, late wave)
# ---------------------------------------------------------------------------


@register(
    "quantile_transform_orders",
    """
    SELECT o_orderkey, o_totalprice,
           ROUND((rk - 0.5) / CAST(n AS DOUBLE), 9) AS quantile
    FROM (
      SELECT o_orderkey, o_totalprice,
             RANK() OVER (ORDER BY o_totalprice)
               + (COUNT(*) OVER (PARTITION BY o_totalprice) - 1) / 2.0 AS rk,
             COUNT(*) OVER () AS n
      FROM orders WHERE o_totalprice IS NOT NULL
    )
    UNION ALL
    SELECT o_orderkey, o_totalprice, CAST(NULL AS DOUBLE) AS quantile
    FROM orders WHERE o_totalprice IS NULL
    """,
)
def q_quantile_transform_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-to-uniform quantile transform of order totals — one banded
    rank pass (no global single-task sort), outlier-proof scaling."""
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return fe_ops.quantile_transform(orders, "o_totalprice")


@register(
    "woe_iv_event_type",
    """
    WITH base AS (
      SELECT event_type AS category,
             CASE WHEN value > 0 THEN 1 ELSE 0 END AS y
      FROM events WHERE value IS NOT NULL
    ),
    per AS (
      SELECT category, CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(1 - y) AS BIGINT) AS n_neg
      FROM base GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS tp,
                   CAST(SUM(n_neg) AS BIGINT) AS tn,
                   COUNT(*) AS k FROM per)
    SELECT category, n_pos, n_neg,
           ROUND(LN(((n_pos + 0.5) / (tp + 0.5 * k))
                    / ((n_neg + 0.5) / (tn + 0.5 * k))), 6) AS woe,
           ROUND((((n_pos + 0.5) / (tp + 0.5 * k))
                  - ((n_neg + 0.5) / (tn + 0.5 * k)))
                 * LN(((n_pos + 0.5) / (tp + 0.5 * k))
                      / ((n_neg + 0.5) / (tn + 0.5 * k))), 6) AS iv_term
    FROM per, tot
    """,
)
def q_woe_iv_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence + information-value encoding of event_type
    against the is-purchase label — one category aggregate, totals
    broadcast."""
    events = read_table(spark, sf_dir, "events")
    return fe_ops.woe_iv(events, "event_type", F.col("value") > 0)


@register(
    "chi2_event_type_hour",
    """
    WITH cells AS (
      SELECT event_type AS a, EXTRACT(hour FROM ts) AS b, COUNT(*) AS o
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1, 2
    ),
    row_t AS (SELECT a, SUM(o) AS ra FROM cells GROUP BY 1),
    col_t AS (SELECT b, SUM(o) AS rb FROM cells GROUP BY 1),
    tot AS (SELECT SUM(o) AS n, COUNT(DISTINCT a) AS ka,
                   COUNT(DISTINCT b) AS kb FROM cells),
    terms AS (
      SELECT n, ka, kb,
             (o - ra * rb / n) * (o - ra * rb / n) / (ra * rb / n) AS term,
             ra * rb / n AS e
      FROM cells JOIN row_t USING (a) JOIN col_t USING (b), tot
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST((MAX(ka) - 1) * (MAX(kb) - 1) AS BIGINT) AS dof,
           ROUND(CAST(SUM(CAST(ROUND(term, 9) AS DECIMAL(28,9))) AS DOUBLE)
                 + (MAX(n) - CAST(SUM(CAST(ROUND(e, 9) AS DECIMAL(28,9))) AS DOUBLE)),
                 6) AS chi2
    FROM terms
    """,
)
def q_chi2_event_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of event type × hour-of-day — one
    contingency aggregate; absent cells folded in closed form (no
    grid-completing join)."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events").select(
        "event_type", F.hour("ts").alias("hour")
    )
    return drift_ops.chi_square_independence(events, "event_type", "hour")


# ---------------------------------------------------------------------------
# deterministic k-means clustering (round 7, late wave)
# ---------------------------------------------------------------------------


@register("kmeans_embeddings", None)  # generated oracle installed below
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (k=8, 3 iterations, md5 seeds) over the
    embedding corpus — assignment is a zero-join projection against the
    broadcast centroid model; each update shuffles k×dim decimal
    partials; the whole trajectory replays in the unrolled-CTE oracle."""
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    return similarity.kmeans_stats(emb, k=8, n_iters=3)


_O["kmeans_embeddings"] = similarity.kmeans_sql(
    "embeddings", "vec_id", "embedding", k=8, n_iters=3
)


@register(
    "triangle_stats_copurchase",
    f"""
    WITH e0 AS ({_copurchase_edges_sql()}),
    e1 AS (SELECT DISTINCT a, b FROM e0),
    deg AS (
      SELECT v, COUNT(*) AS deg
      FROM (SELECT a AS v FROM e1 UNION ALL SELECT b FROM e1) GROUP BY v
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                  THEN a ELSE b END AS u,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                  THEN b ELSE a END AS w
      FROM e1 JOIN deg da ON da.v = e1.a JOIN deg db ON db.v = e1.b
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM (SELECT e1.w AS v1, e2.w AS v2
            FROM o e1 JOIN o e2 ON e1.u = e2.u WHERE e1.w < e2.w) wj
      JOIN (SELECT LEAST(u, w) AS v1, GREATEST(u, w) AS v2 FROM o) c
        USING (v1, v2)
    ),
    nodes AS (
      SELECT COUNT(*) AS n_nodes,
             CAST(SUM(CAST(deg AS HUGEINT) * (deg - 1)) / 2 AS BIGINT) AS n_wedges
      FROM deg
    ),
    base AS (SELECT COUNT(*) AS n_edges FROM e1)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           n_wedges,
           ROUND(CASE WHEN n_wedges > 0
                 THEN 3.0 * n_triangles / n_wedges END, 6) AS gcc
    FROM tri, base, nodes
    """,
)
def q_triangle_stats_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangles + clustering coefficient of the part co-purchase
    graph — degree-oriented wedge join (hub-proof), everything integer."""
    from .operators.graph import triangle_stats

    li = read_table(spark, sf_dir, "lineitem")
    kt = li.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("t")
    ).distinct()
    edges = (
        kt.alias("x")
        .join(kt.alias("y"), "k")
        .filter(F.col("x.t") < F.col("y.t"))
        .select(F.col("x.t").alias("a"), F.col("y.t").alias("b"))
    )
    return triangle_stats(edges, "a", "b")


def _lang_confusion_sql() -> str:
    inner = _lang_sql()
    return f"""
    WITH guesses AS ({inner}),
    joined AS (
      SELECT d.lang AS lang_true, g.lang_guess
      FROM documents d JOIN guesses g ON d.doc_id = g.doc_id
      WHERE d.lang IS NOT NULL
    ),
    cells AS (
      SELECT lang_true, lang_guess, COUNT(*) AS n FROM joined GROUP BY 1, 2
    ),
    totals AS (SELECT lang_true, SUM(n) AS t FROM cells GROUP BY 1)
    SELECT lang_true, lang_guess, CAST(n AS BIGINT) AS n,
           ROUND(n / t, 6) AS recall
    FROM cells JOIN totals USING (lang_true)
    """


@register("lang_confusion_docs", None)  # generated oracle installed below
def q_lang_confusion_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix vs the documents table's ground-truth
    lang column — the classifier-calibration readout; one codegen guess
    projection + one (truth, guess) aggregate."""
    docs = read_table(spark, sf_dir, "documents", parallelize=True)
    return text.lang_confusion(docs, "doc_id", "text", "lang")


_O["lang_confusion_docs"] = _lang_confusion_sql()


@register(
    "ranking_metrics_label_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv, label AS qlab
      FROM embeddings WHERE vec_id < 20
    ),
    scored AS (
      SELECT qid, c.vec_id AS iid,
             ROW_NUMBER() OVER (
               PARTITION BY qid
               ORDER BY {_COS_SQL.format(a='q.qv', b='c.embedding')} DESC,
                        c.vec_id ASC) AS rk0
      FROM q, embeddings c
    ),
    topk AS (
      SELECT qid, iid,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rk0) AS rk
      FROM scored WHERE rk0 <= 11 AND iid <> qid
    ),
    rel AS (
      SELECT q.qid, e.vec_id AS iid
      FROM q JOIN embeddings e ON e.label = q.qlab AND e.vec_id <> q.qid
    ),
    nrel AS (SELECT qid, COUNT(*) AS n_rel FROM rel GROUP BY 1),
    j AS (
      SELECT t.qid, t.rk,
             CASE WHEN r.iid IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM topk t LEFT JOIN rel r ON r.qid = t.qid AND r.iid = t.iid
      WHERE t.rk <= 10
    ),
    perq AS (
      SELECT qid, CAST(SUM(hit) AS BIGINT) AS hits,
             CAST(SUM(CAST(CASE WHEN hit = 1
                           THEN ROUND(1.0 / log2(rk + 1.0), 9)
                           ELSE 0.0 END AS DECIMAL(20,9))) AS DOUBLE) AS dcg
      FROM j GROUP BY 1
    ),
    spine AS (SELECT r AS pos FROM range(1, 11) t(r)),
    idcg AS (
      SELECT qid, n_rel,
             CAST(SUM(CAST(ROUND(1.0 / log2(pos + 1.0), 9)
                           AS DECIMAL(20,9))) AS DOUBLE) AS idcg
      FROM nrel JOIN spine ON pos <= n_rel GROUP BY 1, 2
    )
    SELECT p.qid AS query_id,
           CAST(COALESCE(i.n_rel, 0) AS BIGINT) AS n_rel, p.hits,
           ROUND(p.hits / 10.0, 6) AS precision_at_k,
           ROUND(p.hits / i.n_rel, 6) AS recall_at_k,
           ROUND(CASE WHEN i.idcg > 0 THEN p.dcg / i.idcg END, 6) AS ndcg
    FROM perq p LEFT JOIN idcg i ON i.qid = p.qid
    """,
)
def q_ranking_metrics_label_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall@10 + NDCG@10 of brute-cosine retrieval judged by
    label agreement — the eval harness for the ANN stack; self-matches
    excluded, candidate re-rank and metric joins all ≤ |queries|·k rows."""
    from pyspark.sql.window import Window as W

    from .operators.mlfeatures import ranking_metrics

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding", F.col("label").alias("qlab")
    )
    topk = (
        similarity.cosine_topk(queries.select("query_id", "embedding"), emb, k=11)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.asc("rank"))
            ),
        )
        .select("query_id", F.col("vec_id").alias("item_id"), F.col("rk").alias("rank"))
    )
    rel = (
        queries.select("query_id", "qlab")
        .join(emb.select(F.col("vec_id").alias("item_id"), "label"),
              F.col("label") == F.col("qlab"))
        .filter(F.col("item_id") != F.col("query_id"))
        .select("query_id", "item_id")
    )
    return ranking_metrics(topk, rel, k=10)


@register(
    "calibration_curve_embeddings",
    f"""
    WITH scored AS (
      SELECT CASE WHEN label >= 5
                  THEN 0.3 + 0.7 * {_clf_hash_sql('cal')}
                  ELSE 0.7 * {_clf_hash_sql('cal')} END AS s,
             CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
      FROM embeddings WHERE label IS NOT NULL
    ),
    bins AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(s * 10) AS INTEGER), 0), 9) AS bin,
             COUNT(*) AS n,
             CAST(SUM(CAST(s AS DECIMAL(28,9))) AS DOUBLE) AS ss,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS t FROM bins)
    SELECT bin, CAST(n AS BIGINT) AS n,
           ROUND(ss / n, 6) AS mean_score,
           ROUND(pos / n, 6) AS frac_pos,
           ROUND(ABS(ss / n - pos / n) * (n / t), 6) AS ece_term
    FROM bins, tot
    """,
)
def q_calibration_curve_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of a deterministic pseudo-probability (md5
    uniform shifted by the true binary label, so it IS informative but
    imperfectly calibrated) — one bin aggregate; ece_term sums to ECE."""
    from .operators.mlfeatures import calibration_curve
    from .operators.sketches import hash_fraction

    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    h = hash_fraction(F.concat(F.lit("cal:"), F.col("vec_id").cast("string")))
    y = F.col("label") >= 5
    scored = emb.select(
        F.when(y, F.lit(0.3) + F.lit(0.7) * h).otherwise(F.lit(0.7) * h).alias("score"),
        F.col("label"),
    )
    return calibration_curve(scored, "score", F.col("label") >= 5, n_bins=10)


@register(
    "roc_auc_embeddings",
    f"""
    WITH scored AS (
      SELECT CASE WHEN label >= 5
                  THEN 0.3 + 0.7 * {_clf_hash_sql('cal')}
                  ELSE 0.7 * {_clf_hash_sql('cal')} END AS s,
             CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
      FROM embeddings WHERE label IS NOT NULL
    ),
    ranked AS (
      SELECT y, {_AVG_RANK.format(v='s')} AS r FROM scored
    ),
    g AS (
      SELECT CAST(SUM(y) AS BIGINT) AS np,
             CAST(SUM(1 - y) AS BIGINT) AS nn,
             CAST(SUM(CAST(CASE WHEN y = 1 THEN r ELSE 0.0 END
                           AS DECIMAL(28,6))) AS DOUBLE) AS rp
      FROM ranked
    )
    SELECT np AS n_pos, nn AS n_neg,
           ROUND(CASE WHEN np > 0 AND nn > 0
                 THEN (rp - np * (np + 1) / 2) / (np * nn) END, 6) AS auc
    FROM g
    """,
)
def q_roc_auc_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC (rank formulation, tie-aware) of the same md5
    pseudo-probability the calibration curve grades — one banded rank
    pass + a 2-class aggregate."""
    from .operators.mlfeatures import roc_auc
    from .operators.sketches import hash_fraction

    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    h = hash_fraction(F.concat(F.lit("cal:"), F.col("vec_id").cast("string")))
    y = F.col("label") >= 5
    scored = emb.select(
        F.when(y, F.lit(0.3) + F.lit(0.7) * h).otherwise(F.lit(0.7) * h).alias("score"),
        F.col("label"),
    )
    return roc_auc(scored, "score", F.col("label") >= 5)


@register("kmeans_balanced_sample", None)  # generated oracle installed below
def q_kmeans_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subset off the k-means trajectory: 5 md5-picked
    members per surviving cluster — the diversity-preserving curation
    sampler; one per-cluster top-m window on top of the kmeans scans."""
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    return similarity.kmeans_balanced_sample(emb, k=8, n_iters=3, per_cluster=5)


_O["kmeans_balanced_sample"] = similarity.kmeans_sample_sql(
    "embeddings", "vec_id", "embedding", k=8, n_iters=3, per_cluster=5
)


@register(
    "survival_curve_users",
    """
    WITH spans AS (
      SELECT user_id,
             MIN(epoch(ts)) AS f, MAX(epoch(ts)) AS l
      FROM events WHERE ts IS NOT NULL GROUP BY user_id
    ),
    horizon AS (SELECT MAX(epoch(ts)) AS hmax FROM events),
    staged AS (
      SELECT CAST(FLOOR((l - f) / 86400) AS BIGINT) AS t_days,
             CASE WHEN l > hmax - 7 * 86400 THEN 1 ELSE 0 END AS censored
      FROM spans, horizon
    ),
    per_t AS (
      SELECT t_days,
             CAST(SUM(1 - censored) AS BIGINT) AS n_events,
             CAST(SUM(censored) AS BIGINT) AS n_censored
      FROM staged GROUP BY t_days
    ),
    tot AS (SELECT SUM(n_events + n_censored) AS n FROM per_t),
    risked AS (
      SELECT t_days, n_events, n_censored,
             CAST(n - COALESCE(SUM(n_events + n_censored) OVER (
                 ORDER BY t_days ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_risk
      FROM per_t, tot
    ),
    cum AS (
      SELECT t_days, n_risk, n_events, n_censored,
             SUM(CAST(CASE WHEN n_events > 0 AND n_events < n_risk
                      THEN ROUND(LN(1.0 - n_events / n_risk), 9)
                      ELSE 0.0 END AS DECIMAL(28,9))) OVER (
               ORDER BY t_days ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ls,
             MAX(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END) OVER (
               ORDER BY t_days ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
      FROM risked
    )
    SELECT t_days, n_risk, n_events, n_censored,
           ROUND(CASE WHEN dead = 1 THEN 0.0
                      ELSE EXP(CAST(ls AS DOUBLE)) END, 6) AS survival
    FROM cum
    """,
)
def q_survival_curve_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-lifetime survival with 7-day right-censoring —
    per-key span aggregate, then everything on the |durations| table."""
    from .operators import windows as win_ops

    events = read_table(spark, sf_dir, "events")
    return win_ops.survival_curve(events, "user_id", "ts", censor_days=7)


def _did_hash_sql() -> str:
    from .operators.sketches import hash_fraction_sql

    return hash_fraction_sql("'did:' || CAST(user_id AS VARCHAR)")


@register(
    "did_event_value",
    f"""
    WITH base AS (
      SELECT CASE WHEN {_did_hash_sql()} < 0.5 THEN 1 ELSE 0 END AS t,
             CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS p,
             value AS v
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    cells AS (
      SELECT t, p, COUNT(*) AS n,
             CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS s
      FROM base GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN t = 1 AND p = 0 THEN n END) AS n_treat_pre,
        MAX(CASE WHEN t = 1 AND p = 1 THEN n END) AS n_treat_post,
        MAX(CASE WHEN t = 0 AND p = 0 THEN n END) AS n_ctrl_pre,
        MAX(CASE WHEN t = 0 AND p = 1 THEN n END) AS n_ctrl_post,
        MAX(CASE WHEN t = 1 AND p = 0 THEN s / n END) AS m_tp0,
        MAX(CASE WHEN t = 1 AND p = 1 THEN s / n END) AS m_tp1,
        MAX(CASE WHEN t = 0 AND p = 0 THEN s / n END) AS m_cp0,
        MAX(CASE WHEN t = 0 AND p = 1 THEN s / n END) AS m_cp1
      FROM cells
    )
    SELECT CAST(n_treat_pre AS BIGINT) AS n_treat_pre,
           CAST(n_treat_post AS BIGINT) AS n_treat_post,
           CAST(n_ctrl_pre AS BIGINT) AS n_ctrl_pre,
           CAST(n_ctrl_post AS BIGINT) AS n_ctrl_post,
           ROUND(m_tp0, 6) AS mean_treat_pre,
           ROUND(m_tp1, 6) AS mean_treat_post,
           ROUND(m_cp0, 6) AS mean_ctrl_pre,
           ROUND(m_cp1, 6) AS mean_ctrl_post,
           ROUND((m_tp1 - m_tp0) - (m_cp1 - m_cp0), 6) AS did
    FROM wide
    """,
)
def q_did_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on event value: md5-assigned pseudo
    treatment × a fixed calendar split — one 4-cell aggregate, the
    quasi-experimental completion of the Welch/MWU/SRM family."""
    from .operators import drift as drift_ops
    from .operators.sketches import hash_fraction

    events = read_table(spark, sf_dir, "events", parallelize=True)
    treat = hash_fraction(
        F.concat(F.lit("did:"), F.col("user_id").cast("string"))
    ) < 0.5
    post = F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")
    return drift_ops.diff_in_diff(events, treat, post, "value")


@register(
    "tfidf_doc_similarity_topk",
    f"""
    WITH t AS (
      SELECT doc_id, list_transform({_SQL_TOKS.format(t='text')}, x -> lower(x)) AS toks
      FROM documents
    ),
    dt AS (SELECT doc_id, UNNEST(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM dt GROUP BY 1, 2),
    dft AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM documents),
    w AS (
      SELECT doc_id AS id, term, tf,
             tf * (LN((1.0 + nd) / (1.0 + df_t)) + 1.0) AS w
      FROM tf JOIN dft USING (term), n
    ),
    norms AS (
      SELECT id, SQRT(CAST(SUM(CAST(ROUND(w * w, 9) AS DECIMAL(28,9)))
                           AS DOUBLE)) AS nrm
      FROM w GROUP BY 1
    ),
    wq AS (SELECT id AS qid, term, w AS wq FROM w WHERE id < 10),
    wc AS (
      SELECT id, term, w FROM (
        SELECT id, term, w,
               ROW_NUMBER() OVER (PARTITION BY term
                                  ORDER BY tf DESC, id ASC) AS pr
        FROM w
      ), n WHERE pr <= GREATEST(64, nd // 1000)
    ),
    dots AS (
      SELECT qid, id, CAST(COUNT(*) AS BIGINT) AS n_shared_terms,
             CAST(SUM(CAST(ROUND(wc.w * wq.wq, 9) AS DECIMAL(28,9)))
                  AS DOUBLE) AS dot
      FROM wc JOIN wq USING (term) WHERE wc.id <> wq.qid GROUP BY 1, 2
    ),
    scored AS (
      SELECT dots.qid, dots.id, dots.n_shared_terms,
             dots.dot / (na.nrm * nq.nrm) AS cosine
      FROM dots JOIN norms na ON na.id = dots.id
                JOIN norms nq ON nq.id = dots.qid
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY cosine DESC, id ASC) AS rank
      FROM scored
    )
    SELECT qid AS query_id, id AS doc_id, n_shared_terms,
           ROUND(cosine, 6) AS cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_tfidf_doc_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF document-to-document top-5 via an inverted-index
    join: 10 query docs' term vectors broadcast against the corpus —
    topical-twin retrieval with exact decimal dot products. Registered
    on the r11 CORPUS-AWARE default posting cap (top-max(64, n//1000)
    per term by tf, id tiebreak — computed plan-side from the broadcast
    n_docs scalar; see tfidf_doc_topk) so the driver checks exactly the
    auto-capped path the 100 TB plan runs; the oracle mirrors the same
    formula."""
    docs = read_table(spark, sf_dir, "documents")
    return text.tfidf_doc_topk(docs, "doc_id", "text", list(range(10)), k=5)


@register(
    "seasonal_decompose_daily_value",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    ks AS (SELECT CAST(r AS INTEGER) AS k FROM range(-3, 4) t(r)),
    neigh AS (SELECT daily.day + k AS nday, value AS v FROM daily, ks),
    trend AS (
      SELECT nday AS day, COUNT(*) AS n7,
             CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / 7.0 AS t
      FROM neigh GROUP BY 1
    ),
    based AS (
      SELECT d.day, d.value, CASE WHEN t.n7 = 7 THEN t.t END AS trend
      FROM daily d LEFT JOIN trend t USING (day)
    ),
    detr AS (
      SELECT day, value, trend, CAST(isodow(day) AS INTEGER) AS dow,
             value - trend AS detr
      FROM based
    ),
    dowm AS (
      SELECT dow,
             CAST(SUM(CAST(ROUND(detr, 6) AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS dm
      FROM detr WHERE detr IS NOT NULL GROUP BY 1
    ),
    grand AS (
      SELECT CAST(SUM(CAST(ROUND(dm, 6) AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS gm
      FROM dowm
    ),
    seas AS (SELECT dow, dm - gm AS s FROM dowm, grand)
    SELECT day, ROUND(value, 6) AS value, ROUND(trend, 6) AS trend,
           ROUND(s, 6) AS seasonal,
           ROUND(value - trend - s, 6) AS residual
    FROM detr LEFT JOIN seas USING (dow)
    """,
)
def q_seasonal_decompose_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/weekday-seasonal/residual split of the daily value
    total — centered 7-day MA trend (NULL at edges/gaps), ISO-weekday
    seasonality; everything after the day aggregate is |days|-sized."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.seasonal_decompose_daily(events, "ts", "value")


@register("bootstrap_mean_ci_value", None)  # generated oracle installed below
def q_bootstrap_mean_ci_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean event value: 16 md5-seeded
    replicate reweightings folded into ONE aggregate — the one-pass
    distributed bootstrap (no resampled copies, no shuffle)."""
    from .operators.sampling import bootstrap_mean_ci

    events = read_table(spark, sf_dir, "events", parallelize=True)
    return bootstrap_mean_ci(events, "value", "event_id", n_replicates=16)


from .operators.sampling import bootstrap_mean_ci_sql as _boot_sql  # noqa: E402

_O["bootstrap_mean_ci_value"] = _boot_sql("events", "value", "event_id", n_replicates=16)


@register(
    "cuped_lift_value",
    f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                           THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE)
               / NULLIF(COUNT(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                                   THEN 1 END), 0) AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                           THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE)
               / NULLIF(COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                                   THEN 1 END), 0) AS y,
             CASE WHEN {_did_hash_sql()} < 0.5 THEN 1 ELSE 0 END AS t
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      GROUP BY user_id
    ),
    base AS (SELECT t, x, y FROM per_user WHERE x IS NOT NULL AND y IS NOT NULL),
    g AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ROUND(y * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
             CAST(SUM(t) AS BIGINT) AS nt,
             CAST(SUM(CASE WHEN t = 1 THEN CAST(x AS DECIMAL(28,6)) END) AS DOUBLE) AS stx,
             CAST(SUM(CASE WHEN t = 1 THEN CAST(y AS DECIMAL(28,6)) END) AS DOUBLE) AS sty,
             CAST(SUM(1 - t) AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN t = 0 THEN CAST(x AS DECIMAL(28,6)) END) AS DOUBLE) AS scx,
             CAST(SUM(CASE WHEN t = 0 THEN CAST(y AS DECIMAL(28,6)) END) AS DOUBLE) AS scy
      FROM base
    )
    SELECT nt AS n_treat, nc AS n_ctrl,
           ROUND(CASE WHEN (sxx - n * (sx / n) * (sx / n)) > 0
                 THEN (sxy - n * (sx / n) * (sy / n))
                      / (sxx - n * (sx / n) * (sx / n)) END, 6) AS theta,
           ROUND(CASE WHEN nt > 0 AND nc > 0
                 THEN sty / nt - scy / nc END, 6) AS raw_lift,
           ROUND(CASE WHEN nt > 0 AND nc > 0
                           AND (sxx - n * (sx / n) * (sx / n)) > 0
                 THEN (sty / nt - scy / nc)
                      - ((sxy - n * (sx / n) * (sy / n))
                         / (sxx - n * (sx / n) * (sx / n)))
                        * (stx / nt - scx / nc) END, 6) AS cuped_lift,
           ROUND(CASE WHEN (sxx - n * (sx / n) * (sx / n)) > 0
                           AND (syy - n * (sy / n) * (sy / n)) > 0
                 THEN (sxy - n * (sx / n) * (sy / n))
                      * (sxy - n * (sx / n) * (sy / n))
                      / ((sxx - n * (sx / n) * (sx / n))
                         * (syy - n * (sy / n) * (sy / n))) END, 6)
             AS var_reduction
    FROM g
    """,
)
def q_cuped_lift_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced lift of post-period mean value (md5 pseudo
    arms, Jan 1-15 pre-period covariate) — one per-user aggregate feeding
    one moment aggregate, no per-unit adjusted column materialized."""
    from .operators import drift as drift_ops
    from .operators.sketches import hash_fraction

    events = read_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    dec = lambda c: c.cast("decimal(28,6)")
    per_user = (
        events.filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.when(F.col("ts") < cut, dec(F.col("value")))).cast("double")
                / F.nullif(
                    F.count(F.when(F.col("ts") < cut, F.lit(1))), F.lit(0)
                )
            ).alias("pre_value"),
            (
                F.sum(F.when(F.col("ts") >= cut, dec(F.col("value")))).cast("double")
                / F.nullif(
                    F.count(F.when(F.col("ts") >= cut, F.lit(1))), F.lit(0)
                )
            ).alias("post_value"),
        )
        .withColumn(
            "treat",
            hash_fraction(
                F.concat(F.lit("did:"), F.col("user_id").cast("string"))
            ) < 0.5,
        )
    )
    return drift_ops.cuped_lift(per_user, F.col("treat"), "pre_value", "post_value")


@register(
    "robust_trend_daily_value",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS x
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    pairs AS (
      SELECT CAST(SIGN(b.x - a.x) AS BIGINT) AS sgn,
             (b.x - a.x) / date_diff('day', a.day, b.day) AS slope
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    ps AS (
      SELECT CAST(SUM(sgn) AS BIGINT) AS mk_s,
             quantile_cont(slope, 0.5) AS sen
      FROM pairs
    ),
    ties AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)) AS DOUBLE)
               AS tie_term
      FROM (SELECT COUNT(*) AS t FROM daily GROUP BY x)
    )
    SELECT n AS n_days, mk_s,
           ROUND(CASE WHEN n >= 2
                       AND (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
                            - tie_term) / 18.0 > 0
                 THEN (CASE WHEN mk_s > 0 THEN mk_s - 1
                            WHEN mk_s < 0 THEN mk_s + 1 ELSE 0 END)
                      / SQRT((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
                              - tie_term) / 18.0) END, 6) AS mk_z,
           ROUND(sen, 6) AS sen_slope_per_day
    FROM ps, ties
    """,
)
def q_robust_trend_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test + Theil-Sen slope of the daily value total
    — outlier-proof trend detection; the pairwise join is |days|²-sized."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.robust_trend_daily(events, "ts", "value")


@register(
    "trimmed_mean_order_price",
    f"""
    WITH nn AS (SELECT o_totalprice AS v FROM orders WHERE o_totalprice IS NOT NULL),
    ranked AS (
      SELECT v, {_AVG_RANK.format(v='v')} AS r, COUNT(*) OVER (PARTITION BY v) AS t
      FROM nn
    ),
    grp AS (SELECT v, r, MAX(t) AS t FROM ranked GROUP BY v, r),
    meta AS (SELECT COUNT(*) AS n FROM nn),
    surv AS (
      SELECT v,
             CAST(GREATEST(
               LEAST(r + (t - 1) / 2, n - CAST(FLOOR(n * 0.05) AS BIGINT))
               - GREATEST(r - (t - 1) / 2, CAST(FLOOR(n * 0.05) AS BIGINT) + 1) + 1,
               0.0) AS BIGINT) AS keep
      FROM grp, meta
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM meta) AS n,
           (SELECT CAST(CAST(FLOOR(n * 0.05) AS BIGINT) AS BIGINT) FROM meta)
             AS n_trimmed_each_side,
           ROUND(CASE WHEN SUM(keep) > 0
                 THEN CAST(SUM(CAST(v AS DECIMAL(28,6)) * keep) AS DOUBLE)
                      / SUM(keep) END, 6) AS trimmed_mean
    FROM surv WHERE keep > 0
    """,
)
def q_trimmed_mean_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% symmetric trimmed mean of order totals — banded ranks, keep-count
    overlap per value group, one decimal survivor mean."""
    from .operators import drift as drift_ops

    orders = read_table(spark, sf_dir, "orders")
    return drift_ops.trimmed_mean(orders, "o_totalprice", trim_frac=0.05)


@register(
    "value_gini_order_price",
    f"""
    WITH nn AS (SELECT o_totalprice AS v FROM orders WHERE o_totalprice IS NOT NULL),
    ranked AS (SELECT v, {_AVG_RANK.format(v='v')} AS r FROM nn),
    g AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(r * v, 9) AS DECIMAL(28,9))) AS DOUBLE) AS srx,
             CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CASE WHEN v < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n, ROUND(sx, 6) AS total,
           ROUND(CASE WHEN n >= 2 AND sx > 0 AND neg = 0
                 THEN 2.0 * srx / (n * sx) - (n + 1) / n END, 6) AS gini
    FROM g
    """,
)
def q_value_gini_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of order totals — revenue-inequality readout on
    banded average ranks; one rank pass + one combinable aggregate."""
    from .operators import drift as drift_ops

    orders = read_table(spark, sf_dir, "orders")
    return drift_ops.value_gini(orders, "o_totalprice")


@register(
    "cusum_daily_value",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    idx AS (SELECT day, value, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily),
    base AS (
      SELECT COUNT(*) AS bn,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS bs,
             CAST(SUM(CAST(ROUND(value * value, 6) AS DECIMAL(38,6))) AS DOUBLE) AS bq
      FROM idx WHERE i <= 7
    ),
    j AS (
      SELECT idx.day, idx.value, idx.i, bn,
             bs / bn AS mu,
             SQRT(GREATEST(bq / bn - (bs / bn) * (bs / bn), 0.0)) AS sig
      FROM idx, base
    ),
    c AS (
      SELECT day, value, i, bn, sig,
             CAST(SUM(CAST(ROUND(value - mu - 0.0, 6) AS DECIMAL(28,6))) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS cp,
             CAST(SUM(CAST(ROUND(mu - value - 0.0, 6) AS DECIMAL(28,6))) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS cn
      FROM j
    ),
    s AS (
      SELECT day, value, i, bn, sig,
             cp - LEAST(MIN(cp) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               0.0) AS sp,
             cn - LEAST(MIN(cn) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               0.0) AS sn
      FROM c
    )
    SELECT day, ROUND(value, 6) AS value,
           ROUND(sp, 6) AS cusum_pos, ROUND(sn, 6) AS cusum_neg,
           (i > bn AND sig > 0 AND (sp > 5.0 * sig OR sn > 5.0 * sig)) AS is_alarm
    FROM s
    """,
)
def q_cusum_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM level-shift detector on the daily value total —
    the recursive max(0, ·) fold expressed exactly as cum − running-min;
    baseline μ₀/σ₀ from the first 7 days; everything |days|-sized."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.cusum_daily(events, "ts", "value")


@register(
    "term_pmi_docs",
    f"""
    WITH dt AS (
      SELECT DISTINCT doc_id AS d, t AS term
      FROM (
        SELECT doc_id,
               UNNEST(list_transform({_SQL_TOKS.format(t='text')}, x -> lower(x))) AS t
        FROM documents
      )
    ),
    n AS (SELECT COUNT(DISTINCT d) AS nd FROM dt),
    marg AS (SELECT term, COUNT(*) AS na FROM dt GROUP BY 1),
    pairs AS (
      SELECT x.term AS term_a, y.term AS term_b, COUNT(*) AS c
      FROM dt x JOIN dt y ON x.d = y.d AND x.term < y.term
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT term_a, term_b, CAST(c AS BIGINT) AS n_docs_both,
           ROUND(LN((c / CAST(nd AS DOUBLE))
                    / ((ma.na / CAST(nd AS DOUBLE))
                       * (mb.na / CAST(nd AS DOUBLE)))), 6) AS pmi
    FROM pairs
    JOIN marg ma ON ma.term = pairs.term_a
    JOIN marg mb ON mb.term = pairs.term_b, n
    ORDER BY n_docs_both DESC, term_a ASC, term_b ASC
    LIMIT 20
    """,
)
def q_term_pmi_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 term co-occurrence pairs by document count with PMI —
    distinct (doc, term) before the co-keyed self-join; marginals
    broadcast; exact counts, ln of identical doubles."""
    docs = read_table(spark, sf_dir, "documents")
    return text.term_pmi_topk(docs, "doc_id", "text", top_k=20)


@register(
    "markov_entropy_rate_events",
    """
    WITH p AS (
      SELECT event_type AS f,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts ASC, event_id ASC) AS t
      FROM events
    ),
    counts AS (
      SELECT f, t, COUNT(*) AS c FROM p WHERE t IS NOT NULL GROUP BY 1, 2
    ),
    staged AS (SELECT f, c, SUM(c) OVER (PARTITION BY f) AS cf FROM counts),
    agg AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_transitions,
             CAST(COUNT(DISTINCT f) AS BIGINT) AS n_states,
             CAST(SUM(CAST(cf * ROUND(-(c / cf) * LN(c / cf), 9)
                           AS DECIMAL(28,6))) AS DOUBLE) AS weighted
      FROM staged
    )
    SELECT n_transitions, n_states,
           ROUND(weighted / n_transitions, 6) AS entropy_rate,
           ROUND(CASE WHEN n_states > 1
                 THEN (weighted / n_transitions)
                      / LN(CAST(n_states AS DOUBLE)) END, 6)
             AS norm_entropy_rate
    FROM agg
    """,
)
def q_markov_entropy_rate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the per-user next-event Markov chain — how
    predictable the next action is given the current one; everything
    after the lead window is |vocab|²-sized."""
    from .operators import windows as win_ops

    events = read_table(spark, sf_dir, "events")
    return win_ops.markov_entropy_rate(
        events, "user_id", "ts", "event_type", tie_col="event_id"
    )


@register(
    "completeness_by_day_events",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
             CAST(COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT) AS nn_user_id,
             CAST(COUNT(CASE WHEN event_type IS NULL THEN 1 END) AS BIGINT) AS nn_event_type,
             CAST(COUNT(CASE WHEN value IS NULL THEN 1 END) AS BIGINT) AS nn_value,
             CAST(COUNT(CASE WHEN props IS NULL THEN 1 END) AS BIGINT) AS nn_props
      FROM events GROUP BY 1
    )
    SELECT day, column_name, CAST(n AS BIGINT) AS n, n_null,
           ROUND(n_null / n, 6) AS null_frac
    FROM (
      SELECT day, n, u.column_name, u.n_null
      FROM daily, UNNEST([
        struct_pack(column_name := 'user_id', n_null := nn_user_id),
        struct_pack(column_name := 'event_type', n_null := nn_event_type),
        struct_pack(column_name := 'value', n_null := nn_value),
        struct_pack(column_name := 'props', n_null := nn_props)
      ]) AS t(u)
    )
    """,
)
def q_completeness_by_day_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day per-column null fractions over the event log — the data-
    downtime monitor; one conditional-sum day aggregate, long format on
    the |days|-sized result."""
    from .quality import completeness_by_day

    events = read_table(spark, sf_dir, "events")
    return completeness_by_day(
        events, "ts", ["user_id", "event_type", "value", "props"]
    )


@register(
    "count_encode_event_type",
    """
    WITH counts AS (
      SELECT event_type AS cat, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    total AS (SELECT COUNT(*) AS t FROM events)
    SELECT e.event_id, e.event_type,
           c.c AS event_type_count,
           ROUND(c.c / CAST(t AS DOUBLE), 9) AS event_type_freq,
           ROUND(LN(1.0 + c.c), 9) AS event_type_log_count
    FROM events e
    LEFT JOIN counts c ON e.event_type IS NOT DISTINCT FROM c.cat, total
    """,
)
def q_count_encode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count/frequency encoding of event_type joined back per event —
    one category aggregate broadcast onto the scan."""
    events = read_table(spark, sf_dir, "events").select("event_id", "event_type")
    return fe_ops.count_encode(events, "event_type")


# ---------------------------------------------------------------------------
# round 9: passage-level decontamination, split leakage audit, ANN eval
# ---------------------------------------------------------------------------


@register(
    "substring_decontaminate_docs",
    """
    WITH tr AS (SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id % 11 <> 0),
    ev AS (SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id % 11 = 0),
    trw AS (
      SELECT DISTINCT tr.doc_id AS train_id, substr(t, CAST(i AS INT), 30) AS passage
      FROM tr, UNNEST(generate_series(1, len(t) - 29, 8)) AS u(i)
      WHERE len(t) >= 30
    ),
    evw AS (
      SELECT DISTINCT ev.doc_id AS eval_id, substr(t, CAST(i AS INT), 30) AS passage
      FROM ev, UNNEST(generate_series(1, len(t) - 29, 1)) AS u(i)
      WHERE len(t) >= 30
    )
    SELECT train_id, eval_id, COUNT(DISTINCT passage) AS n_shared_passages
    FROM trw JOIN evw USING (passage)
    GROUP BY train_id, eval_id
    """,
)
def q_substring_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level EXACT substring decontamination (r9): the Lee et al.
    2021 verbatim-run criterion at character grain — the contamination
    mode the 13-gram token rule misses — as strided rolling windows
    (train stride 8, eval dense) instead of a distributed suffix array.
    Flags every (train, eval) pair sharing a verbatim run >= 37 chars;
    every 11th doc plays the benchmark (the decontaminate_docs split).
    Train windows hash-join map-side against the broadcast eval window
    hashes, survivors exact-verified by a contains probe — zero train
    shuffle before the bounded pair aggregate."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    ev = docs.filter(F.col("doc_id") % 11 == 0)
    tr = docs.filter(F.col("doc_id") % 11 != 0)
    return dedup.substring_overlap_pairs(
        tr, ev, "doc_id", "text", passage_len=30, stride=8
    )


@register(
    "temporal_split_leakage_audit",
    """
    WITH b AS (
      SELECT event_type AS stratum, user_id,
             CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 1 ELSE 0 END AS te,
             COUNT(*) OVER w AS feat_total,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00' THEN 1 ELSE 0 END)
               OVER w AS feat_test
      FROM events
      WINDOW w AS (
        PARTITION BY user_id ORDER BY epoch_us(ts)
        RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
      )
    ),
    pe AS (
      SELECT stratum, user_id,
             SUM(1 - te) AS n_tr, SUM(te) AS n_te,
             SUM(CASE WHEN te = 1 AND feat_test > 0 THEN 1 ELSE 0 END) AS n_leaky,
             SUM(CAST(ROUND(CASE WHEN te = 1 AND feat_total > 0
                                 THEN CAST(feat_test AS DOUBLE) / feat_total
                                 ELSE 0.0 END, 9) AS DECIMAL(28,9))) AS share_sum
      FROM b GROUP BY 1, 2
    )
    SELECT stratum,
           CAST(SUM(n_tr) AS BIGINT) AS n_train,
           CAST(SUM(n_te) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overlap_entities,
           CAST(SUM(n_leaky) AS BIGINT) AS n_leaky_test_labels,
           COALESCE(CAST(SUM(share_sum) AS DOUBLE) / NULLIF(SUM(n_te), 0), 0.0)
             AS test_period_feature_share
    FROM pe GROUP BY stratum
    """,
)
def q_temporal_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/test split + leakage audit (r9): per event_type
    stratum, boundary counts, entities straddling the cutoff (group
    leakage), and — for each test label — whether its as-of-label feature
    window (training_set PIT semantics) already contains test-period
    rows, plus the mean test-period share. One microsecond-exact RANGE
    window on the entity, one (stratum, entity) aggregate, one
    |strata|-row rollup."""
    from .operators import pit as pit_ops

    events = read_table(spark, sf_dir, "events")
    return pit_ops.temporal_split_audit(
        events,
        entity_col="user_id",
        time_col="ts",
        stratum_col="event_type",
        cutoff="2024-01-22 00:00:00",
    )


def _rerank_metrics_local(
    exact_rows, approx_rows, *, k: int
) -> tuple[int, float | None, float | None]:
    """Driver-side replay of :func:`similarity.rerank_eval` over pinned
    row lists — operation-for-operation identical arithmetic so the two
    paths agree on every output bit (pytest-pinned in
    test_similarity.py):

    - recall = n_hit / n_exact: both int counts, ONE IEEE double division
      — same in CPython and the JVM;
    - mrr: per exact rank-1 row, rr = 1.0/approx_rank (double division) or
      0.0 when missed; Spark rounds rr HALF_UP at 9 dp via
      ``BigDecimal.valueOf(double)`` (shortest-repr string), replayed here
      as ``Decimal(repr(rr)).quantize(1e-9, HALF_UP)`` (``repr`` is the
      same shortest round-trip decimal); the exact decimal sum then casts
      to double (both sides correctly rounded) and divides by the rank-1
      row count.

    Returns (n_queries, recall, mrr); the ratios are None on an empty
    exact frame, mirroring the SQL NULL of a 0/0 division."""
    from decimal import ROUND_HALF_UP, Decimal

    ex = [(r[0], r[1], r[3]) for r in exact_rows if r[3] <= k]
    # PRECONDITION (r12 ADVICE): approx rows must be unique per
    # (query, corpus) — every registered route emits row_number top-k,
    # which guarantees it. A duplicate-bearing frame would silently keep
    # the LAST rank here while rerank_eval's join counts every match;
    # assert so a future non-top-k caller fails diagnosably instead.
    ap = {(r[0], r[1]): r[3] for r in approx_rows if r[3] <= k}
    n_ap = sum(1 for r in approx_rows if r[3] <= k)
    if len(ap) != n_ap:
        raise ValueError(
            "_rerank_metrics_local requires unique (query, corpus) approx "
            f"rows (row_number top-k frames); got {n_ap} rows, {len(ap)} keys"
        )
    n_exact = len(ex)
    n_queries = len({q for q, _, _ in ex})
    if n_exact == 0:
        return n_queries, None, None
    n_hit = sum(1 for q, c, _ in ex if (q, c) in ap)
    lattice = Decimal("1e-9")
    rr_sum = Decimal(0)
    n_rank1 = 0
    for qid, cid, rank in ex:
        if rank == 1:
            n_rank1 += 1
            arank = ap.get((qid, cid))
            rr = 1.0 / arank if arank is not None else 0.0
            rr_sum += Decimal(repr(rr)).quantize(lattice, ROUND_HALF_UP)
    recall = n_hit / n_exact
    mrr = float(rr_sum) / n_rank1 if n_rank1 else None
    return n_queries, recall, mrr


@register(
    "ann_rerank_eval",
    """
    WITH nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
                FROM embeddings WHERE vec_id < 20)
    SELECT 'ivf' AS variant, n_queries, CAST(5 AS INT) AS k,
           TRUE AS recall_ok, TRUE AS mrr_ok FROM nq
    UNION ALL
    SELECT 'lsh', n_queries, CAST(5 AS INT), TRUE, TRUE FROM nq
    UNION ALL
    SELECT 'pq', n_queries, CAST(5 AS INT), TRUE, TRUE FROM nq
    """,
)
def q_ann_rerank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN re-rank eval harness (r9): recall@5 + MRR of every candidate
    route (sign-LSH, IVF at nprobe 2/8, PQ+rerank) against the non-self
    brute-force ground truth, one row per variant. Bounded-quality oracle
    (the lsh_ann_topk pattern): all routes are md5/seed-deterministic, so
    the booleans assert measured floors with margin — lsh >= 0.8/0.75,
    ivf >= 0.4/0.45, pq >= 0.7/0.7 (measured at sf0.001/0.01/0.1:
    lsh .90-.91/.90, ivf .50-.65/.55-.80, pq .83-.96/.85-1.0) — and a
    recall collapse, query-set change, or tiebreak drift fails the hash.
    Self-hits are excluded (each route trivially retrieves its own query
    at rank 1, inflating both metrics toward 1)."""
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # each top-k frame is |queries|*k rows but used to feed 2-3 metric
    # joins in a union plan — pinning once stopped the brute-force scan /
    # KMeans fit / PQ build re-executing per reference (measured 27 s ->
    # ~7 s, r9). The four builds (ground truth + 3 routes) are
    # lineage-independent, so they run as CONCURRENT Spark jobs — wall
    # approaches the longest single route instead of the sum (19.6 s ->
    # 8.8 s best-of-3 at sf0.1, r10). r12: the metric bookkeeping itself
    # moved OFF Spark — the pins are |queries|·k driver rows already, and
    # the 3-route scorecard plan (9 joins/aggregates over ~100-row
    # LocalRelations) cost ~3 s/run in analysis + codegen + stage
    # scheduling while computing nothing corpus-sized. collect_concurrent
    # keeps the overlapped builds and the plan-audit hook;
    # _rerank_metrics_local replays similarity.rerank_eval's exact
    # arithmetic (pytest-pinned equivalent on the same pins).
    from .functions import collect_concurrent as _collect_all

    pins = _collect_all(
        {
            "gt": lambda: similarity.nonself_topk(
                similarity.cosine_topk(queries, emb, k=6), k=5
            ),
            "lsh": lambda: similarity.nonself_topk(
                similarity.lsh_topk(
                    queries, emb, k=6, dim=64, n_planes=4, n_tables=16
                ),
                k=5,
            ),
            "ivf": lambda: similarity.nonself_topk(
                # n_corpus feeds ivf_build's fit-partition clamp (r13);
                # the count runs inside this builder thread, overlapped
                # with the other routes' builds
                similarity.ivf_topk(
                    queries, emb, k=6, n_cells=8, nprobe=2,
                    n_corpus=emb.count(),
                ),
                k=5,
            ),
            "pq": lambda: similarity.nonself_topk(
                similarity.pq_topk_rerank(
                    queries, emb, k=6, m=16, k_codes=16, shortlist=100
                ),
                k=5,
            ),
        }
    )
    floors = {"lsh": (0.8, 0.75), "ivf": (0.4, 0.45), "pq": (0.7, 0.7)}
    out = []
    for name, (r_floor, m_floor) in floors.items():
        n_queries, recall, mrr = _rerank_metrics_local(pins["gt"], pins[name], k=5)
        out.append(
            (
                name,
                n_queries,
                5,
                None if recall is None else bool(recall >= r_floor),
                None if mrr is None else bool(mrr >= m_floor),
            )
        )
    return local_frame(
        spark,
        out,
        "variant string, n_queries bigint, k int, recall_ok boolean, mrr_ok boolean",
    )


# ---------------------------------------------------------------------------
# round 9, batch 2: link prediction, collaborative filtering, forecasting,
# representation audit, readability, t-closeness
# ---------------------------------------------------------------------------


@register(
    "adamic_adar_parts_topk",
    """
    WITH kt AS (
      SELECT DISTINCT l_orderkey AS k, l_partkey AS t FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    deg AS (SELECT k, COUNT(*) AS d FROM kt GROUP BY k HAVING COUNT(*) >= 2),
    w AS (
      SELECT kt.k, kt.t, ROUND(1.0 / LN(CAST(d AS DOUBLE)), 9) AS w
      FROM kt JOIN deg ON deg.k = kt.k
    ),
    pairs AS (
      SELECT x.t AS node_a, y.t AS node_b,
             CAST(COUNT(*) AS BIGINT) AS n_common_keys,
             SUM(CAST(x.w AS DECIMAL(28,9))) AS aa
      FROM w x JOIN w y ON x.k = y.k AND x.t < y.t
      GROUP BY 1, 2
    )
    SELECT node_a, node_b, n_common_keys,
           CAST(ROUND(aa, 6) AS DOUBLE) AS adamic_adar
    FROM pairs
    ORDER BY adamic_adar DESC, node_a ASC, node_b ASC
    LIMIT 20
    """,
)
def q_adamic_adar_parts_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the order→part incidence: the 20
    part pairs most likely to co-occur next, weighting shared orders by
    1/ln(basket size) — part_copurchase_lift's predictive sibling."""
    from .operators import graph as graph_ops

    li = read_table(spark, sf_dir, "lineitem")
    return graph_ops.adamic_adar_topk(li, "l_orderkey", "l_partkey", top_k=20)


@register(
    "item_item_cosine_topk",
    """
    WITH ci AS (
      SELECT DISTINCT o.o_custkey AS k, l.l_partkey AS t
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey IS NOT NULL AND l.l_partkey IS NOT NULL
    ),
    marg AS (SELECT t, COUNT(*) AS c FROM ci GROUP BY t),
    pairs AS (
      SELECT x.t AS a, y.t AS b, COUNT(*) AS nb
      FROM ci x JOIN ci y ON x.k = y.k AND x.t < y.t
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT a AS item_a, b AS item_b, CAST(nb AS BIGINT) AS n_keys_both,
           ROUND(nb / SQRT(CAST(ma.c AS DOUBLE) * CAST(mb.c AS DOUBLE)), 6) AS cosine
    FROM pairs
    JOIN marg ma ON ma.t = a
    JOIN marg mb ON mb.t = b
    ORDER BY cosine DESC, item_a ASC, item_b ASC
    LIMIT 20
    """,
)
def q_item_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item–item cosine collaborative filtering over the CUSTOMER–part
    incidence (who-bought-what, one hop wider than the per-order
    basket): the top-20 recommendation pairs. The orders↔lineitem join
    is key-keyed; the pair self-join co-keys on the customer."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    ci = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == orders["o_orderkey"],
    ).select("o_custkey", "l_partkey")
    return (
        windows_ops.cooccurrence_cosine(
            ci, "o_custkey", "l_partkey", min_pair_keys=2
        )
        .orderBy(F.desc("cosine"), F.asc("item_a"), F.asc("item_b"))
        .limit(20)
    )


#: Holt smoothing constants — rendered into BOTH engines from the same
#: Python floats (repr round-trips the exact double).
_HOLT_A, _HOLT_B, _HOLT_H = 0.5, 0.3, 7


@register(
    "holt_forecast_daily_value",
    f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    idx AS (SELECT day, value, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily),
    rec AS (
      SELECT i, day, value, value AS l, CAST(0.0 AS DOUBLE) AS b FROM idx WHERE i = 1
      UNION ALL
      SELECT q.i, q.day, q.value, q.l2 AS l,
             ROUND({_HOLT_B!r} * (q.l2 - q.l1) + {1.0 - _HOLT_B!r} * q.b1, 9) AS b
      FROM (
        SELECT idx.i, idx.day, idx.value,
               ROUND({_HOLT_A!r} * idx.value + {1.0 - _HOLT_A!r} * (rec.l + rec.b), 9) AS l2,
               rec.l AS l1, rec.b AS b1
        FROM rec JOIN idx ON idx.i = rec.i + 1
      ) q
    ),
    insample AS (
      SELECT r.day, ROUND(r.value, 6) AS value,
             CAST(ROUND(CAST(r.l AS DECIMAL(28,9)), 6) AS DOUBLE) AS level,
             CAST(ROUND(CAST(r.b AS DECIMAL(28,9)), 6) AS DOUBLE) AS trend,
             CASE WHEN r.i > 1 THEN
               CAST(ROUND(CAST(p.l + p.b AS DECIMAL(28,9)), 6) AS DOUBLE)
             END AS fitted,
             FALSE AS is_forecast
      FROM rec r LEFT JOIN rec p ON p.i = r.i - 1
    ),
    fin AS (SELECT day, l, b FROM rec ORDER BY i DESC LIMIT 1)
    SELECT * FROM insample
    UNION ALL
    SELECT fin.day + CAST(h.h AS INT) AS day,
           CAST(NULL AS DOUBLE) AS value,
           CAST(NULL AS DOUBLE) AS level,
           CAST(NULL AS DOUBLE) AS trend,
           CAST(ROUND(CAST(fin.l + CAST(h.h AS DOUBLE) * fin.b
                AS DECIMAL(28,9)), 6) AS DOUBLE) AS fitted,
           TRUE AS is_forecast
    FROM fin CROSS JOIN (SELECT UNNEST(range(1, {_HOLT_H} + 1)) AS h) h
    """,
)
def q_holt_forecast_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt level+trend smoothing of the daily value total with a 7-day
    linear forecast — the heading readout next to cusum_daily_value's
    shift alarm; the coupled recursion folds once over the |days| array
    (the documented dimension-sized exception)."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.holt_forecast_daily(
        events, "ts", "value", alpha=_HOLT_A, beta=_HOLT_B, horizon=_HOLT_H
    )


@register(
    "dim_correlation_topk_embeddings",
    """
    WITH dmax AS (
      SELECT MAX(len(embedding)) AS d FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) >= 2
    ),
    e AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER () AS rid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings, dmax
      WHERE embedding IS NOT NULL AND len(embedding) = dmax.d
    ),
    xs AS (SELECT rid, v, UNNEST(range(1, len(v) + 1)) AS i FROM e),
    xe AS MATERIALIZED (SELECT rid, CAST(i - 1 AS INT) AS i, v[CAST(i AS INT)] AS x FROM xs),
    dims AS MATERIALIZED (
      SELECT i, CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
      FROM xe GROUP BY i
    ),
    p AS (
      -- mirror the operator's integer-lattice path: ROUND(·,12) is the
      -- exact 1e-12 lattice, ×1e12 + ROUND(·,0) recovers the integer,
      -- the BIGINT sum is exact (HUGEINT-promoted), and double(S)/1e12
      -- is the same two IEEE ops Spark performs
      SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(ROUND(a.x * b.x, 12) * 1e12, 0) AS BIGINT))
                  AS DOUBLE) / 1e12 AS sxy
      FROM xe a JOIN xe b ON a.rid = b.rid AND a.i < b.i
      GROUP BY 1, 2
    ),
    f AS (
      SELECT p.i, p.j, p.n,
             sxy / p.n - (di.sx / p.n) * (dj.sx / p.n) AS cov,
             di.sxx / p.n - (di.sx / p.n) * (di.sx / p.n) AS vi,
             dj.sxx / p.n - (dj.sx / p.n) * (dj.sx / p.n) AS vj
      FROM p JOIN dims di ON di.i = p.i JOIN dims dj ON dj.i = p.j
    ),
    r AS (
      SELECT i AS dim_i, j AS dim_j, CAST(n AS BIGINT) AS n,
             ROUND(cov, 6) AS covariance,
             ROUND(CASE WHEN vi > 0 AND vj > 0
                        THEN cov / SQRT(vi * vj) END, 6) AS correlation
      FROM f
    )
    SELECT * FROM r
    ORDER BY ABS(correlation) DESC NULLS LAST, dim_i ASC, dim_j ASC
    LIMIT 20
    """,
)
def q_dim_correlation_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-correlated embedding dimension pairs — the
    representation-redundancy audit behind the PCA/whitening decision;
    one flattened upper-triangle explode with map-side combine."""
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True).repartition(_par(spark))
    return similarity.dim_correlation_topk(emb, "embedding", top_k=20)


@register(
    "readability_docs",
    f"""
    WITH t AS (
      SELECT doc_id,
             {_SQL_TOKS.format(t='lower(text)')} AS toks,
             GREATEST(LEN(regexp_extract_all(text, '[.!?]+')), 1) AS n_sent
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             CAST(LEN(toks) AS BIGINT) AS n_words,
             CAST(n_sent AS BIGINT) AS n_sentences,
             CAST(list_sum(list_transform(toks,
                  w -> GREATEST(LEN(regexp_extract_all(w, '[aeiouy]+')), 1)))
               AS BIGINT) AS syl
      FROM t
    )
    SELECT doc_id, n_words,
           CASE WHEN n_words > 0 THEN n_sentences END AS n_sentences,
           CASE WHEN n_words > 0 THEN syl END AS n_syllables,
           ROUND(CASE WHEN n_words > 0
                 THEN CAST(n_words AS DOUBLE) / n_sentences END, 6) AS words_per_sentence,
           ROUND(CASE WHEN n_words > 0
                 THEN CAST(syl AS DOUBLE) / n_words END, 6) AS syllables_per_word,
           ROUND(CASE WHEN n_words > 0
                 THEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                      - 84.6 * (CAST(syl AS DOUBLE) / n_words) END, 6) AS flesch_ease,
           ROUND(CASE WHEN n_words > 0
                 THEN 0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                      + 11.8 * (CAST(syl AS DOUBLE) / n_words) - 15.59 END, 6) AS fk_grade
    FROM s
    """,
)
def q_readability_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease / FK grade per document — the surface-density
    curation axis; zero-shuffle row-local regex projection."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return text.readability(docs, "doc_id", "text")


@register(
    "t_closeness_events",
    """
    WITH pv AS (
      SELECT CAST(ts AS DATE) AS day, event_type AS s, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    gd AS (SELECT s, SUM(c) AS cs FROM pv GROUP BY s),
    n AS (SELECT SUM(cs) AS nt FROM gd),
    marg AS (SELECT s, CAST(cs AS DOUBLE) / nt AS p FROM gd, n),
    j AS (
      SELECT pv.day, pv.c, marg.p,
             SUM(pv.c) OVER (PARTITION BY pv.day) AS ng
      FROM pv JOIN marg ON marg.s IS NOT DISTINCT FROM pv.s
    ),
    g AS (
      SELECT day, CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(ROUND(ABS(CAST(c AS DOUBLE) / ng - p), 12)
                  AS DECIMAL(38,12))) AS DOUBLE) AS sabs,
             CAST(SUM(CAST(ROUND(p, 12) AS DECIMAL(38,12))) AS DOUBLE) AS spres
      FROM j GROUP BY day
    )
    SELECT day, n_rows,
           ROUND(0.5 * (sabs + 1.0 - spres), 6) AS tvd,
           (ROUND(0.5 * (sabs + 1.0 - spres), 6) <= 0.2) AS meets_t
    FROM g
    """,
)
def q_t_closeness_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-closeness of each day's event_type distribution vs the corpus —
    the skewness-attack audit completing the k-anonymity / l-diversity
    privacy trio; two combinable aggregates + broadcast marginals."""
    from .quality import t_closeness_profile

    events = read_table(spark, sf_dir, "events")
    return t_closeness_profile(
        events.select(F.to_date(F.col("ts")).alias("day"), "event_type"),
        ["day"],
        "event_type",
        t=0.2,
    )


@register(
    "best_split_daily_value",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 0) AS DECIMAL(15,0)) AS v
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    pre AS (
      -- integer-quantized totals: every moment is a scale-0 decimal, so
      -- the SSE identity runs exactly and int->double casts agree
      SELECT day,
             ROW_NUMBER() OVER (ORDER BY day) AS i,
             CAST(SUM(v) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(18,0)) AS s,
             CAST(SUM(CAST(v AS DECIMAL(18,0)) * CAST(v AS DECIMAL(18,0))) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(31,0)) AS ss,
             COUNT(*) OVER () AS n,
             CAST(SUM(v) OVER () AS DECIMAL(18,0)) AS st,
             CAST(SUM(CAST(v AS DECIMAL(18,0)) * CAST(v AS DECIMAL(18,0))) OVER ()
               AS DECIMAL(31,0)) AS sst
      FROM daily
    ),
    cand AS (
      SELECT day AS split_day,
             CAST(n AS BIGINT) AS n_days,
             ROUND(CAST(s AS DOUBLE) / i, 6) AS mean_left,
             ROUND(CAST(st - s AS DOUBLE) / (n - i), 6) AS mean_right,
             ROUND(CAST(CAST(n AS DECIMAL(6,0)) * sst - st * st AS DOUBLE) / n, 6)
               AS sse_total,
             ROUND(CAST(CAST(i AS DECIMAL(6,0)) * ss - s * s AS DOUBLE) / i
                   + CAST(CAST(n - i AS DECIMAL(6,0)) * CAST(sst - ss AS DECIMAL(31,0))
                          - CAST(st - s AS DECIMAL(18,0)) * CAST(st - s AS DECIMAL(18,0))
                          AS DOUBLE) / (n - i), 6) AS sse_split,
             CAST(CAST(n AS DECIMAL(6,0)) * sst - st * st AS DOUBLE) / n
               - (CAST(CAST(i AS DECIMAL(6,0)) * ss - s * s AS DOUBLE) / i
                  + CAST(CAST(n - i AS DECIMAL(6,0)) * CAST(sst - ss AS DECIMAL(31,0))
                         - CAST(st - s AS DECIMAL(18,0)) * CAST(st - s AS DECIMAL(18,0))
                         AS DOUBLE) / (n - i)) AS gain_raw
      FROM pre WHERE i >= 2 AND n - i >= 2
    )
    SELECT split_day, n_days, mean_left, mean_right, sse_total, sse_split,
           ROUND(gain_raw, 6) AS gain
    FROM cand ORDER BY gain_raw DESC, split_day ASC LIMIT 1
    """,
)
def q_best_split_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single best changepoint of the daily value total by variance
    reduction — binary segmentation's greedy first cut; one day-grain
    aggregate, everything after runs on the |days| table."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.best_split_daily(events, "ts", "value")


def _layout_audit_sql() -> str:
    fr = ", ".join(repr(k / 16) for k in range(1, 16))
    legs = []
    for name, key in (
        ("by_orderdate", "CAST(pday AS DOUBLE)"),
        ("by_custkey", "CAST(o_custkey AS DOUBLE)"),
        ("by_orderkey", "CAST(o_orderkey AS DOUBLE)"),
    ):
        legs.append(f"""
    bs_{name} AS (
      SELECT quantile_cont({key}, [{fr}]) AS bs
      FROM keyed WHERE {key} IS NOT NULL
    ),
    f_{name} AS (
      SELECT CAST(len(list_filter(bs.bs, b -> {key} > b)) AS INT) AS f,
             pday AS p
      FROM keyed, bs_{name} bs WHERE {key} IS NOT NULL
    ),
    a_{name} AS (
      SELECT f, MIN(p) AS mn, MAX(p) AS mx, COUNT(*) AS nr
      FROM f_{name} GROUP BY 1
    ),
    r_{name} AS (
      SELECT '{name}' AS layout, pred_id, lo, hi,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(CASE WHEN mx >= lo AND mn < hi THEN 1 ELSE 0 END) AS BIGINT)
               AS files_scanned,
             CAST(SUM(CASE WHEN mx >= lo AND mn < hi THEN nr ELSE 0 END) AS BIGINT)
               AS rows_scanned,
             ROUND(1.0 - SUM(CASE WHEN mx >= lo AND mn < hi THEN 1 ELSE 0 END)
                   / COUNT(*), 6) AS prune_frac
      FROM a_{name} CROSS JOIN preds GROUP BY 1, 2, 3, 4
    )""")
    return f"""
    WITH keyed AS (
      SELECT CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS pday,
             o_custkey, o_orderkey
      FROM orders
    ),
    mnd AS (SELECT MIN(pday) AS d0 FROM keyed),
    preds AS (
      SELECT k AS pred_id, d0 + off AS lo, d0 + off + 30 AS hi
      FROM mnd, (VALUES (0, 0), (1, 180), (2, 360)) AS t(k, off)
    ),{",".join(legs)}
    SELECT * FROM r_by_orderdate
    UNION ALL SELECT * FROM r_by_custkey
    UNION ALL SELECT * FROM r_by_orderkey
    """


@register("layout_pruning_audit_orders", _layout_audit_sql())
def q_layout_pruning_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-pruning simulator over three candidate orders layouts
    (date-sorted, customer-sorted, orderkey/arrival) against 30-day
    date-range predicates — the measurement behind the §layout sort/
    Z-order rewrite decision; one scan + one combinable aggregate per
    layout, no global sort."""
    from .operators.layout import pruning_audit

    orders = read_table(spark, sf_dir, "orders")
    pday = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    mn = orders.agg(F.min(pday).cast("long").alias("d0"))
    preds = mn.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("pred_id"),
                        (F.col("d0") + F.lit(off)).cast("long").alias("lo"),
                        (F.col("d0") + F.lit(off) + 30).cast("long").alias("hi"),
                    )
                    for k, off in enumerate((0, 180, 360))
                ]
            )
        ).alias("p")
    ).select("p.*")
    return pruning_audit(
        orders,
        {
            "by_orderdate": pday,
            "by_custkey": F.col("o_custkey"),
            "by_orderkey": F.col("o_orderkey"),
        },
        pday.cast("long"),
        preds,
        n_files=16,
    )


def _pca_power_sql(iterations: int = 10) -> str:
    """Unrolled power iteration over the exact covariance (the MMR/BPE
    unrolled-CTE precedent): v_{t+1} = round(C·v_t / ‖C·v_t‖, 9) with
    12 dp decimal product sums — every step double-for-double the plan
    ``similarity.pca_power_embeddings`` executes."""
    it = []
    prev = "v0"
    for t in range(1, iterations + 1):
        it.append(f"""
    u{t} AS MATERIALIZED (
      SELECT cov.i,
             CAST(SUM(CAST(ROUND(cov.c * {prev}.v, 12) AS DECIMAL(38,12)))
                  AS DOUBLE) AS u
      FROM cov JOIN {prev} ON {prev}.j = cov.j GROUP BY cov.i
    ),
    n{t} AS MATERIALIZED (
      SELECT SQRT(CAST(SUM(CAST(ROUND(u * u, 12) AS DECIMAL(38,12))) AS DOUBLE))
               AS nrm
      FROM u{t}
    ),
    v{t} AS MATERIALIZED (
      SELECT i AS j,
             ROUND(CASE WHEN nrm > 0 THEN u / nrm ELSE 0.0 END, 9) AS v
      FROM u{t}, n{t}
    )""")
        prev = f"v{t}"
    return f"""
    WITH dmax AS (
      SELECT MAX(len(embedding)) AS d FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) >= 2
    ),
    e AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER () AS rid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings, dmax
      WHERE embedding IS NOT NULL AND len(embedding) = dmax.d
    ),
    xs AS (SELECT rid, v, UNNEST(range(1, len(v) + 1)) AS i FROM e),
    xe AS MATERIALIZED (SELECT rid, CAST(i - 1 AS INT) AS i, v[CAST(i AS INT)] AS x FROM xs),
    dims AS MATERIALIZED (
      SELECT i, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
      FROM xe GROUP BY i
    ),
    p AS (
      SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
             CAST(SUM(CAST(ROUND(ROUND(a.x * b.x, 12) * 1e12, 0) AS BIGINT))
                  AS DOUBLE) / 1e12 AS sxy
      FROM xe a JOIN xe b ON a.rid = b.rid AND a.i < b.i
      GROUP BY 1, 2
    ),
    covu AS (
      SELECT p.i, p.j,
             sxy / p.n - (di.sx / p.n) * (dj.sx / p.n) AS c
      FROM p JOIN dims di ON di.i = p.i JOIN dims dj ON dj.i = p.j
    ),
    cov AS MATERIALIZED (
      SELECT i, j, c FROM covu
      UNION ALL SELECT j AS i, i AS j, c FROM covu
      UNION ALL SELECT i, i AS j, sxx / n - (sx / n) * (sx / n) AS c FROM dims
    ),
    dd AS (SELECT COUNT(*) AS d FROM dims),
    v0 AS (SELECT i AS j, ROUND(1.0 / SQRT(d), 9) AS v FROM dims, dd),{",".join(it)}
    SELECT v{iterations}.j AS dim,
           CAST(ROUND(CAST(v{iterations}.v AS DECIMAL(28,9)), 6) AS DOUBLE)
             AS loading,
           ROUND(n{iterations}.nrm, 6) AS eigenvalue
    FROM v{iterations}, n{iterations}
    """


@register("pca_power_embeddings", _pca_power_sql(10))
def q_pca_power_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component + eigenvalue of the embedding corpus via
    10 deterministic power iterations on the exact covariance — one
    corpus pass builds C, the iterations are |d|-sized against the
    pinned matrix."""
    emb = read_table(spark, sf_dir, "embeddings", parallelize=True).repartition(_par(spark))
    return similarity.pca_power_embeddings(emb, "embedding", iterations=10)


@register(
    "rake_keyphrases_docs",
    """
    WITH tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    -- row-local phrase islands: stopword tokens become a \x01 sentinel
    -- (unreachable from [a-z]+ tokens), the joined string splits on it
    ph AS (
      SELECT UNNEST(list_filter(
               list_transform(
                 string_split(array_to_string(
                   list_transform(toks, w -> CASE WHEN w IN
                     ('the','a','and','of','to','in','is','it')
                     THEN chr(1) ELSE w END), ' '), chr(1)),
                 p -> trim(p)),
               p -> p <> '')) AS phrase
      FROM tk
    ),
    phl AS (SELECT phrase, len(string_split(phrase, ' ')) AS len FROM ph),
    occ AS (SELECT phrase, len, UNNEST(string_split(phrase, ' ')) AS w FROM phl),
    ws AS (
      SELECT w, ROUND(CAST(SUM(len) AS DOUBLE) / COUNT(*), 9) AS ws
      FROM occ GROUP BY w
    ),
    uniq AS (
      SELECT phrase, MAX(len) AS n_words, COUNT(*) AS n_occurrences
      FROM phl GROUP BY phrase
    ),
    uw AS (
      SELECT phrase, n_words, n_occurrences,
             UNNEST(string_split(phrase, ' ')) AS w
      FROM uniq
    )
    SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_occurrences AS BIGINT) AS n_occurrences,
           CAST(ROUND(SUM(CAST(ws AS DECIMAL(28,9))), 6) AS DOUBLE) AS score
    FROM uw JOIN ws USING (w)
    GROUP BY 1, 2, 3
    ORDER BY score DESC, phrase ASC
    LIMIT 20
    """,
)
def q_rake_keyphrases_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE top-20 keyphrases over the corpus — ROW-LOCAL sentinel-split
    phrase islands (the fact-sized token stream never shuffles),
    combinable word stats broadcast onto distinct phrase texts."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return text.rake_keyphrases(docs, "doc_id", "text", top_k=20)


@register(
    "isotonic_calibration_embeddings",
    f"""
    WITH scored AS (
      SELECT CASE WHEN label >= 5
                  THEN 0.3 + 0.7 * {_clf_hash_sql('cal')}
                  ELSE 0.7 * {_clf_hash_sql('cal')} END AS s,
             CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y
      FROM embeddings WHERE label IS NOT NULL
    ),
    bins AS (
      SELECT LEAST(GREATEST(CAST(FLOOR(s * 10) AS INTEGER), 0), 9) AS bin,
             COUNT(*) AS n, SUM(y) AS pos
      FROM scored GROUP BY 1
    ),
    pref AS (
      SELECT bin, n, pos,
             SUM(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cn,
             SUM(pos) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cp
      FROM bins
    ),
    ij AS (
      SELECT lo.bin AS i, hi.bin AS j,
             CAST(hi.cp - (lo.cp - lo.pos) AS DOUBLE)
               / (hi.cn - (lo.cn - lo.n)) AS avg
      FROM pref lo JOIN pref hi ON lo.bin <= hi.bin
    ),
    inner_min AS (
      SELECT k.bin AS k, ij.i, MIN(ij.avg) AS minavg
      FROM pref k JOIN ij ON ij.i <= k.bin AND ij.j >= k.bin
      GROUP BY 1, 2
    ),
    fit AS (SELECT k, MAX(minavg) AS f FROM inner_min GROUP BY k)
    SELECT pref.bin, CAST(pref.n AS BIGINT) AS n,
           ROUND(CAST(pref.pos AS DOUBLE) / pref.n, 6) AS frac_pos,
           ROUND(fit.f, 6) AS iso_fit
    FROM pref JOIN fit ON fit.k = pref.bin
    """,
)
def q_isotonic_calibration_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration map of the deterministic
    pseudo-probability from calibration_curve_embeddings — the minimax
    closed form over the ≤10-row bin table; one scan aggregate."""
    from .operators.mlfeatures import isotonic_calibration
    from .operators.sketches import hash_fraction

    emb = read_table(spark, sf_dir, "embeddings").filter(F.col("label").isNotNull())
    h = hash_fraction(F.concat(F.lit("cal:"), F.col("vec_id").cast("string")))
    y = F.col("label") >= 5
    scored = emb.select(
        F.when(y, F.lit(0.3) + F.lit(0.7) * h).otherwise(F.lit(0.7) * h).alias("score"),
        F.col("label"),
    )
    return isotonic_calibration(scored, "score", F.col("label") >= 5, n_bins=10)


@register(
    "forecast_backtest_daily_value",
    f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    idx AS (SELECT day, value, ROW_NUMBER() OVER (ORDER BY day) AS i FROM daily),
    rec AS (
      SELECT i, day, value, value AS l, CAST(0.0 AS DOUBLE) AS b FROM idx WHERE i = 1
      UNION ALL
      SELECT q.i, q.day, q.value, q.l2 AS l,
             ROUND({_HOLT_B!r} * (q.l2 - q.l1) + {1.0 - _HOLT_B!r} * q.b1, 9) AS b
      FROM (
        SELECT idx.i, idx.day, idx.value,
               ROUND({_HOLT_A!r} * idx.value + {1.0 - _HOLT_A!r} * (rec.l + rec.b), 9) AS l2,
               rec.l AS l1, rec.b AS b1
        FROM rec JOIN idx ON idx.i = rec.i + 1
      ) q
    ),
    ins AS (
      SELECT r.i, r.day, ROUND(r.value, 6) AS value,
             CASE WHEN r.i > 1 THEN
               CAST(ROUND(CAST(p.l + p.b AS DECIMAL(28,9)), 6) AS DOUBLE)
             END AS fitted
      FROM rec r LEFT JOIN rec p ON p.i = r.i - 1
    ),
    bt AS (
      SELECT i.value, i.fitted, l.value AS naive
      FROM ins i JOIN ins l ON l.day + 7 = i.day
      WHERE i.fitted IS NOT NULL
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(CAST(ROUND(ABS(value - fitted), 9) AS DECIMAL(28,9)))
                  AS DOUBLE) AS se_h,
             CAST(SUM(CAST(ROUND(ABS(value - naive), 9) AS DECIMAL(28,9)))
                  AS DOUBLE) AS se_n,
             CAST(SUM(CAST(ROUND(CASE WHEN value <> 0
                    THEN ABS(value - fitted) / ABS(value) END, 9)
                  AS DECIMAL(28,9))) AS DOUBLE) AS sape,
             CAST(COUNT(CASE WHEN value <> 0 THEN 1 END) AS BIGINT) AS n_ape
      FROM bt
    )
    SELECT n_days,
           ROUND(se_h / n_days, 6) AS mae_holt,
           ROUND(se_n / n_days, 6) AS mae_naive,
           ROUND(CASE WHEN se_n > 0 THEN (se_h / n_days) / (se_n / n_days) END, 6)
             AS mase,
           ROUND(CASE WHEN n_ape > 0 THEN sape / n_ape END, 6) AS mape_holt
    FROM agg WHERE n_days > 0
    """,
)
def q_forecast_backtest_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE/MAPE/MASE of the Holt one-step fit vs the 7-day CALENDAR
    seasonal naive (self-join on day − 7, gap-safe) — the eval that
    decides whether the smoother earns its keep; the day-grain Holt
    pass + one |days|-sized shifted self-join + one scalar agg."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.forecast_backtest_daily(
        events, "ts", "value", alpha=_HOLT_A, beta=_HOLT_B, season_lag=7
    )


@register(
    "unigram_kl_sources_docs",
    f"""
    WITH tok AS (
      SELECT source, UNNEST({_SQL_TOKS.format(t='lower(text)')}) AS w
      FROM documents
    ),
    sw AS (SELECT source AS src, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    st AS (SELECT src, SUM(c) AS nt FROM sw GROUP BY 1),
    cw AS (SELECT w, SUM(c) AS cwc FROM sw GROUP BY 1),
    nc AS (SELECT SUM(cwc) AS nc FROM cw)
    SELECT src AS source,
           CAST(MAX(nt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(ROUND(SUM(CAST(ROUND(
                 (CAST(c AS DOUBLE) / nt)
                 * LN((CAST(c AS DOUBLE) / nt) / (CAST(cwc AS DOUBLE) / nc)), 12)
               AS DECIMAL(38,12))), 6) AS DOUBLE) AS kl_vs_corpus
    FROM sw JOIN st USING (src) JOIN cw USING (w), nc
    GROUP BY src
    """,
)
def q_unigram_kl_sources_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL vs the pooled corpus — the mixture-skew
    diagnostic; one (source, word) combinable aggregate, marginals
    joined back word-keyed."""
    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    return text.unigram_kl_by_source(docs, "source", "text")


@register(
    "stl_anomaly_days_value",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    ks AS (SELECT CAST(r AS INTEGER) AS k FROM range(-3, 4) t(r)),
    neigh AS (SELECT daily.day + k AS nday, value AS v FROM daily, ks),
    trend AS (
      SELECT nday AS day, COUNT(*) AS n7,
             CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / 7.0 AS t
      FROM neigh GROUP BY 1
    ),
    based AS (
      SELECT d.day, d.value, CASE WHEN t.n7 = 7 THEN t.t END AS trend
      FROM daily d LEFT JOIN trend t USING (day)
    ),
    detr AS (
      SELECT day, value, trend, CAST(isodow(day) AS INTEGER) AS dow,
             value - trend AS detr
      FROM based
    ),
    dowm AS (
      SELECT dow,
             CAST(SUM(CAST(ROUND(detr, 6) AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS dm
      FROM detr WHERE detr IS NOT NULL GROUP BY 1
    ),
    grand AS (
      SELECT CAST(SUM(CAST(ROUND(dm, 6) AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS gm
      FROM dowm
    ),
    seas AS (SELECT dow, dm - gm AS s FROM dowm, grand),
    res AS (
      SELECT day, ROUND(value, 6) AS value,
             ROUND(value - trend - s, 6) AS residual
      FROM detr LEFT JOIN seas USING (dow)
    ),
    res2 AS (SELECT * FROM res WHERE residual IS NOT NULL),
    med AS (SELECT quantile_cont(residual, 0.5) AS m FROM res2),
    mad AS (SELECT quantile_cont(abs(residual - m), 0.5) AS d FROM res2, med)
    SELECT day, value, residual,
           ROUND(CASE WHEN d > 0
                 THEN 0.6745 * (residual - m) / d END, 6) AS modified_z,
           COALESCE(ABS(CASE WHEN d > 0
                 THEN 0.6745 * (residual - m) / d END) > 3.5, FALSE) AS is_anomaly
    FROM res2, med, mad
    """,
)
def q_stl_anomaly_days_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly days: the additive decompose's
    residual under the Iglewicz–Hoaglin modified-z test — flags only
    what trend+weekday can't explain; |days|-sized after the day
    aggregate."""
    from .operators import drift as drift_ops

    events = read_table(spark, sf_dir, "events")
    return drift_ops.stl_anomaly_days(events, "ts", "value", threshold=3.5)


# ---------------------------------------------------------------------------
# round 10: close the mixture loop — the unigram-KL skew readout becomes the
# re-weighting that the token-mixture sampler executes (diagnose -> act)
# ---------------------------------------------------------------------------


@register(
    "kl_reweighted_mixture_docs",
    f"""
    WITH tok AS (
      SELECT source, UNNEST({_SQL_TOKS.format(t='lower(text)')}) AS w
      FROM documents
    ),
    sw AS (SELECT source AS src, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    st AS (SELECT src, SUM(c) AS ntt FROM sw GROUP BY 1),
    cw AS (SELECT w, SUM(c) AS cwc FROM sw GROUP BY 1),
    ncte AS (SELECT SUM(cwc) AS ncc FROM cw),
    kl AS (
      SELECT src AS source,
             CAST(ROUND(SUM(CAST(ROUND(
                   (CAST(c AS DOUBLE) / ntt)
                   * LN((CAST(c AS DOUBLE) / ntt) / (CAST(cwc AS DOUBLE) / ncc)), 12)
                 AS DECIMAL(38,12))), 6) AS DOUBLE) AS kl
      FROM sw JOIN st USING (src) JOIN cw USING (w), ncte
      GROUP BY src
    ),
    wt AS (
      SELECT source, kl,
             GREATEST(1, CAST(ROUND(
               CAST(ROUND(EXP(-kl), 6) AS DECIMAL(18,6)) * 10000, 0) AS BIGINT))
               AS wgt
      FROM kl
    ),
    t AS (
      SELECT doc_id, source, CAST(LEN({_SQL_TOKS.format(t='text')}) AS BIGINT) AS nt
      FROM documents
    ),
    tot AS (
      SELECT t.source, MAX(wt.wgt) AS wgt, SUM(t.nt) AS tt
      FROM t JOIN wt USING (source) GROUP BY t.source
    ),
    m AS (SELECT tt AS tm, wgt AS wm FROM tot ORDER BY tt * 1.0 / wgt, source LIMIT 1),
    cuts AS (SELECT source, ((10000 * tm * wgt) // (wm * tt)) AS cut FROM tot, m),
    kept AS (
      SELECT t.doc_id, t.source, t.nt FROM t JOIN cuts USING (source)
      WHERE CAST(concat('0x', substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 10000 < cut
    )
    SELECT k.source, x.kl AS kl_vs_corpus, x.wgt AS weight,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(k.nt) AS BIGINT) AS tokens_kept
    FROM kept k JOIN wt x ON x.source = k.source
    GROUP BY k.source, x.kl, x.wgt
    """,
)
def q_kl_reweighted_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The diagnose→act loop the r9 verdict asked for (item 6): the
    per-source unigram-KL skew readout (``unigram_kl_sources_docs``)
    feeds ``sampling.kl_mixture_weights`` (exp(−KL) integer weights,
    DoReMi-shaped), and ``mixture_sample_by_tokens`` MATERIALIZES the
    re-balanced sample those weights imply — sources that read like the
    pooled corpus keep their tokens, skewed sources are exponentially
    down-weighted. Output per surviving source: (source, kl_vs_corpus,
    weight, n_docs_kept, tokens_kept).

    The oracle recomputes the whole loop — KL, the decimal half-up
    weight, the binding source, the integer cuts, and the md5
    membership — so the kept counts hash-match EXACTLY (the
    token_mixture_sample_docs discipline, not a bounded check).

    Scale shape: one (source, word) combinable KL aggregate (the
    vocab-partial shuffle of unigram_kl_by_source), a |sources|-row
    collect for the plan arithmetic (metadata-scale by nature, like
    every mixture plan), one per-source token-total aggregate, then the
    sample itself is a pushed-down md5 filter on the scan — the corpus
    never shuffles.
    """
    from .functions import token_count
    from .operators import sampling

    docs = read_table(spark, sf_dir, "documents").repartition(_par(spark))
    kl_rows = (
        text.unigram_kl_by_source(docs, "source", "text")
        .select("source", "kl_vs_corpus")
        .collect()
    )
    kl = {r["source"]: float(r["kl_vs_corpus"]) for r in kl_rows}
    weights = sampling.kl_mixture_weights(kl)
    kept = sampling.mixture_sample_by_tokens(
        docs, "doc_id", "source", weights, n_tokens=token_count(F.col("text"))
    )
    agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum(token_count(F.col("text"))).cast("long").alias("tokens_kept"),
    )
    meta = local_frame(
        spark,
        [(s, kl[s], int(weights[s])) for s in sorted(kl)],
        "source string, kl_vs_corpus double, weight long",
    )
    return agg.join(F.broadcast(meta), "source").select(
        "source", "kl_vs_corpus", "weight", "n_docs_kept", "tokens_kept"
    )
