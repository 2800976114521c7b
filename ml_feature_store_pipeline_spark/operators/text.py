"""Text analysis operators (north-star, BASELINE.json): token counting,
language id, quality scoring, document fingerprinting.

All pure Column expressions — a 100 TB documents scan stays entirely in
whole-stage codegen; nothing here crosses into Python per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import local_frame, ngrams, token_count, tokens

#: Tiny per-language stopword lists for the n-gram/stopword-ratio heuristic.
#: Deliberately small + hardcoded: portable to the SQL oracle verbatim.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "y"],
}

#: BPE-ish token estimate: words + digit runs + punctuation marks each count.
BPEISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc surface statistics: chars, whitespace tokens, BPE-ish token
    estimate, mean word length, punctuation ratio, digit ratio."""
    text = F.col(text_col)
    toks = tokens(text)
    n_chars = F.length(text)
    # count regex matches by split-length (regexp_extract_all exists too but
    # split keeps the oracle SQL identical in shape)
    n_punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    n_digit = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    bpeish = F.size(F.regexp_extract_all(text, F.lit(BPEISH_PATTERN), 0))
    return df.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars"),
        token_count(text).alias("n_tokens"),
        bpeish.cast("long").alias("n_tokens_bpeish"),
        (
            (n_chars - F.length(F.regexp_replace(text, r"\s", "")))
        ).cast("long").alias("n_whitespace"),
        F.when(F.size(toks) > 0, F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / F.size(toks))
        .otherwise(F.lit(0.0))
        .alias("mean_token_len"),
        (n_punct / F.greatest(n_chars, F.lit(1))).alias("punct_ratio"),
        (n_digit / F.greatest(n_chars, F.lit(1))).alias("digit_ratio"),
    )


def stopword_hits(text: Column, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang``."""
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens(F.lower(text)), lambda t: t.isin(words)))


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-ratio language guess: the language with the most stopword
    hits wins; 'und' (undetermined) when nothing hits. Deterministic
    tie-break by language code order."""
    text = F.col(text_col)
    hit_cols = [stopword_hits(text, lang).alias(f"hits_{lang}") for lang in STOPWORDS]
    scored = df.select(F.col(id_col), text.alias("__t"), *hit_cols)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in STOPWORDS])
    guess = F.lit("und")
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        guess = F.when((F.col(f"hits_{lang}") == best) & (best > 0), F.lit(lang)).otherwise(guess)
    return scored.select(
        F.col(id_col),
        guess.alias("lang_guess"),
        *[F.col(f"hits_{lang}").cast("long").alias(f"hits_{lang}") for lang in STOPWORDS],
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic document quality in [0,1]: penalize too-short/too-long docs,
    high punctuation/digit density, low stopword ratio, short mean words.
    The standard cheap pre-filter in training-data pipelines."""
    text = F.col(text_col)
    n_tok = token_count(text)
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", "")) / F.greatest(
        F.length(text), F.lit(1)
    )
    digit = F.length(F.regexp_replace(text, r"[^0-9]", "")) / F.greatest(F.length(text), F.lit(1))
    stop_ratio = stopword_hits(text, "en") / F.greatest(n_tok, F.lit(1))
    len_score = F.when(n_tok < 5, n_tok / 5.0).when(n_tok > 5000, F.lit(0.5)).otherwise(F.lit(1.0))
    score = (
        len_score
        * (F.lit(1.0) - F.least(punct * 2, F.lit(1.0)))
        * (F.lit(1.0) - F.least(digit * 2, F.lit(1.0)))
        * (F.lit(0.5) + F.least(stop_ratio * 2, F.lit(0.5)))
    )
    return df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        F.round(score, 6).alias("quality_score"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Normalized content fingerprints: md5 of the raw text and of the
    whitespace-normalized lowercase text (robust to spacing/case edits)."""
    text = F.col(text_col)
    normalized = F.concat_ws(" ", tokens(F.lower(text)))
    return df.select(
        F.col(id_col),
        F.md5(text).alias("fp_raw"),
        F.md5(normalized).alias("fp_normalized"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token windows — the pre-tokenizer
    chunking step of an LLM training/RAG pipeline.

    Chunks start every ``chunk_tokens - overlap`` tokens; the final chunk
    may be short but is never empty; token-less docs produce no chunks.
    Everything is array slicing inside codegen (``sequence`` + ``slice`` +
    ``posexplode``) — no UDF, no shuffle; output grows ~1/(1-overlap ratio)×
    the token count, linear in corpus size. The tokens are their own
    projection: the slicing lambda reads that column, where a lambda over
    the :func:`tokens` expression would re-split the text per chunk.

    Returns (id, chunk_id, n_chunk_tokens, chunk_text).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.col("__toks")
    n = F.size(toks)
    # chunk starts: 1, 1+stride, ... — last start covers the tail
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        # short docs (n <= overlap) still get one chunk
        F.greatest(F.floor((n - F.lit(overlap) - 1) / stride) + 1, F.lit(1))
    )
    starts = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    chunks = F.transform(starts, lambda i: F.slice(toks, i * stride + 1, chunk_tokens))
    return (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
        .select(F.col(id_col), n_chunks.alias("__nc"), F.posexplode(chunks))
        .filter((F.col("__nc") > 0) & (F.col("pos") < F.col("__nc")))
        .select(
            F.col(id_col),
            F.col("pos").cast("int").alias("chunk_id"),
            F.size("col").cast("int").alias("n_chunk_tokens"),
            F.concat_ws(" ", "col").alias("chunk_text"),
        )
    )


PII_PATTERNS: dict[str, str] = {
    # order matters: emails before bare digit runs
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "long_digits": r"\d{7,}",
}


def scrub_pii(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    replacement_fmt: str = "<{kind}>",
) -> DataFrame:
    """Mask emails, URLs, and long digit runs — the minimum scrub before
    text enters a training corpus. Chained ``regexp_replace`` (codegen, no
    UDF); returns (id, scrubbed text, per-kind match counts) so the scrub
    is auditable."""
    scrubbed = F.col(text_col)
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(
            F.size(F.regexp_extract_all(scrubbed, F.lit(pat), F.lit(0)))
            .cast("bigint").alias(f"n_{kind}")
        )
        scrubbed = F.regexp_replace(scrubbed, pat, replacement_fmt.format(kind=kind))
    return df.select(F.col(id_col), *counts, scrubbed.alias("scrubbed_text"))


def repetition_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 2,
) -> DataFrame:
    """C4/Gopher-style repetition quality signals per document:

    - ``top_ngram_frac``: occurrences of the single most-repeated word
      n-gram ÷ total n-grams (boilerplate/spam indicator);
    - ``dup_ngram_frac``: fraction of n-gram occurrences that are repeats
      of an already-seen n-gram.

    Shape: explode n-grams → per-(doc, gram) counts → per-doc max/sum —
    two partial-aggregated shuffles of narrow rows, linear in token count.
    Token-less/short docs get 0.0 (nothing to repeat).
    """
    exploded = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks")).select(
        F.col(id_col), F.explode_outer(ngrams(F.col("__toks"), ngram)).alias("gram")
    )
    per_gram = exploded.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("n"))
    return per_gram.groupBy(id_col).agg(
        F.coalesce(
            F.max(F.when(F.col("gram").isNotNull(), F.col("n"))) / F.sum("n"), F.lit(0.0)
        ).alias("top_ngram_frac"),
        F.coalesce(
            F.sum(F.when(F.col("gram").isNotNull(), F.col("n") - 1))
            / F.sum(F.when(F.col("gram").isNotNull(), F.col("n"))),
            F.lit(0.0),
        ).alias("dup_ngram_frac"),
    )


def tfidf_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_df: int = 1,
    lowercase: bool = True,
) -> DataFrame:
    """Exact TF-IDF per (doc, term) — the transparent, oracle-checkable twin
    of MLlib's HashingTF+IDF (``mlfeatures.tfidf_vectors``), with real terms
    instead of hash buckets (usable for keyword extraction / topic slices).

    Output: (id, term, tf, df_t, tfidf) with sklearn-style smooth idf
    ``ln((1+N)/(1+df)) + 1``. Shapes: one explode + two partial-aggregated
    groupBys (doc-term, then term); N broadcasts as a 1-row literal. The
    term-frequency table is linear in corpus tokens — never densified into
    per-doc vectors.

    ``min_df`` prunes hapax/noise terms early (df < min_df dropped AFTER
    df is computed, so idf stays corpus-true).
    """
    toks = tokens(F.col(text_col))
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
    dt = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = dt.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    if min_df > 1:
        df_t = df_t.filter(F.col("df_t") >= min_df)
    n_docs = df.select(F.countDistinct(id_col).alias("__n"))
    return (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df_t",
            (
                F.col("tf")
                * (F.log((F.lit(1.0) + F.col("__n")) / (F.lit(1.0) + F.col("df_t"))) + F.lit(1.0))
            ).alias("tfidf"),
        )
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str | None = None,
    *,
    token_budget: int,
    n_groups: int = 256,
    n_tokens_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Assign every document to a fixed-token-budget pack — LLM-pretraining
    sequence packing (concatenate short docs into one training sequence so
    padding doesn't dominate the batch).

    Packing is inherently sequential (each doc's pack depends on the running
    remainder), so it can't be a window cumsum; the scale shape is
    PARTITIONED GREEDY: docs are split into ``n_groups`` md5-hash groups
    (pure function of the id — stable under any partitioning/engine), and
    each group packs independently with next-fit over its ids in sorted
    order. Cross-group packing freedom is given up for parallelism — the
    standard trade in distributed packing, and with n_docs >> n_groups the
    fill-ratio loss is at most one partial pack per group.

    The Python stage sees ONLY (id, n_tokens, group) — 24-byte rows, never
    text — via ``applyInPandas`` keyed on the group, so state is one
    group's id list, bounded by n_docs/n_groups: size ``n_groups`` so that
    fits one executor. Token counts are JVM-side codegen.

    Semantics: next-fit over ascending ids — a doc joins the current pack
    if it fits, else opens a new one; a doc longer than the budget gets a
    pack of its own (never split — splitting is `chunk_documents`).
    ``pack_id = group * 2^32 + seq`` is globally unique and deterministic.

    Returns (id_col, n_tokens, pack_id); join back on ``id_col`` for texts.
    """
    import pandas as pd

    from ..functions import token_count as _tc
    from .sampling import hash_bucket

    if (text_col is None) == (n_tokens_col is None):
        raise ValueError("exactly one of text_col / n_tokens_col is required")
    n_tok = (
        F.col(n_tokens_col).cast("long") if n_tokens_col else _tc(F.col(text_col))
    )
    counts = df.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        hash_bucket(F.col(id_col), n_groups, salt).alias("__g"),
    )
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, n_tokens long, pack_id long"
    budget = int(token_budget)

    def pack_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, ignore_index=True)
        g = int(pdf["__g"].iloc[0])
        seq = 0
        used = 0
        n_members = 0
        packs = []
        for nt in pdf["n_tokens"].to_numpy():
            # pack-occupancy check must count MEMBERS, not tokens: with
            # `used > 0` a zero-token doc leaves the pack looking empty and
            # an oversized doc then joins it instead of opening its own
            # pack (hypothesis-found: counts=[0, 2], budget=1)
            if n_members > 0 and used + nt > budget:
                seq += 1
                used = 0
                n_members = 0
            used += nt
            n_members += 1
            packs.append((g << 32) | seq)
        pdf["pack_id"] = pd.Series(packs, dtype="int64")
        return pdf[[id_col, "n_tokens", "pack_id"]]

    return counts.groupBy("__g").applyInPandas(pack_group, schema=out_schema)


def pack_stats(assignment: DataFrame, token_budget: int) -> DataFrame:
    """Per-pack rollup of a ``pack_sequences`` assignment: doc count, tokens
    used, and fill ratio against the budget (the padding-waste metric the
    packing exists to optimize)."""
    return assignment.groupBy("pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_used"),
        (F.sum("n_tokens") / F.lit(float(token_budget))).alias("fill_ratio"),
    )


def char_ngrams(text: Column, n: int = 3, *, lowercase: bool = True) -> Column:
    """Array of overlapping character n-grams of ``text`` (the CCNet-style
    LM unit), no UDF. Empty array for NULL text and texts shorter than
    ``n`` characters.

    :func:`..functions.ngrams` over the text's characters (``split`` on
    the empty pattern yields code points, the unit ``length`` and
    ``substring`` count in). No lambda references the text: a
    ``transform`` over positions calling ``substring(lower(text), i, n)``
    re-evaluates ``lower(text)`` for every gram. The lowercase is taken
    of the whole text, before the split, so the grams are those of the
    lowercased text also where a character's lowercase is longer
    (``İ`` → ``i̇``)."""
    t = F.lower(text) if lowercase else text
    chars = F.when(F.length(t) >= n, F.split(t, ""))
    return ngrams(chars, n, sep="")


def char_ngram_model(
    corpus: DataFrame, text_col: str, *, n: int = 3, lowercase: bool = True
) -> DataFrame:
    """Train a character-n-gram count model: one row ``(gram, cnt)``.

    This is the model half of the CCNet recipe (Wenzek et al. 2020 —
    public): score documents by a small LM over a reference corpus and
    gate/bucket on perplexity. A char-trigram table is bounded by
    |alphabet|**n regardless of corpus size, so the groupBy partial-
    aggregates to a dim-sized table (≤ ~1M rows for printable text) —
    the 100 TB shuffle carries 3-char grams + partial counts, never text.
    """
    return (
        corpus.select(F.explode(char_ngrams(F.col(text_col), n, lowercase=lowercase)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def lm_score(
    docs: DataFrame,
    model: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    lowercase: bool = True,
    round_digits: int = 6,
) -> DataFrame:
    """Score each document's cross-entropy under a :func:`char_ngram_model`
    — the quality/fluency signal LLM pipelines bucket and filter on.

    Add-one smoothing over the model's vocabulary plus one unseen type:
    ``logprob(g) = ln(cnt_g + 1) − ln(total + V + 1)`` (unseen grams get
    ``cnt_g = 0``). Output: ``(id, n_grams, xent)`` with
    ``xent = −avg(logprob)`` in nats, rounded for engine-stable hashing
    (the float sum's last-ulp drift is ~1e−13 relative; six digits is
    three orders of margin). Docs shorter than ``n`` chars emit no row.

    Scale shape: the model and its 1-row (total, V) aggregate broadcast
    (dim-sized by construction); the doc side explodes to grams but
    partial-aggregates back to one row per doc per partition before the
    ONLY data-sized shuffle (doc_id, partial sums). ``exp(xent)`` is
    perplexity if you want the familiar units downstream.
    """
    grams = docs.select(
        F.col(id_col), F.explode(char_ngrams(F.col(text_col), n, lowercase=lowercase)).alias("gram")
    )
    totals = model.agg(
        F.sum("cnt").alias("__total"), F.count(F.lit(1)).alias("__v")
    )
    lp = (
        F.log(F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0))
        - F.log(F.col("__total") + F.col("__v") + F.lit(1.0))
    )
    return (
        grams.join(F.broadcast(model), "gram", "left")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(-F.avg(lp), round_digits).alias("xent"),
        )
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher rule-based document filter (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): the classic per-document heuristics that
    gate a web corpus BEFORE any model-based scoring — word-count bounds,
    mean-word-length band, symbol-to-word ratio ('#'/'…' spam), the
    fraction of words containing a letter, and a minimum stopword count
    (English list, matching the paper's "contains ≥2 of a small stopword
    set" rule). Unlike :func:`quality_score` (one blended number for
    RANKING), this emits each rule as its own boolean so a pipeline can
    audit which rule fires and tune thresholds per source; ``keep`` is
    their conjunction.

    All pure Column expressions over one tokenization — a 100 TB scan
    stays in whole-stage codegen with zero shuffles (no aggregation at
    all: the filter is embarrassingly row-parallel).

    Ratio columns are rounded to 6dp so downstream hash comparison is
    engine-stable; the rule booleans compare the UNrounded values, and
    thresholds sit far from representable-float boundaries in practice
    (the rules are heuristics — a doc at exactly the boundary is a coin
    flip you should not be relying on).
    """
    text = F.col(text_col)
    toks = tokens(text)
    n_words = F.size(toks).cast("long")
    total_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t))
    mean_wl = F.when(n_words > 0, total_len / n_words).otherwise(F.lit(0.0))
    n_symbol = F.size(F.regexp_extract_all(text, F.lit(r"[#…]|\.\.\."), 0)).cast("long")
    sym_ratio = F.when(n_words > 0, n_symbol / n_words).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("long")
    alpha_frac = F.when(n_words > 0, n_alpha / n_words).otherwise(F.lit(0.0))
    stop_hits = stopword_hits(text, "en").cast("long")
    rule_n_words = (n_words >= min_words) & (n_words <= max_words)
    rule_word_len = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    rule_symbol = sym_ratio <= max_symbol_word_ratio
    rule_alpha = alpha_frac >= min_alpha_word_frac
    rule_stop = stop_hits >= min_stopword_hits
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_word_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
        rule_n_words.alias("rule_n_words"),
        rule_word_len.alias("rule_word_len"),
        rule_symbol.alias("rule_symbol"),
        rule_alpha.alias("rule_alpha"),
        rule_stop.alias("rule_stop"),
        (rule_n_words & rule_word_len & rule_symbol & rule_alpha & rule_stop).alias(
            "keep"
        ),
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    *,
    top_n: int = 1000,
) -> DataFrame:
    """Corpus vocabulary head: the ``top_n`` most frequent whitespace
    tokens with their corpus counts, frequency rank (count-desc,
    word-asc tiebreak), and CUMULATIVE coverage — the fraction of all
    token occurrences a vocabulary truncated at that rank would cover.
    The first question tokenizer training asks of a corpus ("how big a
    vocab covers 95%?"), and a cheap drift signal between snapshots.

    Returns (word, n_occ, rank, cum_frac). Counts are exact integers and
    ``cum_frac`` divides exact integer partial sums by the exact total,
    so every engine agrees bit-for-bit.

    Scale shape: explode → groupBy(word) is map-side combinable (the
    shuffle carries one partial count per distinct word per partition);
    the top-n cut is TakeOrderedAndProject (never a full sort); only the
    ≤ ``top_n`` surviving rows pass through the single-partition running
    -sum window, which is the bounded-small-data case where one
    partition is correct, not a bottleneck. The corpus-total count is a
    scalar crossJoin (broadcast).
    """
    words = df.select(F.explode(tokens(F.col(text_col))).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    total = counts.agg(F.sum("n_occ").alias("__total"))
    top = counts.orderBy(F.desc("n_occ"), F.asc("word")).limit(top_n)
    w = Window.orderBy(F.desc("n_occ"), F.asc("word"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_frac",
            F.round(F.sum("n_occ").over(w) / F.col("__total"), 6),
        )
        .select("word", "n_occ", "rank", "cum_frac")
    )


def quality_calibrate(
    df: DataFrame,
    id_col: str,
    score_col: str,
    group_col: str,
    *,
    round_digits: int = 6,
    strategy: str = "exact",
    n_buckets: int = 256,
) -> DataFrame:
    """Per-group score calibration: each row's ``percent_rank`` of
    ``score_col`` WITHIN its ``group_col`` (source, domain, language).
    Raw quality scores are not comparable across domains — legal text
    scores systematically lower than encyclopedia text on the same
    heuristics — so corpus pipelines threshold the within-domain
    percentile instead (the CCNet move: per-domain perplexity *buckets*,
    not one global cutoff). ``keep score_pct >= 0.8`` then means "the
    best 20% of EVERY source", never "everything from the easiest one".

    Returns (id, group, score, score_pct). The rank runs over the
    ``round_digits``-rounded score so engines agree on ties (percent_rank
    gives tied values identical ranks — no id tiebreak needed, making the
    output a pure function of the score multiset per group).

    Scale shape: the default ``strategy="exact"`` is one window
    partitioned by group — the biggest task sorts ~N/|groups| rows.
    ``strategy="sketch"`` is the few-group 100 TB path: bucket-granular
    percentile from :func:`~.sketches.histogram_percentile_rank` (one
    map-side-combined aggregate + broadcast join, NO row ever shuffles;
    error ≤ one bucket's mass, registered + oracle-checked as
    ``quality_calibrated_sketch_docs``).
    """
    score = F.round(F.col(score_col), round_digits)
    if strategy == "sketch":
        from .sketches import histogram_percentile_rank

        base = df.select(F.col(id_col), F.col(group_col), score.alias(score_col))
        return histogram_percentile_rank(
            base, score_col, group_col=group_col, n_buckets=n_buckets,
            out_col="score_pct",
        ).select(id_col, group_col, score_col, "score_pct")
    if strategy != "exact":
        raise ValueError(f"strategy must be 'exact' or 'sketch', got {strategy!r}")
    w = Window.partitionBy(group_col).orderBy(score)
    return df.select(
        F.col(id_col),
        F.col(group_col),
        score.alias(score_col),
        F.round(F.percent_rank().over(w), round_digits).alias("score_pct"),
    )


#: GPT-2-style pre-tokenizer pattern, lookahead-free so RE2 (DuckDB) can
#: replay it exactly: contractions, space-prefixed letter runs,
#: space-prefixed digit runs, space-prefixed punctuation runs, whitespace
#: runs. The published GPT-2 pattern's `\s+(?!\S)` trailing-space lookahead
#: is dropped (RE2 has no lookahead) — whitespace runs tokenize as single
#: units instead, which only differs on multi-space input. Both Java regex
#: and RE2 use leftmost-first alternation, so the two engines split
#: identically.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_pretokens(text: Column) -> Column:
    """GPT-2-style pre-tokens (the units BPE merges never cross), as an
    array<string>. Leading spaces stay attached to their word — the Ġ
    convention — so round-tripping ``concat(pretokens)`` reproduces the
    input exactly."""
    return F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_RE), 0)


def bpe_token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token-budget accounting under a BPE-style pre-tokenizer: per doc,
    the pre-token count next to the whitespace-token count and their
    ratio — the cheap estimator for "how many model tokens will this
    corpus cost" before any real tokenizer runs (pre-tokens lower-bound
    BPE tokens: merges only ever split pre-tokens further, never join).

    Returns (id, n_pretokens, n_ws_tokens, pretokens_per_word). Pure
    Column expressions — zero shuffles, scan-parallel at any size.
    """
    pre = F.size(bpe_pretokens(F.col(text_col))).cast("long")
    ws = token_count(F.col(text_col))
    return df.select(
        F.col(id_col),
        pre.alias("n_pretokens"),
        ws.alias("n_ws_tokens"),
        F.round(pre / F.greatest(ws, F.lit(1)), 6).alias("pretokens_per_word"),
    )


def bpe_pair_stats(
    df: DataFrame,
    text_col: str,
    *,
    top_n: int = 100,
) -> DataFrame:
    """The first step of BPE training: corpus-wide counts of adjacent
    character pairs WITHIN pre-tokens (merges never cross pre-token
    boundaries). The top pair is the first merge a BPE trainer would
    learn; the table doubles as a drift signal between corpus snapshots.

    Returns (left, right, n_occ, rank) for the ``top_n`` most frequent
    pairs, rank by (count desc, left asc, right asc) — exact integers,
    engine-stable.

    Scale shape: two nested explodes (doc → pre-tokens → char pairs) feed
    one map-side-combinable groupBy — the shuffle carries |alphabet|²
    partials per partition, never corpus positions; the top-n cut is
    TakeOrderedAndProject. One full-corpus scan total.
    """
    toks = df.select(F.explode(bpe_pretokens(F.col(text_col))).alias("__t"))
    n = F.length("__t")
    pairs = toks.filter(n >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.struct(
                    F.col("__t").substr(i, F.lit(1)).alias("left"),
                    F.col("__t").substr(i + 1, F.lit(1)).alias("right"),
                ),
            )
        ).alias("p")
    ).select("p.left", "p.right")
    counts = pairs.groupBy("left", "right").agg(
        F.count(F.lit(1)).cast("long").alias("n_occ")
    )
    top = counts.orderBy(
        F.desc("n_occ"), F.asc("left"), F.asc("right")
    ).limit(top_n)
    w = Window.orderBy(F.desc("n_occ"), F.asc("left"), F.asc("right"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "left", "right", "n_occ", "rank"
    )


def corpus_duplication_rate(
    df: DataFrame,
    text_col: str,
    *,
    ngram: int = 8,
) -> DataFrame:
    """Corpus-level n-gram duplication rate: of all ``ngram``-token windows
    in the corpus, what fraction are repeats of a window seen elsewhere
    (``dup_frac = 1 − distinct/total``), plus the share of windows whose
    text occurs ≥10×. THE one-number health check dedup pipelines trend
    per snapshot — Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better") motivates exactly this measurement; unlike
    :func:`repetition_stats` (within-document), this is ACROSS documents.

    Returns one row: (n_ngrams, n_distinct, dup_frac, heavy_frac). All
    counts exact; fractions are 6-dp ratios of exact integers.

    Scale shape: explode → md5 digest → one map-side-combined groupBy on
    the digest (the shuffle carries 16-byte digests with partial counts,
    never window text), then a scalar aggregate.
    """
    grams = (
        df.select(tokens(F.col(text_col)).alias("__toks"))
        .select(F.explode(ngrams(F.col("__toks"), ngram)).alias("__g"))
        .select(F.md5("__g").alias("__d"))
    )
    counts = grams.groupBy("__d").agg(F.count(F.lit(1)).cast("long").alias("__n"))
    return counts.agg(
        F.sum("__n").cast("long").alias("n_ngrams"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("__n"), 6).alias("dup_frac"),
        F.round(
            F.sum(F.when(F.col("__n") >= 10, F.col("__n")).otherwise(F.lit(0)))
            / F.sum("__n"),
            6,
        ).alias("heavy_frac"),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str,
    *,
    top_n: int = 1000,
    round_digits: int = 6,
) -> DataFrame:
    """Zipf's-law fit over the vocabulary head: OLS of ``ln(count)`` on
    ``ln(rank)`` for the ``top_n`` most frequent tokens. Natural text runs
    a slope near −1; templated/synthetic/boilerplate corpora flatten
    toward 0 — a one-row drift signal between corpus snapshots and a
    cheap "does this source look like natural language" check.

    Returns (n_words, zipf_slope, zipf_intercept, r2). The regression
    runs on ≤ ``top_n`` (rank, count) pairs — bounded-small by
    construction — with the sums in exact decimal over 9-dp-rounded logs
    (the :func:`~.fe.trend_slope` recipe), so both engines agree.
    """
    head = vocab_coverage(df, text_col, top_n=top_n).select(
        F.round(F.log(F.col("rank").cast("double")), 9).alias("__x"),
        F.round(F.log(F.col("n_occ").cast("double")), 9).alias("__y"),
    )
    # DECIMAL(12,9): logs of counts/ranks are < 1e3, and 12+12 digit
    # products stay inside both engines' 38-digit cap EXACTLY (20,9 squares
    # would hit Spark's precision-loss reduction and DuckDB's width error)
    x9 = F.col("__x").cast("decimal(12,9)")
    y9 = F.col("__y").cast("decimal(12,9)")
    agg = head.agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(x9).alias("__sx"),
        F.sum(y9).alias("__sy"),
        F.sum((x9 * x9).cast("decimal(38,18)")).alias("__sxx"),
        F.sum((x9 * y9).cast("decimal(38,18)")).alias("__sxy"),
        F.sum((y9 * y9).cast("decimal(38,18)")).alias("__syy"),
    )
    n = F.col("n_words").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxx, sxy, syy = (
        F.col("__sxx").cast("double"),
        F.col("__sxy").cast("double"),
        F.col("__syy").cast("double"),
    )
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / den
    intercept = (sy - slope * sx) / n
    ss_res = syy - sy * sy / n - slope * slope * den / n
    ss_tot = syy - sy * sy / n
    r2 = F.when(ss_tot > 0, F.lit(1.0) - ss_res / ss_tot).otherwise(F.lit(1.0))
    return agg.select(
        "n_words",
        F.round(slope, round_digits).alias("zipf_slope"),
        F.round(intercept, round_digits).alias("zipf_intercept"),
        F.round(r2, round_digits).alias("r2"),
    )


#: accumulator separator for the BPE merge fold — a control char no
#: pre-tokenizer class emits for normal text (documented assumption:
#: corpora containing \x01 must pre-scrub it)
_BPE_ACC_SEP = "\x01"


def _bpe_merge_fold(sym_str: Column, left: str, right: str, merged: str) -> Column:
    """Apply ONE learned merge to a space-joined symbol string with the
    exact left-to-right list-walk semantics (a merged symbol never
    re-merges in the same pass): a string fold whose accumulator encodes
    ``emitted || \\x01 || pending``. Plain string replace can NOT do this
    — back-to-back occurrences share the boundary space and a scan that
    consumes it skips every second merge (chains like ``a b a b`` come
    out half-merged)."""
    arr = F.split(sym_str, " ")
    init = F.lit(_BPE_ACC_SEP)

    def step(acc: Column, x: Column) -> Column:
        out = F.substring_index(acc, _BPE_ACC_SEP, 1)
        pend = F.substring_index(acc, _BPE_ACC_SEP, -1)
        return (
            F.when(pend == F.lit(""), F.concat(acc, x))
            .when(
                (pend == F.lit(left)) & (x == F.lit(right)),
                F.concat(out, F.lit(" " + merged), F.lit(_BPE_ACC_SEP)),
            )
            .otherwise(F.concat(out, F.lit(" "), pend, F.lit(_BPE_ACC_SEP), x))
        )

    def finish(acc: Column) -> Column:
        out = F.substring_index(acc, _BPE_ACC_SEP, 1)
        pend = F.substring_index(acc, _BPE_ACC_SEP, -1)
        return F.ltrim(
            F.concat(out, F.when(pend != "", F.concat(F.lit(" "), pend)).otherwise(F.lit("")))
        )

    return F.aggregate(arr, init, step, finish)


def _bpe_symbol_corpus(df: DataFrame, text_col: str) -> DataFrame:
    """Explode documents to pre-tokens and lay each out as a space-joined
    character-symbol string ('Ġhello' → 'Ġ h e l l o'); leading spaces
    become the GPT-2 Ġ marker so the space separator stays unambiguous."""
    tok = F.regexp_replace(F.col("__t"), " ", "Ġ")
    chars = F.transform(
        F.sequence(F.lit(1), F.length(tok)), lambda i: F.substring(tok, i, 1)
    )
    return (
        df.select(F.explode(bpe_pretokens(F.col(text_col))).alias("__t"))
        .filter(F.length("__t") >= 1)
        .select(F.concat_ws(" ", chars).alias("sym"))
    )


def bpe_train(
    df: DataFrame,
    text_col: str,
    *,
    n_merges: int = 4,
) -> DataFrame:
    """Distributed BPE TRAINING, not just the first-pair diagnostic
    (:func:`bpe_pair_stats`): learn ``n_merges`` merges over the corpus
    exactly as Sennrich et al. 2016 — count adjacent symbol pairs within
    pre-tokens, take the most frequent (count desc, then pair asc — ties
    pinned), apply it left-to-right, repeat. Returns the merge table
    (merge_rank, left, right, merged, n_occ).

    Engine-replayable end to end: pair counts are exact integers, the
    argmax tie rule is total, and the merge APPLICATION is the string
    fold of :func:`_bpe_merge_fold` — deterministic list-walk semantics
    both engines express identically (oracle: the same iterations
    unrolled as CTEs, the pagerank/MMR pattern).

    Scale shape per merge: one corpus scan (pair explode → map-side-
    combined count, shuffling |symbol-vocab|² partials), one 1-row
    collect, one fold projection; the folded corpus is localCheckpoint'd
    so iteration k+1 scans data, not k stacked fold plans. The
    checkpoints are LAZY (eager=False): merge k's pair-count job is the
    action that materializes fold k−1, so each merge costs ONE job
    instead of three (measured 4.3 → 2.6 s at sf0.1 — the eager path
    paid a separate materialization job per fold plus a final fold of a
    corpus nothing ever read again). Real tokenizers run thousands of
    merges — at that depth keep the corpus checkpointed exactly like
    this and batch the counts (the per-merge structure is unchanged;
    only the loop is longer).
    """
    corpus = _bpe_symbol_corpus(df, text_col).localCheckpoint(eager=False)
    out: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        arr = F.split(F.col("sym"), " ")
        n = F.size(arr)
        pairs = corpus.filter(n >= 2).select(
            F.explode(
                F.arrays_zip(
                    F.slice(arr, 1, n - 1).alias("l"),
                    F.slice(arr, 2, n - 1).alias("r"),
                )
            ).alias("p")
        )
        counts = pairs.groupBy(
            F.col("p.l").alias("left"), F.col("p.r").alias("right")
        ).agg(F.count(F.lit(1)).alias("n_occ"))
        top = counts.orderBy(
            F.desc("n_occ"), F.asc("left"), F.asc("right")
        ).limit(1).collect()
        if not top:
            break
        left, right, n_occ = top[0]["left"], top[0]["right"], int(top[0]["n_occ"])
        merged = left + right
        out.append((rank, left, right, merged, n_occ))
        corpus = corpus.select(
            _bpe_merge_fold(F.col("sym"), left, right, merged).alias("sym")
        ).localCheckpoint(eager=False)
    return local_frame(
        df.sparkSession, out, "merge_rank int, left string, right string, merged string, n_occ long"
    )


def bpe_train_sql(
    docs_table: str,
    text_col: str,
    *,
    n_merges: int = 4,
) -> str:
    """DuckDB oracle for :func:`bpe_train`: the same merges unrolled —
    per iteration a pair-count CTE, a 1-row argmax CTE, and a corpus CTE
    applying the fold via ``list_reduce`` with the argmax cross-joined in
    (the accumulator encoding is byte-identical to the Spark fold;
    probe-verified: init sentinel as a prepended list element, struct
    fields by numeric index)."""
    sep = "chr(1)"
    re_esc = BPE_PRETOKEN_RE.replace("'", "''")
    parts = [
        f"""toks AS (
      SELECT replace(UNNEST(regexp_extract_all({text_col}, '{re_esc}')), ' ', 'Ġ') AS t
      FROM {docs_table}
    )""",
        """c0 AS (
      SELECT array_to_string(list_transform(range(1, length(t) + 1), i -> substr(t, i, 1)), ' ') AS sym
      FROM toks WHERE length(t) >= 1
    )""",
    ]
    for k in range(1, n_merges + 1):
        prev = f"c{k-1}"
        parts.append(
            f"""p{k} AS (
      SELECT u[1] AS left_, u[2] AS right_, COUNT(*) AS n_occ
      FROM (
        SELECT UNNEST(list_zip(a[1:len(a)-1], a[2:len(a)])) AS u
        FROM (SELECT string_split(sym, ' ') AS a FROM {prev}) WHERE len(a) >= 2
      )
      GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"m{k} AS (SELECT left_, right_, left_ || right_ AS merged, n_occ FROM p{k} ORDER BY n_occ DESC, left_ ASC, right_ ASC LIMIT 1)"
        )
        parts.append(
            f"""c{k} AS (
      SELECT ltrim(
        split_part(acc, {sep}, 1) ||
        CASE WHEN split_part(acc, {sep}, 2) <> ''
             THEN ' ' || split_part(acc, {sep}, 2) ELSE '' END
      ) AS sym
      FROM (
        SELECT list_reduce(
          [{sep}] || string_split(sym, ' '),
          (acc, x) -> CASE
            WHEN split_part(acc, {sep}, 2) = '' THEN acc || x
            WHEN split_part(acc, {sep}, 2) = m.left_ AND x = m.right_
              THEN split_part(acc, {sep}, 1) || ' ' || m.merged || {sep}
            ELSE split_part(acc, {sep}, 1) || ' ' || split_part(acc, {sep}, 2) || {sep} || x
          END
        ) AS acc
        FROM {prev} CROSS JOIN m{k} m
      )
    )"""
        )
    union = " UNION ALL ".join(
        f'SELECT CAST({k} AS INT) AS merge_rank, left_ AS "left", right_ AS "right", merged, CAST(n_occ AS BIGINT) AS n_occ FROM m{k}'
        for k in range(1, n_merges + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


def bpe_encode_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str, str]],
    *,
    round_digits: int = 6,
) -> DataFrame:
    """ENCODE with a learned merge table — the serving half of
    :func:`bpe_train`: apply every (left, right, merged) in rank order
    (each one the exact list-walk fold) and report per-doc token
    accounting: (id, n_pretokens, n_chars, n_tokens,
    chars_per_token) — the compression ratio a tokenizer team actually
    tracks per corpus slice.

    Scale shape: ONE pass — the k folds chain inside a single projection
    over the exploded pre-tokens (no per-merge scans at inference; the
    iteration was training's cost), then a map-side-combinable per-doc
    rollup.
    """
    tok = F.regexp_replace(F.col("__t"), " ", "Ġ")
    chars = F.transform(
        F.sequence(F.lit(1), F.length(tok)), lambda i: F.substring(tok, i, 1)
    )
    exploded = df.select(
        F.col(id_col), F.explode(bpe_pretokens(F.col(text_col))).alias("__t")
    ).filter(F.length("__t") >= 1)
    sym = F.concat_ws(" ", chars)
    for left, right, merged in merges:
        sym = _bpe_merge_fold(sym, left, right, merged)
    staged = exploded.select(
        F.col(id_col),
        F.length(F.regexp_replace(F.col("__t"), " ", "Ġ")).alias("__chars"),
        F.size(F.split(sym, " ")).alias("__toks"),
    )
    return staged.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_pretokens"),
        F.sum("__chars").cast("long").alias("n_chars"),
        F.sum("__toks").cast("long").alias("n_tokens"),
        F.round(F.sum("__chars") / F.sum("__toks"), round_digits).alias(
            "chars_per_token"
        ),
    )


def bpe_encode_stats_sql(
    docs_table: str,
    id_col: str,
    text_col: str,
    *,
    n_merges: int = 4,
) -> str:
    """DuckDB oracle for :func:`bpe_encode_stats` with merges LEARNED IN
    THE SAME QUERY (the m1..mN CTEs of :func:`bpe_train_sql`), so the
    train → encode roundtrip verifies end-to-end: the encode corpus keeps
    doc ids and chains the same list_reduce folds."""
    sep = "chr(1)"
    re_esc = BPE_PRETOKEN_RE.replace("'", "''")
    parts = [
        f"""toks AS (
      SELECT {id_col}, replace(UNNEST(regexp_extract_all({text_col}, '{re_esc}')), ' ', 'Ġ') AS t
      FROM {docs_table}
    )""",
        f"""e0 AS (
      SELECT {id_col},
             array_to_string(list_transform(range(1, length(t) + 1), i -> substr(t, i, 1)), ' ') AS sym,
             length(t) AS n_chars
      FROM toks WHERE length(t) >= 1
    )""",
        # training corpus (id-free) — identical to bpe_train_sql
        "c0 AS (SELECT sym FROM e0)",
    ]
    fold = (
        "list_reduce([{sep}] || string_split(sym, ' '), (acc, x) -> CASE "
        "WHEN split_part(acc, {sep}, 2) = '' THEN acc || x "
        "WHEN split_part(acc, {sep}, 2) = m.left_ AND x = m.right_ "
        "THEN split_part(acc, {sep}, 1) || ' ' || m.merged || {sep} "
        "ELSE split_part(acc, {sep}, 1) || ' ' || split_part(acc, {sep}, 2) || {sep} || x END)"
    )
    finish = (
        "ltrim(split_part(acc, {sep}, 1) || CASE WHEN split_part(acc, {sep}, 2) <> '' "
        "THEN ' ' || split_part(acc, {sep}, 2) ELSE '' END)"
    )
    for k in range(1, n_merges + 1):
        prev = f"c{k-1}"
        parts.append(
            f"""p{k} AS (
      SELECT u[1] AS left_, u[2] AS right_, COUNT(*) AS n_occ
      FROM (
        SELECT UNNEST(list_zip(a[1:len(a)-1], a[2:len(a)])) AS u
        FROM (SELECT string_split(sym, ' ') AS a FROM {prev}) WHERE len(a) >= 2
      )
      GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"m{k} AS (SELECT left_, right_, left_ || right_ AS merged FROM p{k} ORDER BY n_occ DESC, left_ ASC, right_ ASC LIMIT 1)"
        )
        parts.append(
            f"c{k} AS (SELECT {finish.format(sep=sep)} AS sym FROM (SELECT {fold.format(sep=sep)} AS acc FROM {prev} CROSS JOIN m{k} m))"
        )
        # encode corpus: same fold, doc ids carried
        prev_e = f"e{k-1}"
        parts.append(
            f"e{k} AS (SELECT {id_col}, {finish.format(sep=sep)} AS sym, n_chars FROM (SELECT {id_col}, {fold.format(sep=sep)} AS acc, n_chars FROM {prev_e} CROSS JOIN m{k} m))"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT {id_col},
           CAST(COUNT(*) AS BIGINT) AS n_pretokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(len(string_split(sym, ' '))) AS BIGINT) AS n_tokens,
           ROUND(SUM(n_chars) / SUM(len(string_split(sym, ' '))), 6) AS chars_per_token
    FROM e{n_merges} GROUP BY {id_col}
    """
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
) -> DataFrame:
    """Okapi BM25 top-k lexical retrieval (Robertson & Zaragoza 2009) for a
    fixed query-term bag — the keyword side of hybrid search, and the exact,
    oracle-checkable scoring the TF-IDF table (:func:`tfidf_terms`) stops
    short of. Lucene-style nonnegative idf
    ``ln(1 + (N − df + 0.5)/(df + 0.5))``; per-(doc, term) contribution
    ``idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``. Documents
    matching no query term are absent (score would be 0). Output:
    (id, score, rank), rank 1..k by (score desc, id asc).

    Exactness: contributions are 9-dp-rounded doubles summed in
    DECIMAL(20,9) (the DSIR recipe) — the per-doc score is the same exact
    decimal on any engine and any partitioning, so ordering on it is
    deterministic; the cast-to-double output is hash-stable.

    Scale shape: only QUERY-MATCHING tokens explode (the array filter
    runs in codegen before the explode); tf is a map-side-combinable
    (doc, term) aggregate; df and the corpus stats broadcast (≤ |query|
    + 1 rows); top-k is an orderBy().limit() — TakeOrderedAndProject,
    never a single-task global sort. The rank window runs on k rows.
    """
    toks = tokens(F.col(text_col))
    if lowercase:
        toks = F.transform(toks, lambda t: F.lower(t))
        terms = sorted({t.lower() for t in query_terms})
    else:
        terms = sorted(set(query_terms))
    docs = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("__dl"),
        F.filter(toks, lambda t: t.isin(terms)).alias("__hits"),
    )
    stats = docs.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__dl").alias("__total")
    )
    tf = (
        docs.select(F.col(id_col), "__dl", F.explode("__hits").alias("__term"))
        .groupBy(id_col, "__dl", "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    df_t = tf.groupBy("__term").agg(F.count(F.lit(1)).alias("__df"))
    joined = tf.join(F.broadcast(df_t), "__term").crossJoin(F.broadcast(stats))
    avgdl = F.col("__total") / F.col("__n")
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
    )
    denom = F.col("__tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * (F.col("__dl") / avgdl)
    )
    contrib = idf * (F.col("__tf") * F.lit(k1 + 1.0)) / denom
    per_doc = joined.groupBy(id_col).agg(
        F.sum(F.round(contrib, 9).cast("decimal(20,9)")).alias("__s")
    )
    topk = per_doc.orderBy(F.desc("__s"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("__s"), F.asc(id_col))
    return (
        topk.withColumn("rank", F.row_number().over(w))
        .select(
            F.col(id_col),
            F.col("__s").cast("double").alias("score"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def bm25_sql(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB twin of :func:`bm25_topk` (lowercase mode) — identical idf /
    tf-normalization closed form on identical doubles, the same
    DECIMAL(20,9) contribution sum, the same (score desc, id asc) order."""
    terms = ", ".join(f"'{t.lower()}'" for t in sorted({t.lower() for t in query_terms}))
    return f"""
    WITH d AS (
      SELECT {id_col} AS id,
             list_filter(regexp_split_to_array(trim(lower({text_col})), '\\s+'),
                         x -> x <> '') AS ts
      FROM {table}
    ),
    dl AS (SELECT id, CAST(len(ts) AS BIGINT) AS dl, ts FROM d),
    stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS total FROM dl),
    tf AS (
      SELECT id, dl, t.term AS term, COUNT(*) AS tf
      FROM dl, UNNEST(ts) AS t(term) WHERE t.term IN ({terms})
      GROUP BY 1, 2, 3
    ),
    dft AS (SELECT term, COUNT(*) AS dft FROM tf GROUP BY 1),
    scored AS (
      SELECT id,
             SUM(CAST(ROUND(
               LN(1.0 + (n - dft + 0.5) / (dft + 0.5))
                 * (tf * {k1 + 1.0!r})
                 / (tf + {k1!r} * (1.0 - {b!r} + {b!r} * (dl / (total / n)))),
               9) AS DECIMAL(20,9))) AS s
      FROM tf JOIN dft USING (term), stats
      GROUP BY id
    ),
    ranked AS (
      SELECT id, s, ROW_NUMBER() OVER (ORDER BY s DESC, id ASC) AS rank
      FROM scored
    )
    SELECT id AS {id_col}, CAST(s AS DOUBLE) AS score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
    """


def lang_confusion(
    df: DataFrame,
    id_col: str,
    text_col: str,
    truth_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Confusion matrix of :func:`language_id` against a ground-truth
    language column — the calibration readout a heuristic classifier
    needs before it gates a corpus (which languages leak into which).
    One row per observed (lang_true, lang_guess): (n, recall) with
    ``recall = n / total rows of that true language``. NULL truth is
    excluded.

    Scale shape: the guess is a pure codegen projection (the
    ``language_id`` stopword scorer); then ONE map-side-combinable
    (truth, guess) aggregate; per-truth totals re-aggregate from the
    ≤ |langs|² cell table and join broadcast.
    """
    base = df.filter(F.col(truth_col).isNotNull())
    scored = language_id(base, id_col, text_col).join(
        base.select(F.col(id_col), F.col(truth_col).alias("lang_true")), id_col
    )
    cells = scored.groupBy("lang_true", "lang_guess").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = cells.groupBy("lang_true").agg(F.sum("n").alias("__t"))
    return (
        cells.join(F.broadcast(totals), "lang_true")
        .select(
            "lang_true",
            "lang_guess",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("__t"), round_digits).alias("recall"),
        )
    )


def tfidf_doc_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_ids: list[int],
    *,
    k: int = 5,
    min_df: int = 1,
    max_df_frac: float | None = None,
    max_postings: int | str | None = "auto",
    round_digits: int = 6,
) -> DataFrame:
    """Lexical document-to-document similarity: top-``k`` most similar
    corpus documents per query document by TF-IDF cosine over an
    INVERTED-INDEX join — the sparse-vector retrieval that finds topical
    twins where MinHash finds near-copies. Output per (query, match):
    (query_id, doc_id, n_shared_terms, cosine, rank), self-matches
    excluded, rank by (cosine desc, doc_id asc).

    Exactness: per-term weight products and squared weights are
    9-dp-rounded doubles summed in DECIMAL(28,9) (order-free across the
    term join), so dot products and norms are engine-exact; the cosine
    division runs on identical doubles.

    Scale shape: the query documents' term vectors are a broadcast-sized
    table (|queries| ≪ corpus by contract); the corpus streams through
    ONE term-keyed broadcast join — a corpus document is touched only for
    terms shared with some query. The rank window partitions per query.
    The join fans out by Σ_t df(t) over query terms, so STOP TERMS are
    the cost driver: ``max_df_frac`` drops terms present in more than
    that fraction of documents BEFORE the join (they carry ~zero idf
    signal at ~maximal posting size — the classic stop-term cut; the
    degenerate tiny-vocab stress in tools/scalecheck.py is exactly this
    failure mode). Dropped terms leave both dot products and norms, so
    the cut changes the metric — the oracle must apply the same cut.

    ``max_postings`` is the RANK-BOUNDED fallback for the dense-vocab
    worst case where every term is a stop term and ``max_df_frac`` would
    empty the index (r9 VERDICT item 5): instead of dropping a frequent
    term, its posting list keeps only the top-``max_postings`` corpus
    docs by (tf desc, id asc) — impact-ordered posting pruning
    (Anh & Moffat's static index pruning shape). The per-query join
    fan-out is then ≤ |query terms|·max_postings REGARDLESS of vocabulary
    degeneracy. Ranking on the exact integer tf (idf is constant within a
    term) with the id tiebreak keeps the cut engine-deterministic. Norms
    stay FULL-vector (the true cosine denominator), so a capped pair's
    cosine only loses the dot-product mass of its pruned terms — reported
    similarity is a lower bound, recall degrades gracefully instead of
    zeroing (floor asserted in tests/test_text.py).

    The cap is a RECALL DIAL that must scale with the corpus (the same
    lesson the PQ shortlist taught at 2M vectors): a Zipf vocabulary has
    no sharp stop/content split, so at million-doc scale pick
    ``max_postings ≈ max(64, n_docs // 1000)`` — every term with
    idf ≥ ln(1000) keeps its whole posting list while the worst-case
    join fan-out stays ≤ |query terms|·n/1000 (tools/scalecheck.py
    sweeps the dial at 2M docs). The oracle must apply the same cap.

    ``max_postings`` DEFAULTS to that corpus-aware value (the string
    sentinel ``"auto"`` — r10 VERDICT: a static uncapped default
    silently degrades at scale, the same argument behind
    ``auto_lsh_params``). The auto cap is computed PLAN-SIDE from the
    broadcast ``count(distinct id)`` scalar — no eager count action, the
    plan stays lazy. Below 64k docs the auto cap is 64, which binds only
    on terms with df > 64 (on small corpora it is a measured no-op —
    tests pin this). Pass an int to dial recall/cost explicitly, or
    ``None`` for the uncapped exact index.
    """
    w = tfidf_terms(df, id_col, text_col, min_df=min_df).select(
        F.col(id_col).alias("__id"), F.col("term"), F.col("tfidf").alias("__w"),
        F.col("df_t"), F.col("tf").alias("__tf"),
    )
    if max_df_frac is not None:
        n_docs = df.select(F.countDistinct(F.col(id_col)).alias("__n"))
        w = w.crossJoin(F.broadcast(n_docs)).filter(
            F.col("df_t") <= F.col("__n") * F.lit(float(max_df_frac))
        ).drop("__n")
    w = w.drop("df_t")
    norms = w.groupBy("__id").agg(
        F.sqrt(
            F.sum(F.round(F.col("__w") * F.col("__w"), 9).cast("decimal(28,9)"))
            .cast("double")
        ).alias("__norm")
    )
    wq = w.filter(F.col("__id").isin(query_ids)).select(
        F.col("__id").alias("__qid"), "term", F.col("__w").alias("__wq")
    )
    wc = w
    if max_postings is not None:
        # two-phase top-R per term so one degenerate stop term can't pin
        # the whole postings table on a single partition: per-(term,
        # input-partition) top-R first (a SUPERSET of the global top-R —
        # any globally top-R row is top-R within its own partition; the
        # pid key spreads the skew), then the exact top-R over the
        # ≤ R·partitions survivors. Rank on exact integer tf (idf is
        # constant within a term, so tf order IS tfidf order) with the
        # id tiebreak — engine-deterministic.
        if max_postings == "auto":
            # corpus-aware cap as a PLAN-SIDE expression: the broadcast
            # one-row n_docs scalar keeps the build lazy (no count action)
            nd = df.select(F.countDistinct(F.col(id_col)).alias("__nd"))
            base = w.crossJoin(F.broadcast(nd))
            cap = F.greatest(
                F.lit(64).cast("long"), F.floor(F.col("__nd") / F.lit(1000)).cast("long")
            )
        else:
            base = w
            cap = F.lit(int(max_postings)).cast("long")
        pre = Window.partitionBy("term", "__pid").orderBy(
            F.desc("__tf"), F.asc("__id")
        )
        fin = Window.partitionBy("term").orderBy(F.desc("__tf"), F.asc("__id"))
        wc = (
            base.withColumn("__pid", F.spark_partition_id())
            .withColumn("__ppr", F.row_number().over(pre))
            .filter(F.col("__ppr") <= cap)
            .withColumn("__pr", F.row_number().over(fin))
            .filter(F.col("__pr") <= cap)
            .drop("__pid", "__ppr", "__pr", "__nd")
        )
    dots = (
        wc.join(F.broadcast(wq), "term")
        .filter(F.col("__id") != F.col("__qid"))
        .groupBy("__qid", "__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
            F.sum(F.round(F.col("__w") * F.col("__wq"), 9).cast("decimal(28,9)"))
            .cast("double")
            .alias("__dot"),
        )
    )
    nq = norms.select(F.col("__id").alias("__qid"), F.col("__norm").alias("__qnorm"))
    scored = (
        dots.join(norms, "__id")
        .join(F.broadcast(nq), "__qid")
        .withColumn("cosine", F.col("__dot") / (F.col("__norm") * F.col("__qnorm")))
    )
    rw = Window.partitionBy("__qid").orderBy(F.desc("cosine"), F.asc("__id"))
    return (
        scored.withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__id").alias(id_col),
            "n_shared_terms",
            F.round(F.col("cosine"), round_digits).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def term_pmi_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    top_k: int = 20,
    min_pair_docs: int = 2,
    round_digits: int = 6,
) -> DataFrame:
    """Pointwise mutual information of term CO-OCCURRENCE at document
    grain — the collocation/topic-pair readout (``pmi = ln(p(a,b) /
    (p(a)·p(b)))`` over document presence): which vocabulary pairs travel
    together more than chance. Returns the ``top_k`` most frequent pairs
    (ties by pair name) as (term_a, term_b, n_docs_both, pmi),
    term_a < term_b.

    Scale shape: the corpus reduces to DISTINCT (doc, term) FIRST (≤
    |vocab| rows per doc regardless of length — the
    :func:`~.windows.type_affinity` market-basket discipline), the pair
    self-join is co-keyed on the doc, marginals broadcast, and top-k is
    TakeOrderedAndProject on exact integer counts.

    Exactness: counts are exact; pmi is ``ln`` of a ratio of identical
    doubles both engines.
    """
    toks = F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
    dt = (
        df.select(F.col(id_col).alias("__d"), F.explode(toks).alias("__t"))
        .distinct()
    )
    n_docs = dt.select("__d").distinct().count()
    marg = dt.groupBy(F.col("__t").alias("term_a")).agg(
        F.count(F.lit(1)).cast("long").alias("__na")
    )
    pairs = (
        dt.alias("x")
        .join(dt.alias("y"), "__d")
        .filter(F.col("x.__t") < F.col("y.__t"))
        .groupBy(F.col("x.__t").alias("term_a"), F.col("y.__t").alias("term_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_both"))
        .filter(F.col("n_docs_both") >= min_pair_docs)
    )
    margb = marg.select(F.col("term_a").alias("term_b"), F.col("__na").alias("__nb"))
    n = F.lit(float(n_docs))
    scored = (
        pairs.join(F.broadcast(marg), "term_a")
        .join(F.broadcast(margb), "term_b")
        .select(
            "term_a",
            "term_b",
            "n_docs_both",
            F.round(
                F.log(
                    (F.col("n_docs_both") / n)
                    / ((F.col("__na") / n) * (F.col("__nb") / n))
                ),
                round_digits,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("n_docs_both"), F.asc("term_a"), F.asc("term_b")
    ).limit(top_k)


def readability(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Flesch reading-ease + Flesch–Kincaid grade per document — the
    classic surface-readability pair, a cheap curation axis orthogonal
    to :func:`quality_score`'s junk ratios (a page can be clean of
    boilerplate yet written at graduate density, or vice versa).

    Heuristics (all pure Column regex — JVM codegen, no UDF): words =
    whitespace tokens; sentences = runs of ``[.!?]`` (clamped ≥ 1);
    syllables per word = vowel-group count of the lowercased word
    (``[aeiouy]+`` runs, clamped ≥ 1 — the standard cheap proxy).

    Per doc: (id, n_words, n_sentences, n_syllables, words_per_sentence,
    syllables_per_word, flesch_ease, fk_grade); empty (word-less) docs
    yield nulls for every derived column INCLUDING n_sentences (the ≥ 1
    clamp only applies where words exist — a whitespace-only doc has no
    sentences to clamp).
    Ratios are double divisions of exact integers — identical IEEE on
    both engines; outputs round to 6 dp.

    Scale shape: embarrassingly parallel row-local projection — zero
    shuffles, zero egress beyond the scored rows.
    """
    toks = tokens(F.lower(F.col(text_col)))
    n_words = F.size(toks).cast("long")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1),
    ).cast("long")
    syl = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, t: acc
        + F.greatest(
            F.size(F.regexp_extract_all(t, F.lit(r"[aeiouy]+"), F.lit(0))), F.lit(1)
        ),
    ).cast("long")
    wps = n_words.cast("double") / n_sent
    spw = syl.cast("double") / n_words
    has = n_words > 0
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.when(has, n_sent).alias("n_sentences"),
        F.when(has, syl).alias("n_syllables"),
        F.round(F.when(has, wps), 6).alias("words_per_sentence"),
        F.round(F.when(has, spw), 6).alias("syllables_per_word"),
        F.round(
            F.when(has, F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw), 6
        ).alias("flesch_ease"),
        F.round(
            F.when(has, F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)), 6
        ).alias("fk_grade"),
    )


def rake_keyphrases(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    stopwords: list[str] | None = None,
    top_k: int = 20,
    round_digits: int = 6,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus —
    the unsupervised keyword lens next to TF-IDF's (TF-IDF ranks single
    terms by corpus contrast; RAKE ranks multi-word PHRASES by internal
    co-occurrence): candidate phrases are maximal stopword-free word
    runs, each word scores deg/freq (deg = Σ phrase length over its
    occurrences — long-phrase membership raises a word's degree), and a
    phrase scores the sum of its words' scores.

    Returns the ``top_k`` (phrase, n_words, n_occurrences, score) rows
    by score (ties on phrase text). Words are lowercase ``[a-z]+`` runs;
    anything else (punctuation, digits) delimits, as do the stopwords.

    Exactness: word scores are one double division of exact integers
    (identical IEEE); phrase scores quantize each word score to 9 dp and
    sum as DECIMAL(28,9) (order-free, engine-stable); the output score
    rounds in DECIMAL space (9 dp-lattice sums split double-side
    rounding on exact half-boundaries).

    Scale shape: phrase islands form ROW-LOCALLY — stopword tokens are
    replaced by a \x01 sentinel (which ``[a-z]+`` tokenization makes
    unreachable from the corpus) and the token string splits on it, so
    the fact-sized token stream never shuffles (the window formulation
    this replaces moved every token through a doc-keyed exchange —
    1.7 GB at 2 M docs). What shuffles: the combinable word-stats
    aggregate (|vocab| rows after map-side combine) and the
    distinct-phrase aggregate; word scores broadcast onto the
    phrase-word join.
    """
    stops = stopwords if stopwords is not None else STOPWORDS["en"]
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z]+"), lambda t: t != F.lit("")
    )
    marked = F.transform(
        toks, lambda w: F.when(w.isin(*stops), F.lit("\x01")).otherwise(w)
    )
    phr_arr = F.filter(
        F.transform(
            F.split(F.concat_ws(" ", marked), "\x01"), lambda p: F.trim(p)
        ),
        lambda p: p != F.lit(""),
    )
    phrases = df.select(F.explode(phr_arr).alias("__phrase")).withColumn(
        "__len", F.size(F.split(F.col("__phrase"), " ")).cast("long")
    )
    occ = phrases.select(
        "__phrase", "__len", F.explode(F.split(F.col("__phrase"), " ")).alias("__w")
    )
    wstats = occ.groupBy("__w").agg(
        F.count(F.lit(1)).cast("long").alias("__freq"),
        F.sum("__len").cast("long").alias("__deg"),
    )
    wscore = wstats.select(
        "__w",
        F.round(F.col("__deg").cast("double") / F.col("__freq"), 9).alias("__ws"),
    )
    # identical phrase text => identical word multiset => identical score:
    # score once per DISTINCT phrase, count occurrences separately
    uniq = phrases.groupBy("__phrase").agg(
        F.max("__len").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    )
    uwords = uniq.select(
        "__phrase", "n_words", "n_occurrences",
        F.explode(F.split(F.col("__phrase"), " ")).alias("__w"),
    )
    out = (
        uwords.join(F.broadcast(wscore), "__w")
        .groupBy("__phrase", "n_words", "n_occurrences")
        .agg(
            F.round(F.sum(F.col("__ws").cast("decimal(28,9)")), round_digits)
            .cast("double")
            .alias("score")
        )
    )
    return (
        out.select(
            F.col("__phrase").alias("phrase"), "n_words", "n_occurrences", "score"
        )
        .orderBy(F.desc("score"), F.asc("phrase"))
        .limit(top_k)
    )


def unigram_kl_by_source(
    df: DataFrame,
    source_col: str,
    text_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Per-source unigram KL divergence vs the pooled corpus — the
    mixture diagnostic behind "which source is dragging the token
    distribution": ``KL(P_src ‖ P_corpus) = Σ_w p_src(w)·ln(p_src/p_q)``
    over the source's vocabulary (every source term exists in the
    pooled distribution, so the divergence is always finite). A source
    near 0 reads like the mixture; a large value is the candidate for
    reweighting or exclusion (the DSIR/mixture dial's territory).

    Per source: (source, n_tokens, vocab_size, kl_vs_corpus).

    Exactness: both distributions are ratios of exact token counts;
    each KL term rounds to 12 dp and sums as DECIMAL(38,12)
    (order-free); the output rounds to ``round_digits``.

    Scale shape: ONE (source, word) count aggregate over the exploded
    tokens (map-side combinable — the shuffle carries vocab-sized
    partials, never raw tokens); corpus marginals derive from the SAME
    table with a second combinable aggregate and broadcast back; the
    KL fold is a third aggregate on the (source, word) grain.
    """
    toks = tokens(F.lower(F.col(text_col)))
    sw = (
        df.select(F.col(source_col).alias("__src"), F.explode(toks).alias("__w"))
        .groupBy("__src", "__w")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    src_tot = sw.groupBy("__src").agg(F.sum("__c").cast("long").alias("__nt"))
    corpus = sw.groupBy("__w").agg(F.sum("__c").cast("long").alias("__cw"))
    corpus_tot = corpus.agg(F.sum("__cw").cast("long").alias("__nc"))
    p = F.col("__c").cast("double") / F.col("__nt")
    q = F.col("__cw").cast("double") / F.col("__nc")
    term = F.round(p * F.log(p / q), 12).cast("decimal(38,12)")
    return (
        sw.join(F.broadcast(src_tot), "__src")
        .join(corpus, "__w")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("__src")
        .agg(
            F.max("__nt").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.round(F.sum(term), round_digits).cast("double").alias("kl_vs_corpus"),
        )
        .select(F.col("__src").alias("source"), "n_tokens", "vocab_size", "kl_vs_corpus")
    )
