"""Text operator tests: stats, language id, quality, fingerprints."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ml_feature_store_pipeline_spark.functions import token_count
from ml_feature_store_pipeline_spark.operators import text


def test_tokens_edge_cases(spark):
    df = spark.createDataFrame(
        [("  a  b c  ",), ("",), ("   ",), ("single",)], "text: string"
    )
    out = [r["n"] for r in df.select(token_count(F.col("text")).alias("n")).collect()]
    assert out == [3, 0, 0, 1]


def test_text_stats_values(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42")], "doc_id long, text string")
    row = text.text_stats(df, "doc_id", "text").collect()[0]
    assert row["n_chars"] == 16
    assert row["n_tokens"] == 3
    # BPE-ish: Hello , world ! 42 → 5
    assert row["n_tokens_bpeish"] == 5
    assert row["n_whitespace"] == 2
    assert row["punct_ratio"] == pytest.approx(2 / 16)
    assert row["digit_ratio"] == pytest.approx(2 / 16)


def test_language_id(spark):
    rows = [
        (1, "the cat is in the house and it is warm"),
        (2, "der Hund ist nicht ein Tier und das ist gut"),
        (3, "le chat est dans la maison et les chiens"),
        (4, "xyzzy plugh qwerty"),  # no stopwords → und
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_guess"] for r in text.language_id(df, "doc_id", "text").collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_quality_score_ordering(spark):
    rows = [
        (1, "the report describes a complete analysis of the data in it"),  # clean English
        (2, "!!! ??? *** $$$ ### @@@"),  # punctuation garbage
        (3, "12345 67890 11111 22222"),  # digit garbage
        (4, "ok"),  # too short
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    s = {r["doc_id"]: r["quality_score"] for r in text.quality_score(df, "doc_id", "text").collect()}
    assert s[1] > s[2] and s[1] > s[3] and s[1] > s[4]
    assert s[2] == 0.0  # punct ratio ≥ 0.5 zeroes the score
    assert all(0.0 <= v <= 1.0 for v in s.values())


def test_fingerprint_normalization(spark):
    rows = [(1, "Hello   World"), (2, "hello world"), (3, "goodbye")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.fingerprint(df, "doc_id", "text").collect()}
    assert out[1]["fp_raw"] != out[2]["fp_raw"]
    assert out[1]["fp_normalized"] == out[2]["fp_normalized"]  # case+space insensitive
    assert out[1]["fp_normalized"] != out[3]["fp_normalized"]
    assert out[2]["fp_raw"] == hashlib.md5(b"hello world").hexdigest()  # md5 parity


# ------------------------------------------------------------- pack_sequences
def _pack_input(spark, n=200, tok_range=(5, 40)):
    lo, hi = tok_range
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        # deterministic pseudo-random token counts in [lo, hi]
        (F.abs(F.xxhash64("id")) % (hi - lo + 1) + lo).cast("long").alias("nt"),
    )


def test_pack_sequences_invariants(spark):
    docs = _pack_input(spark)
    out = text.pack_sequences(
        docs, "doc_id", n_tokens_col="nt", token_budget=100, n_groups=8
    ).collect()
    # every doc exactly once, token counts passed through
    assert sorted(r["doc_id"] for r in out) == list(range(200))
    nts = {r["doc_id"]: r["n_tokens"] for r in out}
    for r in docs.collect():
        assert nts[r["doc_id"]] == r["nt"]
    # no multi-doc pack exceeds the budget
    packs: dict[int, list[int]] = {}
    for r in out:
        packs.setdefault(r["pack_id"], []).append(r["n_tokens"])
    for members in packs.values():
        if len(members) > 1:
            assert sum(members) <= 100


def test_pack_sequences_stable_under_repartitioning(spark):
    docs = _pack_input(spark, n=150)
    a = text.pack_sequences(
        docs.repartition(1), "doc_id", n_tokens_col="nt", token_budget=64, n_groups=4
    )
    b = text.pack_sequences(
        docs.repartition(13), "doc_id", n_tokens_col="nt", token_budget=64, n_groups=4
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pack_sequences_oversized_doc_gets_own_pack(spark):
    docs = spark.createDataFrame(
        [(1, 10), (2, 500), (3, 12), (4, 11)], "doc_id long, nt long"
    )
    out = text.pack_sequences(
        docs, "doc_id", n_tokens_col="nt", token_budget=64, n_groups=1
    ).collect()
    by_pack: dict[int, list[int]] = {}
    for r in out:
        by_pack.setdefault(r["pack_id"], []).append(r["doc_id"])
    solo = [m for m in by_pack.values() if m == [2]]
    assert solo, "oversized doc must sit alone in its pack"


def test_pack_sequences_from_text_and_stats(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e"), (3, "f g h i"), (4, "")],
        "doc_id long, text string",
    )
    assign = text.pack_sequences(docs, "doc_id", "text", token_budget=5, n_groups=1)
    rows = {r["doc_id"]: r for r in assign.collect()}
    assert rows[1]["n_tokens"] == 3 and rows[4]["n_tokens"] == 0
    stats = text.pack_stats(assign, token_budget=5).collect()
    assert sum(r["n_docs"] for r in stats) == 4
    assert sum(r["tokens_used"] for r in stats) == 9
    for r in stats:
        assert r["fill_ratio"] == r["tokens_used"] / 5.0


def test_pack_sequences_fill_ratio_reasonable(spark):
    # uniform small docs against a big budget: next-fit fill should beat 80%
    docs = _pack_input(spark, n=400, tok_range=(8, 24))
    assign = text.pack_sequences(
        docs, "doc_id", n_tokens_col="nt", token_budget=256, n_groups=4
    )
    stats = text.pack_stats(assign, token_budget=256).collect()
    full = [s for s in stats if s["fill_ratio"] >= 0.8]
    assert len(full) >= len(stats) - 4  # at most one trailing partial pack per group


def test_pack_sequences_arg_validation(spark):
    docs = _pack_input(spark, n=10)
    with pytest.raises(ValueError):
        text.pack_sequences(docs, "doc_id", token_budget=10)  # neither source
    with pytest.raises(ValueError):
        text.pack_sequences(
            docs, "doc_id", "text", n_tokens_col="nt", token_budget=10
        )  # both


class TestLmScore:
    def test_hand_computed_cross_entropy(self, spark):
        """'aaab' trained on itself: grams = [aaa, aab]; model = {aaa:1,
        aab:1}; total=2, V=2 → lp(seen) = ln(2) − ln(5); xent = −avg."""
        import math

        from ml_feature_store_pipeline_spark.operators.text import char_ngram_model, lm_score

        docs = spark.createDataFrame([(1, "aaab")], "id long, text string")
        model = char_ngram_model(docs, "text")
        row = lm_score(docs, model, "id", "text").collect()[0]
        assert row["n_grams"] == 2
        want = -(math.log(2.0) - math.log(5.0))
        assert abs(row["xent"] - round(want, 6)) < 1e-9

    def test_unseen_grams_cost_more(self, spark):
        """A doc full of grams the model never saw must score strictly
        worse (higher xent) than an in-model doc — the CCNet gate."""
        from ml_feature_store_pipeline_spark.operators.text import char_ngram_model, lm_score

        corpus = spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog") for i in range(5)],
            "id long, text string",
        )
        model = char_ngram_model(corpus, "text")
        probes = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "zzqx jkvw qqzz xkcv")],
            "id long, text string",
        )
        got = {r["id"]: r["xent"] for r in lm_score(probes, model, "id", "text").collect()}
        assert got[2] > got[1]

    def test_short_docs_emit_no_row_and_no_downcounting_sequence(self, spark):
        """Texts shorter than n must yield ZERO grams — Spark's sequence(1, 0)
        counts DOWN without the guard, which would fabricate grams."""
        from ml_feature_store_pipeline_spark.operators.text import char_ngram_model, char_ngrams, lm_score

        docs = spark.createDataFrame([(1, "ab"), (2, ""), (3, "abcd")], "id long, text string")
        grams = docs.select(F.size(char_ngrams(F.col("text"))).alias("n")).collect()
        assert sorted(r["n"] for r in grams) == [0, 0, 2]
        model = char_ngram_model(docs, "text")
        out = lm_score(docs, model, "id", "text")
        assert sorted(r["id"] for r in out.collect()) == [3]

    def test_case_folding_is_part_of_the_model(self, spark):
        from ml_feature_store_pipeline_spark.operators.text import char_ngram_model

        docs = spark.createDataFrame([(1, "ABCabc")], "id long, text string")
        got = {r["gram"]: r["cnt"] for r in char_ngram_model(docs, "text").collect()}
        assert got == {"abc": 2, "bca": 1, "cab": 1}

    @pytest.mark.parametrize("n,lowercase", [(1, True), (2, True), (3, True), (3, False), (5, True)])
    def test_char_ngrams_equal_the_per_position_form(self, spark, n, lowercase):
        """char_ngrams builds no lambda over the text; its grams equal the
        per-position ``substring(lower(text), i, n)`` form it replaced,
        also where the lowercase is longer than the text (İ → i̇), for
        characters outside the BMP, for NULL and for short texts."""
        from ml_feature_store_pipeline_spark.operators.text import char_ngrams

        docs = spark.createDataFrame(
            [
                (1, "İstanbul İİ"), (2, "Straße ﬁne 😀 emoji😀s"), (3, None), (4, ""),
                (5, "ab"), (6, "\tMiXeD  Case\n"), (7, "中文字符串"), (8, "é́"),
            ],
            "id long, text string",
        )
        t = F.lower(F.col("text")) if lowercase else F.col("text")
        positions = F.when(
            F.length(t) >= n, F.sequence(F.lit(1), F.length(t) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        old = F.transform(positions, lambda i: F.substring(t, i, n))
        rows = docs.select(
            "id", char_ngrams(F.col("text"), n, lowercase=lowercase).alias("new"), old.alias("old")
        ).collect()
        assert all(r["new"] == r["old"] for r in rows), rows
        plan = docs.select(char_ngrams(F.col("text"), n))._jdf.queryExecution().optimizedPlan()
        assert "lambdafunction(substring(" not in plan.toString()


# ---------------------------------------------------------------------------
# Gopher rule filter + vocabulary coverage (r7)
# ---------------------------------------------------------------------------


def test_gopher_rules_hand_cases(spark):
    long_good = "the quick brown fox jumps over a lazy dog and then it " * 5  # 60 words
    short = "the cat sat on a mat"  # 6 words — fails min_words
    symbols = ("the word " * 30) + ("# " * 20)  # symbol ratio 20/80 = 0.25
    no_alpha = ("the of to in is it " * 10) + ("123 456 789 000 111 " * 30)
    df = spark.createDataFrame(
        [(1, long_good), (2, short), (3, symbols), (4, no_alpha)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.gopher_rules(df, "doc_id", "text").collect()}
    assert out[1]["keep"] is True
    assert out[1]["n_words"] == 60
    assert out[2]["keep"] is False and out[2]["rule_n_words"] is False
    assert out[3]["rule_symbol"] is False
    # 60 alpha words of 210 total → alpha_word_frac < 0.8
    assert out[4]["rule_alpha"] is False
    assert abs(out[4]["alpha_word_frac"] - 60 / 210) < 1e-6


def test_gopher_rules_word_len_band(spark):
    df = spark.createDataFrame(
        [
            (1, "aa bb cc dd " * 20 + "the of it is to in"),  # mean len ~2 → fail
            (2, "extraordinarily incomprehensibilities " * 30 + "the of it"),  # ~too long
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.gopher_rules(df, "doc_id", "text").collect()}
    assert out[1]["rule_word_len"] is False
    assert out[2]["rule_word_len"] is False


def test_gopher_rules_empty_text_safe(spark):
    df = spark.createDataFrame([(1, ""), (2, "   ")], "doc_id long, text string")
    out = text.gopher_rules(df, "doc_id", "text").collect()
    for r in out:
        assert r["n_words"] == 0
        assert r["keep"] is False
        assert r["mean_word_len"] == 0.0


def test_vocab_coverage_exact_counts(spark):
    df = spark.createDataFrame(
        [(1, "b a a"), (2, "a b c"), (3, "a d")], "doc_id long, text string"
    )
    rows = text.vocab_coverage(df, "text", top_n=3).orderBy("rank").collect()
    # counts: a=4, b=2, c=1, d=1 (total 8); top-3 tiebreak c before d
    assert [(r["word"], r["n_occ"], r["rank"]) for r in rows] == [
        ("a", 4, 1),
        ("b", 2, 2),
        ("c", 1, 3),
    ]
    assert rows[0]["cum_frac"] == 0.5
    assert rows[1]["cum_frac"] == 0.75
    assert rows[2]["cum_frac"] == 0.875


def test_vocab_coverage_cum_frac_monotone_and_bounded(spark):
    df = spark.createDataFrame(
        [(i, f"w{i % 7} w{i % 3} shared") for i in range(40)], "doc_id long, text string"
    )
    rows = text.vocab_coverage(df, "text", top_n=100).orderBy("rank").collect()
    fracs = [r["cum_frac"] for r in rows]
    assert all(a <= b for a, b in zip(fracs, fracs[1:]))
    assert fracs[-1] == 1.0  # top_n covers the whole vocab here


# ---------------------------------------------------------------------------
# BPE pre-tokenizer (r7)
# ---------------------------------------------------------------------------


def test_bpe_pretokens_match_python_re_and_roundtrip(spark):
    import re

    # ascii twin of the \p{L}/\p{N} pattern (test corpus is ascii)
    pat = re.compile(r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+")
    rows = [
        (1, "the quick brown fox isn't slow, really 42 times!"),
        (2, "hello   world"),
        (3, ""),
        (4, "a"),
        (5, "x1y2 3.14 --dash"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["toks"]
        for r in df.select("doc_id", text.bpe_pretokens(F.col("text")).alias("toks")).collect()
    }
    for i, t in rows:
        assert got[i] == pat.findall(t), (i, got[i])
        assert "".join(got[i]) == t  # pre-tokens partition the input exactly


def test_bpe_token_stats_counts(spark):
    df = spark.createDataFrame(
        [(1, "isn't it 42"), (2, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text.bpe_token_stats(df, "doc_id", "text").collect()}
    # isn / 't / " it" / " 42" → 4 pretokens over 3 ws tokens
    assert out[1]["n_pretokens"] == 4 and out[1]["n_ws_tokens"] == 3
    assert out[2]["n_pretokens"] == 0 and out[2]["pretokens_per_word"] == 0.0


def test_bpe_pair_stats_hand_counted(spark):
    # "abab abab" → pretokens: "abab", " abab"; pairs inside:
    # abab: ab, ba, ab; " abab": " a", ab, ba, ab → ab×4, ba×2, " a"×1
    df = spark.createDataFrame([(1, "abab abab")], "doc_id long, text string")
    rows = {(r["left"], r["right"]): r for r in text.bpe_pair_stats(df, "text", top_n=10).collect()}
    assert rows[("a", "b")]["n_occ"] == 4 and rows[("a", "b")]["rank"] == 1
    assert rows[("b", "a")]["n_occ"] == 2
    assert rows[(" ", "a")]["n_occ"] == 1


def test_corpus_duplication_rate_hand_counted(spark):
    # chunk_tokens=2-grams over 2 docs: doc1 "a b c" → (a b),(b c);
    # doc2 "a b x" → (a b),(b x): 4 windows, 3 distinct → dup 0.25
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b x")], "doc_id long, text string"
    )
    r = text.corpus_duplication_rate(docs, "text", ngram=2).collect()[0]
    assert (r["n_ngrams"], r["n_distinct"]) == (4, 3)
    assert r["dup_frac"] == 0.25
    assert r["heavy_frac"] == 0.0
    # a window repeated 10+ times trips heavy_frac
    heavy = spark.createDataFrame(
        [(i, "p q") for i in range(12)], "doc_id long, text string"
    )
    r2 = text.corpus_duplication_rate(heavy, "text", ngram=2).collect()[0]
    assert r2["heavy_frac"] == 1.0 and r2["n_distinct"] == 1


def test_zipf_fit_matches_numpy_on_true_zipf(spark):
    import math

    import numpy as np

    # plant a corpus with count(rank r) ∝ 1/r: slope must come out ≈ -1
    words = []
    for r in range(1, 21):
        words += [f"w{r:02d}"] * (2000 // r)
    docs = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    got = text.zipf_fit(docs, "text", top_n=20).collect()[0]
    counts = sorted((2000 // r for r in range(1, 21)), reverse=True)
    x = np.array([round(math.log(i + 1), 9) for i in range(20)])
    y = np.array([round(math.log(c), 9) for c in counts])
    s, i = np.polyfit(x, y, 1)
    assert got["n_words"] == 20
    assert abs(got["zipf_slope"] - round(float(s), 6)) < 1e-6
    assert abs(got["zipf_intercept"] - round(float(i), 6)) < 1e-6
    assert got["zipf_slope"] < -0.9  # a true Zipf corpus reads ≈ -1
    assert got["r2"] > 0.99


def test_bpe_train_hand_checked_merges(spark):
    from ml_feature_store_pipeline_spark.operators.text import bpe_train

    docs = spark.createDataFrame([("aaab aaab",), ("aa",)], "text string")
    out = [
        (r["merge_rank"], r["left"], r["right"], r["merged"], r["n_occ"])
        for r in bpe_train(docs, "text", n_merges=3).orderBy("merge_rank").collect()
    ]
    # iter1: (a,a) wins with 5 within-pretoken adjacencies (left-to-right
    # walk merges 'a a a' into 'aa a', NOT 'a aa');
    # iter2: (a,b) and (aa,a) tie at 2 — 'a' < 'aa' pins the winner;
    # iter3: the chain completes to the full pre-token 'aaab'
    assert out == [
        (1, "a", "a", "aa", 5),
        (2, "a", "b", "ab", 2),
        (3, "aa", "ab", "aaab", 2),
    ]


def test_bpe_merge_fold_chain_semantics(spark):
    """Back-to-back pair occurrences must BOTH merge (the case plain
    string replace gets wrong by consuming the shared boundary space)."""
    from pyspark.sql import functions as F

    from ml_feature_store_pipeline_spark.operators.text import _bpe_merge_fold

    df = spark.createDataFrame([("a b a b",), ("a a a",), ("x a b x",)], "sym string")
    out = [r["m"] for r in df.select(_bpe_merge_fold(F.col("sym"), "a", "b", "ab").alias("m")).collect()]
    assert out == ["ab ab", "a a a", "x ab x"]
    out2 = [r["m"] for r in df.select(_bpe_merge_fold(F.col("sym"), "a", "a", "aa").alias("m")).collect()]
    assert out2 == ["a b a b", "aa a", "x a b x"]


def test_bpe_encode_stats_roundtrip(spark):
    from ml_feature_store_pipeline_spark.operators.text import bpe_encode_stats

    docs = spark.createDataFrame([(1, "aaab aaab"), (2, "aa")], "doc_id long, text string")
    merges = [("a", "a", "aa"), ("a", "b", "ab"), ("aa", "ab", "aaab")]
    out = {r["doc_id"]: r for r in bpe_encode_stats(docs, "doc_id", "text", merges).collect()}
    # doc 1: pretokens 'aaab', 'Ġaaab' → both encode to ONE token after
    # the 3 merges ('aaab'; 'Ġaaab' → 'Ġ aaab' = 2: Ġ never merged)
    assert out[1]["n_pretokens"] == 2
    assert out[1]["n_chars"] == 9          # 'aaab' 4 + 'Ġaaab' 5
    assert out[1]["n_tokens"] == 3         # ['aaab'], ['Ġ','aaab']
    assert out[1]["chars_per_token"] == 3.0
    # doc 2: 'aa' → one merged token
    assert out[2]["n_tokens"] == 1 and out[2]["n_chars"] == 2


def test_bm25_topk_hand_computed(spark):
    import math

    from ml_feature_store_pipeline_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "cat dog cat"),          # dl=3, tf(cat)=2
            (2, "dog bird"),              # dl=2, tf(cat)=0
            (3, "cat fish fish fish"),    # dl=4, tf(cat)=1
            (4, "bird bird"),             # no match
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bm25_topk(docs, "doc_id", "text", ["cat"], k=10).collect()}
    assert set(out) == {1, 3}  # only cat-matching docs
    n, df_t, avgdl = 4, 2, (3 + 2 + 4 + 2) / 4
    idf = math.log(1 + (n - df_t + 0.5) / (df_t + 0.5))

    def score(tf, dl):
        return round(idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * (dl / avgdl))), 9)

    assert out[1]["score"] == pytest.approx(score(2, 3), abs=1e-9)
    assert out[3]["score"] == pytest.approx(score(1, 4), abs=1e-9)
    assert out[1]["rank"] == 1 and out[3]["rank"] == 2  # tf=2 wins


def test_bm25_topk_multi_term_sums_contributions(spark):
    from ml_feature_store_pipeline_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a a"), (3, "b c")], "doc_id long, text string"
    )
    both = {r["doc_id"]: r["score"] for r in bm25_topk(docs, "doc_id", "text", ["a", "b"], k=3).collect()}
    only_a = {r["doc_id"]: r["score"] for r in bm25_topk(docs, "doc_id", "text", ["a"], k=3).collect()}
    only_b = {r["doc_id"]: r["score"] for r in bm25_topk(docs, "doc_id", "text", ["b"], k=3).collect()}
    # doc 1 matches both terms: its 2-term score is the sum of the 1-term scores
    assert both[1] == pytest.approx(only_a[1] + only_b[1], abs=1e-8)
    # lowercase + dedup of query terms
    dup = {r["doc_id"]: r["score"] for r in bm25_topk(docs, "doc_id", "text", ["A", "a"], k=3).collect()}
    assert dup == only_a


def test_lang_confusion_counts_and_recall(spark):
    from ml_feature_store_pipeline_spark.operators.text import lang_confusion

    rows = [
        (1, "the cat and the dog", "en"),     # clear en
        (2, "der hund und die katze", "de"),  # clear de
        (3, "xyzzy qwerty", "en"),            # no stopword hits -> 'und'
        (4, "the dog is here", "en"),
        (5, "le chat et le chien", None),     # NULL truth excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {(r["lang_true"], r["lang_guess"]): r for r in lang_confusion(df, "doc_id", "text", "lang").collect()}
    assert out[("en", "en")]["n"] == 2
    assert out[("en", "und")]["n"] == 1
    assert out[("de", "de")]["n"] == 1
    assert out[("en", "en")]["recall"] == pytest.approx(2 / 3)
    assert out[("de", "de")]["recall"] == pytest.approx(1.0)
    assert sum(r["n"] for r in out.values()) == 4  # NULL truth dropped


def test_tfidf_doc_topk_hand_computed(spark):
    import math

    from ml_feature_store_pipeline_spark.operators.text import tfidf_doc_topk

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "apple banana cherry"),
            (2, "cherry durian durian"),
            (3, "unrelated words only"),
        ],
        "doc_id long, text string",
    )
    out = {(r["query_id"], r["doc_id"]): r for r in tfidf_doc_topk(docs, "doc_id", "text", [0], k=3).collect()}
    # doc 0 shares terms with 1 (apple, banana) but not 2 or 3
    assert set(out) == {(0, 1)}
    r = out[(0, 1)]
    assert r["n_shared_terms"] == 2 and r["rank"] == 1

    n = 4
    idf = lambda df_t: math.log((1 + n) / (1 + df_t)) + 1
    w0 = {"apple": 2 * idf(2), "banana": 1 * idf(2)}
    w1 = {"apple": 1 * idf(2), "banana": 1 * idf(2), "cherry": 1 * idf(2)}
    dot = sum(round(w0[t] * w1[t], 9) for t in ("apple", "banana"))
    n0 = math.sqrt(sum(round(w * w, 9) for w in w0.values()))
    n1 = math.sqrt(sum(round(w * w, 9) for w in w1.values()))
    assert r["cosine"] == pytest.approx(dot / (n0 * n1), abs=1e-6)


def test_tfidf_doc_topk_rank_order_and_k(spark):
    from ml_feature_store_pipeline_spark.operators.text import tfidf_doc_topk

    docs = spark.createDataFrame(
        [
            (0, "x y z"),
            (1, "x y z"),       # identical -> cosine 1, rank 1
            (2, "x y q"),       # 2 shared
            (3, "x p q"),       # 1 shared
            (4, "p q r"),       # 0 shared -> absent
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["rank"], r["doc_id"]) for r in tfidf_doc_topk(docs, "doc_id", "text", [0], k=2).collect()
    )
    assert rows == [(1, 1), (2, 2)]  # k=2 truncates; similarity order holds


def test_tfidf_doc_topk_max_df_cut_drops_stop_terms(spark):
    from ml_feature_store_pipeline_spark.operators.text import tfidf_doc_topk

    docs = spark.createDataFrame(
        [
            (0, "common rare0"),
            (1, "common rare0"),   # shares both with 0
            (2, "common other"),   # shares only the stop term
            (3, "common other"),
        ],
        "doc_id long, text string",
    )
    # 'common' is in 4/4 docs; with the cut at 0.5 only rare terms join
    out = tfidf_doc_topk(docs, "doc_id", "text", [0], k=4, max_df_frac=0.5).collect()
    assert {(r["query_id"], r["doc_id"]) for r in out} == {(0, 1)}
    # without the cut, the stop term connects doc 0 to everything
    full = tfidf_doc_topk(docs, "doc_id", "text", [0], k=4).collect()
    assert {(r["query_id"], r["doc_id"]) for r in full} == {(0, 1), (0, 2), (0, 3)}


def test_term_pmi_hand_computed(spark):
    import math

    from ml_feature_store_pipeline_spark.operators.text import term_pmi_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta"),
            (2, "alpha beta"),
            (3, "alpha gamma"),
            (4, "delta delta delta"),   # repeats collapse to presence
        ],
        "doc_id long, text string",
    )
    out = {(r["term_a"], r["term_b"]): r for r in term_pmi_topk(docs, "doc_id", "text", min_pair_docs=1).collect()}
    n = 4
    # (alpha, beta): c=2, df_alpha=3, df_beta=2 -> pmi = ln((2/4)/((3/4)(2/4)))
    ab = out[("alpha", "beta")]
    assert ab["n_docs_both"] == 2
    assert ab["pmi"] == pytest.approx(math.log((2 / 4) / ((3 / 4) * (2 / 4))), abs=1e-6)
    # delta pairs with nothing; presence not frequency: no (delta, delta)
    assert not any("delta" in k for k in out)
    # perfect co-occurrence beats partial: pmi(alpha,beta) < pmi(beta,?) ...
    ag = out[("alpha", "gamma")]
    assert ag["n_docs_both"] == 1
    assert ag["pmi"] == pytest.approx(math.log((1 / 4) / ((3 / 4) * (1 / 4))), abs=1e-6)


def test_readability_hand_computed(spark):
    from ml_feature_store_pipeline_spark.operators.text import readability

    df = spark.createDataFrame(
        [
            (1, "The cat sat. The dog ran!"),  # 6 words, 2 sentences
            (2, ""),                            # empty -> nulls
            (3, "beautiful"),                   # 1 word, no terminator -> 1 sentence
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in readability(df, "doc_id", "text").collect()}

    r = out[1]
    # syllables (vowel-group runs, min 1/word): the=1 cat=1 sat=1 the=1 dog=1 ran=1
    assert (r["n_words"], r["n_sentences"], r["n_syllables"]) == (6, 2, 6)
    assert r["words_per_sentence"] == pytest.approx(3.0)
    assert r["syllables_per_word"] == pytest.approx(1.0)
    assert r["flesch_ease"] == pytest.approx(206.835 - 1.015 * 3 - 84.6 * 1, abs=1e-6)
    assert r["fk_grade"] == pytest.approx(0.39 * 3 + 11.8 * 1 - 15.59, abs=1e-6)

    assert out[2]["n_words"] == 0
    assert out[2]["flesch_ease"] is None and out[2]["n_syllables"] is None

    # beau-ti-ful -> vowel groups "eau", "i", "u" = 3 syllables
    assert (out[3]["n_words"], out[3]["n_sentences"], out[3]["n_syllables"]) == (1, 1, 3)


def test_rake_keyphrases_hand_computed(spark):
    """Textbook RAKE on a two-phrase doc: deg/freq word scores and the
    phrase-sum, with stopwords delimiting islands and a repeated phrase
    collapsing to one row with n_occurrences=2."""
    from ml_feature_store_pipeline_spark.operators.text import rake_keyphrases

    df = spark.createDataFrame(
        [
            (1, "deep learning is deep learning of great power"),
            (2, "great power!"),
        ],
        "doc_id int, text string",
    )
    out = {r["phrase"]: r for r in rake_keyphrases(df, "doc_id", "text").collect()}
    # islands: "deep learning" x2 (split on 'is'/'of'), "great power" x2
    # word stats over phrase occurrences:
    #   deep: freq 2, deg 2+2=4 -> 2.0 ; learning: same -> 2.0
    #   great: freq 2, deg 4 -> 2.0 ; power: freq 2, deg 4 -> 2.0
    assert out["deep learning"]["n_occurrences"] == 2
    assert out["deep learning"]["n_words"] == 2
    assert out["deep learning"]["score"] == pytest.approx(4.0)
    assert out["great power"]["n_occurrences"] == 2
    assert out["great power"]["score"] == pytest.approx(4.0)
    assert set(out) == {"deep learning", "great power"}


def test_unigram_kl_skewed_source_diverges(spark):
    """A source matching the pooled mixture reads ~0; a skewed one reads
    the textbook Σ p·ln(p/q) computed by hand."""
    import math

    from ml_feature_store_pipeline_spark.operators.text import unigram_kl_by_source

    rows = (
        [("a", "x y")] * 3            # source a: 3 docs of "x y"
        + [("b", "x x x y z")]        # source b skews toward x and adds z
    )
    df = spark.createDataFrame(
        [(s, t) for s, t in rows], "source string, text string"
    )
    out = {r["source"]: r for r in unigram_kl_by_source(df, "source", "text").collect()}
    # corpus: x=6, y=4, z=1, N=11
    qx, qy, qz = 6 / 11, 4 / 11, 1 / 11

    def kl(dist):
        q = {"x": qx, "y": qy, "z": qz}
        return sum(p * math.log(p / q[w]) for w, p in dist.items())

    assert out["a"]["n_tokens"] == 6 and out["a"]["vocab_size"] == 2
    assert out["a"]["kl_vs_corpus"] == pytest.approx(kl({"x": 0.5, "y": 0.5}), abs=1e-6)
    assert out["b"]["n_tokens"] == 5 and out["b"]["vocab_size"] == 3
    assert out["b"]["kl_vs_corpus"] == pytest.approx(
        kl({"x": 3 / 5, "y": 1 / 5, "z": 1 / 5}), abs=1e-6
    )


# ---------------------------------------------------------------------------
# r10: rank-bounded posting cap (VERDICT r9 item 5)
# ---------------------------------------------------------------------------


def test_tfidf_doc_topk_posting_cap_noop_when_loose(spark):
    """A cap at/above every term's df keeps the full index — identical
    output to the uncapped run (cosines, ranks, shared-term counts)."""
    from ml_feature_store_pipeline_spark.operators.text import tfidf_doc_topk

    docs = spark.createDataFrame(
        [
            (0, "apple banana cherry date"),
            (1, "apple banana cherry"),
            (2, "apple banana fig grape"),
            (3, "cherry date fig"),
            (4, "grape apple date"),
        ],
        "doc_id long, text string",
    )
    full = sorted(
        tuple(r) for r in tfidf_doc_topk(docs, "doc_id", "text", [0], k=4).collect()
    )
    capped = sorted(
        tuple(r)
        for r in tfidf_doc_topk(
            docs, "doc_id", "text", [0], k=4, max_postings=100
        ).collect()
    )
    assert capped == full


def test_tfidf_doc_topk_posting_cap_bounds_dense_vocab(spark):
    """The dense-vocab worst case: ONE shared stop term across all docs.
    max_df_frac would empty the index (zero results); the posting cap
    keeps the term with its top-R docs — results survive, fan-out is
    bounded, and kept cosines are a lower bound of the uncapped ones."""
    from ml_feature_store_pipeline_spark.operators.text import tfidf_doc_topk

    # every doc: the stop term 'the' + one rarer discriminator
    rows = [(i, "the " * (i % 3 + 1) + ("red " if i % 2 == 0 else "blue ")) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    dropped = tfidf_doc_topk(
        docs, "doc_id", "text", [0], k=5, max_df_frac=0.03
    ).collect()
    assert dropped == []  # the stop-term CUT zeroes recall here
    capped = tfidf_doc_topk(
        docs, "doc_id", "text", [0], k=5, max_postings=8
    ).collect()
    assert len(capped) == 5
    full = {
        r["doc_id"]: r["cosine"]
        for r in tfidf_doc_topk(docs, "doc_id", "text", [0], k=30).collect()
    }
    for r in capped:
        assert r["cosine"] <= full[r["doc_id"]] + 1e-9  # pruned mass only shrinks dots


def test_tfidf_doc_topk_auto_cap_is_default_lazy_and_binding(spark):
    """r11 (r10 VERDICT item 3): max_postings defaults to the corpus-aware
    max(64, n_docs // 1000) — computed PLAN-SIDE (no eager count action at
    build), present in the default plan (the cap window + the broadcast
    n_docs scalar), equal to an explicit 64 below 64k docs, and actually
    binding on a >64-df term."""
    from ml_feature_store_pipeline_spark.operators.text import tfidf_doc_topk

    # 80 docs sharing the stop term 'the' (df=80 > 64; all tf=1, so the
    # cap keeps ids 0..63 and prunes 64..79). Query doc 0 is pure "the";
    # docs 64..79 are also pure "the" (cosine 1.0 — the uncapped BEST
    # matches) while 1..63 carry an extra term (bigger norm, lower
    # cosine) — so the cap visibly changes the top-10, not just the tail.
    rows = [(i, "the" if i == 0 or i >= 64 else f"the w{i % 7}") for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sc = spark.sparkContext
    sc.setJobGroup("tfidf-lazy-probe", "plan build must run no jobs")
    try:
        auto = tfidf_doc_topk(docs, "doc_id", "text", [0], k=10)
        probe_jobs = sc.statusTracker().getJobIdsForGroup("tfidf-lazy-probe")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(probe_jobs) == [], "auto cap ran an eager action at plan build"

    plan = auto._jdf.queryExecution().optimizedPlan().toString()
    assert "__ppr" in plan and "__nd" in plan, plan  # cap windows + n_docs scalar
    uncapped_plan = (
        tfidf_doc_topk(docs, "doc_id", "text", [0], k=10, max_postings=None)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "__ppr" not in uncapped_plan

    got_auto = sorted(map(tuple, auto.collect()))
    got_64 = sorted(
        map(
            tuple,
            tfidf_doc_topk(
                docs, "doc_id", "text", [0], k=10, max_postings=64
            ).collect(),
        )
    )
    assert got_auto == got_64  # auto == max(64, 80//1000) == 64 here
    got_full = sorted(
        map(
            tuple,
            tfidf_doc_topk(
                docs, "doc_id", "text", [0], k=10, max_postings=None
            ).collect(),
        )
    )
    assert got_auto != got_full  # df=80 stop term: the 64-cap binds


def test_tfidf_doc_topk_posting_cap_recall_floor(spark):
    """Moderate cap on a mixed corpus: the capped top-3 must recover most
    of the uncapped top-3 (recall >= 0.8 over 5 queries) — the graceful
    degradation the cap promises."""
    from ml_feature_store_pipeline_spark.operators.text import tfidf_doc_topk

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (i, " ".join(words[(i + j) % 6] for j in range(4)) + " common")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qs = list(range(5))
    gt = {
        (r["query_id"], r["doc_id"])
        for r in tfidf_doc_topk(docs, "doc_id", "text", qs, k=3).collect()
    }
    got = {
        (r["query_id"], r["doc_id"])
        for r in tfidf_doc_topk(
            docs, "doc_id", "text", qs, k=3, max_postings=16
        ).collect()
    }
    assert len(got & gt) / len(gt) >= 0.8
