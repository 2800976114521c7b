"""Dedup operator tests: exact, shingles, MinHash/LSH, Jaccard, SimHash."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from test_plans import SF

from ml_feature_store_pipeline_spark.functions import ngrams, tokens
from ml_feature_store_pipeline_spark.operators import dedup, text
from ml_feature_store_pipeline_spark.quality import profile
from ml_feature_store_pipeline_spark.sources.readers import read_table

#: the sf0.01 driver test tables, beside the sf0.001 ones
SF001 = os.path.join(os.path.dirname(SF), "sf0.01")


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different text about spark engines here"),
        (5, "hi"),  # too short for 3-gram shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(spark, docs):
    hashed = docs.select("doc_id", F.md5("text").alias("h"))
    for method in ("digest", "raw"):
        out = dedup.exact_dedup(hashed, ["h"], "doc_id", method=method)
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4, 5]
    with pytest.raises(ValueError):
        dedup.exact_dedup(hashed, ["h"], "doc_id", method="nope")


def test_exact_dedup_digest_distinguishes_null_from_empty(spark):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, ""), (4, None)], "doc_id long, text string"
    )
    out = dedup.exact_dedup(df, ["text"], "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]


def test_exact_dedup_digest_shuffle_carries_digest_not_text(spark, docs):
    # the grouping exchange must partition on the md5 digest and carry only
    # (digest, id) — the text column appears in NO aggregation exchange
    out = dedup.exact_dedup(docs, ["text"], "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    agg_exchanges = [
        seg for seg in plan.split("Exchange hashpartitioning(")[1:]
        if seg[: seg.index(")")].startswith("__digest")
    ]
    assert agg_exchanges, f"no digest-keyed exchange in plan:\n{plan}"
    assert "Exchange hashpartitioning(text" not in plan
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4, 5]


def test_duplicate_stats(docs):
    """The C10 duplicate fraction over the content column comes from
    ``quality.profile``."""
    prof = profile(docs.select("text"))
    assert prof.row_count == 5 and prof.distinct_rows == 4
    assert prof.duplicate_percentage == pytest.approx(1 / 5)


def _lambda_shingles(text_col, n):
    """The per-position lambda form word shingles had before
    ``ngrams(tokens(text), n)`` became lambda-free: the reference its
    outputs must keep equal to."""
    toks = tokens(text_col)
    count = F.size(toks) - F.lit(n - 1)
    make = F.transform(
        F.sequence(F.lit(1), count), lambda i: F.concat_ws(" ", F.slice(toks, i, n))
    )
    return F.when(count >= 1, make).otherwise(F.array().cast("array<string>"))


def test_word_shingles(spark):
    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b"), (2, ""), (3, None), (4, "\tA b  c d"), (5, "x")],
        "i int, text string",
    )

    def shingles(n):
        rows = df.select("i", ngrams(tokens(F.col("text")), n).alias("sh")).collect()
        return [r["sh"] for r in sorted(rows)]

    out = shingles(3)
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == []  # shorter than n → empty, not a descending-sequence error
    assert out[2] == []
    assert out[3] == []  # NULL text
    assert out[4] == ["A b c", "b c d"]  # a leading tab is not a token
    assert out[5] == []
    assert shingles(1) == [["a", "b", "c", "d"], ["a", "b"], [], [], ["A", "b", "c", "d"], ["x"]]


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_word_shingles_equal_the_lambda_form_on_documents(spark, n):
    docs = read_table(spark, SF001, "documents")
    new = docs.select("doc_id", ngrams(tokens(F.col("text")), n).alias("sh"))
    old = docs.select("doc_id", _lambda_shingles(F.col("text"), n).alias("sh"))
    assert sorted(new.collect()) == sorted(old.collect())


def _lambda_functions(plan: str) -> list[str]:
    """Every ``lambdafunction(...)`` of a plan string, parentheses balanced."""
    out, start = [], 0
    while (i := plan.find("lambdafunction(", start)) >= 0:
        depth = 0
        for j in range(i + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                break
        out.append(plan[i : j + 1])
        start = i + 1
    return out


def test_no_tokenizer_inside_a_lambda(spark):
    """Catalyst does not hoist an expression out of a lambda body, so a
    tokenizer ``split(`` inside one runs once per element (O(W²) per
    document). None of the n-gram kernels may put it there."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c")], "doc_id long, text string"
    )
    frames = {
        "ngrams_of_tokens": docs.select(ngrams(tokens(F.col("text")), 3)),
        "chunk_documents": text.chunk_documents(docs, "doc_id", "text", chunk_tokens=3, overlap=1),
        "repetition_stats": text.repetition_stats(docs, "doc_id", "text"),
        "corpus_duplication_rate": text.corpus_duplication_rate(docs, "text", ngram=2),
        "ngram_overlap_pairs": dedup.ngram_overlap_pairs(docs, docs, "doc_id", "text", n=2),
        "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs(docs, "doc_id", "text"),
        "minhash_signatures": dedup.minhash_signatures(docs, "doc_id", "text"),
    }
    for name, frame in frames.items():
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        assert "split(" in plan, name
        inside = [f for f in _lambda_functions(plan) if "split(" in f]
        assert not inside, (name, inside[:1])


def test_minhash_identical_docs_identical_signatures(docs):
    sig = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    rows = {r["doc_id"]: r["signature"] for r in sig.collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[4]
    assert all(v is None for v in rows[5])  # no shingles → null mins


def test_lsh_pairs_find_exact_and_near_dups(docs):
    pairs = dedup.lsh_candidate_pairs(docs, "doc_id", "text", num_hashes=8, bands=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical docs always collide in every band
    assert all(a < b for a, b in got)


def test_lsh_bucket_cap_limits_pairs(spark):
    # 10 identical docs, cap at 4 → C(4,2)=6 pairs instead of C(10,2)=45
    df = spark.createDataFrame([(i, "same text for every doc here") for i in range(10)], "doc_id long, text string")
    pairs = dedup.lsh_candidate_pairs(df, "doc_id", "text", max_bucket_size=4)
    assert pairs.count() == 6


def test_ngram_jaccard_exact_values(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c}; jaccard = 1/2
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c")], "doc_id long, text string")
    out = dedup.ngram_jaccard_pairs(df, "doc_id", "text", shingle_n=3).collect()
    assert len(out) == 1
    assert out[0]["jaccard"] == pytest.approx(0.5)


def test_ngram_jaccard_threshold(docs):
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert got == {(1, 2)}  # only the exact dup survives jaccard ≥ 0.99


def test_lsh_rejects_non_divisible_bands(docs):
    with pytest.raises(ValueError, match="must divide"):
        dedup.lsh_candidate_pairs(docs, "doc_id", "text", num_hashes=8, bands=3)


def test_ngram_df_cut_stops_hot_shingle_explosion(spark):
    # 40 docs share ONE boilerplate shingle ("legal footer text") but are
    # otherwise unique. Uncapped, the hot posting list alone expands to
    # C(40,2)=780 pairs; with the cut it contributes none, and only the
    # genuinely-similar pair (100, 101) remains.
    rows = [(i, f"legal footer text unique{i} body{i} tail{i}") for i in range(40)]
    rows += [(100, "x y z w v"), (101, "x y z w q")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.ngram_jaccard_pairs(df, "doc_id", "text", max_doc_frequency=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(100, 101)}
    uncapped = dedup.ngram_jaccard_pairs(df, "doc_id", "text", max_doc_frequency=None)
    assert uncapped.count() == 780 + 1


def test_ngram_df_cut_semantics_match_filtered_universe(spark):
    # With the cut, jaccard is exact over the filtered vocabulary: sizes
    # shrink along with intersections (not just the postings).
    rows = [
        (1, "hot shingle here a b c"),   # shingles: {hot shingle here, shingle here a, here a b, a b c}
        (2, "hot shingle here a b d"),
        (3, "hot shingle here q r s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # "hot shingle here" appears in all 3 docs; cap at 2 removes it.
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, "doc_id", "text", max_doc_frequency=2).collect()
    }
    # docs 1,2 share {shingle here a, here a b} of filtered sizes 3 and 3 → 2/4
    assert out[(1, 2)] == pytest.approx(2 / 4)
    # docs 1,3 and 2,3 shared only the removed shingle → no pair at all
    assert (1, 3) not in out and (2, 3) not in out


def test_simhash_properties(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]  # identical docs → identical simhash
    ham_near = bin(sigs[1] ^ sigs[3]).count("1")
    ham_far = bin(sigs[1] ^ sigs[4]).count("1")
    assert ham_near < ham_far  # near dup closer in hamming space
    assert all(-(1 << 63) <= s < (1 << 63) for s in sigs.values())  # signed 64-bit


def test_simhash_packed_equals_unpacked(spark, docs):
    # the packed (16×4-field) aggregation must be BIT-EXACT with the
    # unpacked 64-sum reference, including the tie case (2·cnt == n, bit
    # set) that a strict > would flip
    a = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text", packed=True).collect()}
    b = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text", packed=False).collect()}
    assert a == b
    # adversarial shapes: 1-token docs (every count 0 or 1, n=1), 2-token
    # docs with distinct tokens (exact 2·cnt == n ties on disagreeing bits)
    edge = spark.createDataFrame(
        [(1, "solo"), (2, "alpha beta"), (3, "x x x x"), (4, "a b c d e f g")],
        "doc_id long, text string",
    )
    pa = {r["doc_id"]: r["simhash"] for r in dedup.simhash(edge, "doc_id", "text", packed=True).collect()}
    pb = {r["doc_id"]: r["simhash"] for r in dedup.simhash(edge, "doc_id", "text", packed=False).collect()}
    assert pa == pb
    # the xxhash64 fast path: packed==unpacked under the alternate hash too,
    # and identical docs still collide exactly
    xa = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text", hash_fn="xxhash64").collect()}
    xb = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text", packed=False, hash_fn="xxhash64").collect()}
    assert xa == xb
    assert xa[1] == xa[2]  # identical docs → identical signature


def test_simhash_packed_overflow_guard(spark):
    import pytest as _pytest

    big = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(40_000)))], "doc_id long, text string"
    )
    with _pytest.raises(Exception) as ei:
        dedup.simhash(big, "doc_id", "text", packed=True).collect()
    msg = str(ei.value)
    assert "packed accumulators overflow" in msg or "overflow" in msg.lower()
    # and the escape hatch handles the same doc
    assert dedup.simhash(big, "doc_id", "text", packed=False).count() == 1


def test_simhash_near_pairs(docs):
    out = dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert got[(1, 2)] == 0
    assert all(h <= 3 for h in got.values())


def test_simhash_near_pairs_degenerate_bucket_is_capped(spark, docs):
    # 300 identical docs put ALL members into the same byte-bucket of every
    # band — the old band self-join would emit C(300,2)=44850 pairs; the
    # capped group-expand must retain max_bucket_size members per bucket
    # and emit exactly C(cap,2) distinct pairs (same sorted prefix in every
    # band), still transitively linking the retained ids.
    n, cap = 300, 20
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("same exact text for every doc").alias("text")
    )
    out = dedup.simhash_near_pairs(df, "doc_id", "text", max_hamming=0, max_bucket_size=cap)
    assert out.count() == cap * (cap - 1) // 2
    # and the cap is inert on small corpora: same result as a huge cap
    a = set(map(tuple, dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3).collect()))
    b = set(map(tuple, dedup.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3, max_bucket_size=10
    ).collect()))
    assert a == b


class TestChunking:
    def _chunks(self, spark, rows, **kw):
        from ml_feature_store_pipeline_spark.operators import text as t
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = t.chunk_documents(df, "doc_id", "text", **kw)
        got = {}
        for r in out.collect():
            got.setdefault(r["doc_id"], {})[r["chunk_id"]] = r
        return got

    def test_empty_and_short_docs(self, spark):
        got = self._chunks(
            spark,
            [(1, ""), (2, "   "), (3, "one two"), (4, "a b c d e f g h")],
            chunk_tokens=4, overlap=2,
        )
        assert 1 not in got and 2 not in got          # token-less → no chunks
        assert list(got[3]) == [0]                     # short doc → one chunk
        assert got[3][0]["chunk_text"] == "one two"
        # 8 tokens, chunk 4, stride 2 → starts 0,2,4 (start 6 adds no new token)
        assert [got[4][i]["chunk_text"] for i in sorted(got[4])] == [
            "a b c d", "c d e f", "e f g h",
        ]

    def test_overlap_and_coverage(self, spark):
        words = " ".join(f"w{i}" for i in range(150))
        got = self._chunks(spark, [(1, words)], chunk_tokens=64, overlap=16)
        chunks = [got[1][i]["chunk_text"].split() for i in sorted(got[1])]
        # consecutive chunks share exactly `overlap` tokens
        for a, b in zip(chunks, chunks[1:]):
            assert a[-16:] == b[:16]
        # stitched back together (drop the overlap) == original token stream
        stitched = chunks[0] + [w for c in chunks[1:] for w in c[16:]]
        assert stitched == words.split()
        assert all(len(c) <= 64 for c in chunks)


class TestScrubAndRepetition:
    def test_scrub_masks_and_counts(self, spark):
        from ml_feature_store_pipeline_spark.operators import text as t

        df = spark.createDataFrame(
            [(1, "write bob@x.com and alice@y.org or call 123456789 via https://a.b/c?d=1")],
            "doc_id long, text string",
        )
        r = t.scrub_pii(df, "doc_id", "text").collect()[0]
        assert r["n_email"] == 2 and r["n_url"] == 1 and r["n_long_digits"] == 1
        s = r["scrubbed_text"]
        assert "<email>" in s and "<url>" in s and "<long_digits>" in s
        assert "bob@" not in s and "123456789" not in s and "https://" not in s

    def test_scrub_clean_text_untouched(self, spark):
        from ml_feature_store_pipeline_spark.operators import text as t

        df = spark.createDataFrame([(1, "perfectly ordinary sentence 42")], "doc_id long, text string")
        r = t.scrub_pii(df, "doc_id", "text").collect()[0]
        assert r["scrubbed_text"] == "perfectly ordinary sentence 42"
        assert r["n_email"] == r["n_url"] == r["n_long_digits"] == 0

    def test_repetition_extremes(self, spark):
        from ml_feature_store_pipeline_spark.operators import text as t

        df = spark.createDataFrame(
            [(1, "x x x x x"),            # all bigrams identical
             (2, "a b c d e"),            # all bigrams distinct
             (3, "solo"), (4, "")],       # too short for bigrams
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in t.repetition_stats(df, "doc_id", "text").collect()}
        assert got[1]["top_ngram_frac"] == 1.0 and got[1]["dup_ngram_frac"] == 0.75
        assert got[2]["top_ngram_frac"] == 0.25 and got[2]["dup_ngram_frac"] == 0.0
        assert got[3]["top_ngram_frac"] == 0.0 and got[4]["dup_ngram_frac"] == 0.0


class TestConnectedComponents:
    def test_chains_cycles_and_separate_clusters(self, spark):
        from ml_feature_store_pipeline_spark.operators import dedup as d

        pairs = spark.createDataFrame(
            # chain 1-2-3-4, cycle 5-6-7-5, pair 10-11
            [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (7, 5), (10, 11)],
            "id_a long, id_b long",
        )
        got = {r["node"]: r["component"] for r in d.connected_components(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 10: 10, 11: 10}

    def test_long_path_converges(self, spark):
        from ml_feature_store_pipeline_spark.operators import dedup as d

        n = 40  # diameter 40 ≫ typical; still must converge (min ripples fast)
        pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], "id_a long, id_b long")
        got = {r["node"]: r["component"] for r in d.connected_components(pairs, max_iter=50).collect()}
        assert set(got.values()) == {0} and len(got) == n + 1

    def test_string_ids_multi_hop(self, spark):
        # regression: a numeric-sum convergence probe NULLs out on string
        # ids and stops after one round, mislabeling multi-hop chains
        from ml_feature_store_pipeline_spark.operators import dedup as d

        pairs = spark.createDataFrame(
            [("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")],
            "id_a string, id_b string",
        )
        got = {r["node"]: r["component"] for r in d.connected_components(pairs).collect()}
        assert got == {"b": "b", "c": "b", "d": "b", "e": "b", "x": "x", "y": "x"}

    def test_survivors_keep_min_and_untouched_docs(self, spark):
        from ml_feature_store_pipeline_spark.operators import dedup as d

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 99)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
        kept = sorted(r["doc_id"] for r in d.dedup_survivors(docs, pairs, "doc_id").collect())
        assert kept == [1, 10, 99]


# ------------------------------------------------------ incremental LSH pairs
def _inc_corpus(spark):
    rows = []
    for i in range(40):
        base = f"alpha beta gamma delta epsilon zeta eta theta doc{i % 7} tail{i % 5} word{i}"
        rows.append((i, base))
    # near-dups: 100/101 copy docs 0/1 (cross new/corpus), 102 copies 100 (new/new)
    rows += [(100, rows[0][1]), (101, rows[1][1] + " extra"), (102, rows[0][1])]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_lsh_matches_filtered_full_run(spark):
    docs = _inc_corpus(spark)
    new = docs.filter(F.col("doc_id") >= 100)
    corpus = docs.filter(F.col("doc_id") < 100)
    full = dedup.lsh_candidate_pairs(docs, "doc_id", "text")
    expected = sorted(
        (r["id_a"], r["id_b"])
        for r in full.collect()
        if r["id_a"] >= 100 or r["id_b"] >= 100
    )
    got = dedup.lsh_candidate_pairs_incremental(new, corpus, "doc_id", "text")
    assert sorted((r["id_a"], r["id_b"]) for r in got.collect()) == expected
    assert expected, "fixture must actually produce cross-batch pairs"
    # corpus-corpus pairs exist in the full run but never in the incremental
    corpus_only = [
        (r["id_a"], r["id_b"]) for r in full.collect() if r["id_a"] < 100 and r["id_b"] < 100
    ]
    if corpus_only:
        inc = {(r["id_a"], r["id_b"]) for r in got.collect()}
        assert not inc.intersection(corpus_only)


def test_incremental_lsh_accepts_precomputed_signatures(spark):
    docs = _inc_corpus(spark)
    new = docs.filter(F.col("doc_id") >= 100)
    corpus = docs.filter(F.col("doc_id") < 100)
    sigs = dedup.minhash_signatures(corpus, "doc_id", "text")
    a = dedup.lsh_candidate_pairs_incremental(new, corpus, "doc_id", "text")
    b = dedup.lsh_candidate_pairs_incremental(
        new, corpus, "doc_id", "text", corpus_signatures=sigs
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_incremental_lsh_cap_matches_full_run(spark):
    # one degenerate bucket spanning both sides: cap retention (smallest ids)
    # must match the full run so emitted pairs agree
    docs = spark.createDataFrame(
        [(i, "same boilerplate text everywhere always") for i in range(20)],
        "doc_id long, text string",
    )
    new = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    full = dedup.lsh_candidate_pairs(docs, "doc_id", "text", max_bucket_size=6)
    expected = sorted(
        (r["id_a"], r["id_b"])
        for r in full.collect()
        if r["id_a"] % 4 == 0 or r["id_b"] % 4 == 0
    )
    got = dedup.lsh_candidate_pairs_incremental(
        new, corpus, "doc_id", "text", max_bucket_size=6
    )
    assert sorted((r["id_a"], r["id_b"]) for r in got.collect()) == expected


def test_cc_local_path_equals_distributed_loop(spark, jobs_run_by):
    """The size-gated driver union-find must be output-identical to the
    distributed min-label loop on the same graph (chain, clique, loners)."""
    from ml_feature_store_pipeline_spark.operators.dedup import connected_components

    # (1, 2) twice: the local path unions raw pair rows, duplicates included
    pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (10, 11), (11, 10), (20, 21), (21, 22), (22, 20), (30, 31)],
        "id_a long, id_b long",
    )
    # under threshold -> local: one checkpoint of the pairs, one collect
    # into union-find (a distinct edge set, its count and a second collect
    # took 6 jobs)
    local, jobs = jobs_run_by(lambda: connected_components(pairs).collect())
    assert jobs <= 4, jobs
    dist = connected_components(pairs, local_threshold=0).collect()  # forced loop
    assert sorted(map(tuple, local)) == sorted(map(tuple, dist))
    comp = {r["node"]: r["component"] for r in local}
    assert comp[3] == 1 and comp[11] == 10 and comp[22] == 20 and comp[31] == 30


class TestNgramOverlap:
    """r5 decontamination: GPT-3-style n-gram overlap between a training
    corpus and a benchmark set."""

    def _pairs(self, spark, **kw):
        from ml_feature_store_pipeline_spark.operators.dedup import ngram_overlap_pairs

        train = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "completely unrelated text with different words here"),
                (3, "the quick brown fox appears in this document too"),
            ],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(100, "we ask about the quick brown fox jumps again")],
            "doc_id long, text string",
        )
        return ngram_overlap_pairs(train, ev, "doc_id", "text", **kw).collect()

    def test_overlapping_grams_flag_the_pair(self, spark):
        rows = self._pairs(spark, n=4)
        got = {(r["train_id"], r["eval_id"]): r["n_shared_grams"] for r in rows}
        # doc 1 shares "the quick brown fox" AND "quick brown fox jumps"
        assert got[(1, 100)] == 2
        # doc 3 shares only "the quick brown fox"
        assert got[(3, 100)] == 1
        assert (2, 100) not in got

    def test_longer_n_is_stricter(self, spark):
        rows = self._pairs(spark, n=5)
        got = {(r["train_id"], r["eval_id"]) for r in rows}
        assert got == {(1, 100)}  # only "the quick brown fox jumps" survives

    def test_repeated_gram_in_one_doc_counts_once(self, spark):
        from ml_feature_store_pipeline_spark.operators.dedup import ngram_overlap_pairs

        train = spark.createDataFrame(
            [(1, "a b c a b c a b c")], "doc_id long, text string"
        )
        ev = spark.createDataFrame([(9, "x a b c y")], "doc_id long, text string")
        rows = ngram_overlap_pairs(train, ev, "doc_id", "text", n=3).collect()
        assert [(r["train_id"], r["eval_id"], r["n_shared_grams"]) for r in rows] == [
            (1, 9, 1)
        ]

    def test_train_df_cap_drops_boilerplate_grams(self, spark):
        from ml_feature_store_pipeline_spark.operators.dedup import ngram_overlap_pairs

        train = spark.createDataFrame(
            [(i, "shared legal header text plus unique" + f" w{i}") for i in range(5)],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(9, "shared legal header text plus unique w3")], "doc_id long, text string"
        )
        uncapped = ngram_overlap_pairs(train, ev, "doc_id", "text", n=4).collect()
        assert len(uncapped) == 5  # the header gram pairs EVERY train doc
        capped = ngram_overlap_pairs(
            train, ev, "doc_id", "text", n=4, max_train_gram_df=2
        ).collect()
        # boilerplate grams cut; only doc 3's unique suffix gram survives
        assert [(r["train_id"], r["eval_id"]) for r in capped] == [(3, 9)]


def test_ngram_posting_cap_bounds_pairs_and_keeps_links(spark):
    """r5 dense-corpus fix: max_posting_size bounds the pair expansion by
    shingles × C(cap, 2); retained pairs still link the capped posting's
    members transitively, and reported jaccard never EXCEEDS the exact
    value (lower-bound semantics — threshold filtering stays conservative)."""
    from ml_feature_store_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    # 6 docs sharing one identical text: one shingle universe, df = 6
    docs = spark.createDataFrame(
        [(i, "a b c d e") for i in range(6)], "doc_id long, text string"
    )
    exact = ngram_jaccard_pairs(docs, "doc_id", "text")
    assert exact.count() == 15  # C(6,2), all jaccard 1.0
    capped = ngram_jaccard_pairs(docs, "doc_id", "text", max_posting_size=3)
    rows = capped.collect()
    assert len(rows) == 3  # C(3,2) per posting
    ids = {r["id_a"] for r in rows} | {r["id_b"] for r in rows}
    assert ids == {0, 1, 2}  # first cap members, sorted — still one linked cluster
    ex = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
    for r in rows:
        assert r["jaccard"] <= ex[(r["id_a"], r["id_b"])] + 1e-9


def test_ngram_jaccard_pairs_shingles_once(spark, jobs_run_by):
    """The set sizes ride in the postings, so the corpus is shingled once
    and no size join re-derives it: at most 5 jobs. The result equals a
    Python recomputation with the same DF cut and posting cap."""
    from itertools import combinations

    from ml_feature_store_pipeline_spark.operators.dedup import ngram_jaccard_pairs

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    texts = {i: " ".join(words[(i * 3 + k * k) % 10] for k in range(6)) for i in range(24)}
    texts[30] = texts[31] = texts[32] = texts[33] = "boiler plate footer here"
    # persisted, as a curation chain hands over each stage's output
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string").persist()
    docs.count()
    max_df, cap = 3, 2

    def shingles(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    postings: dict = {}
    for i, t in texts.items():
        for s in shingles(t):
            postings.setdefault(s, []).append(i)
    kept = {s: sorted(ids) for s, ids in postings.items() if len(ids) <= max_df}
    assert len(kept) < len(postings)  # the cut removes at least one shingle
    assert any(len(ids) > cap for ids in kept.values())  # and the cap bites
    size = {i: sum(i in ids for ids in kept.values()) for i in texts}
    inter: dict = {}
    for ids in kept.values():
        for pair in combinations(ids[:cap], 2):
            inter[pair] = inter.get(pair, 0) + 1
    want = {(a, b): n / (size[a] + size[b] - n) for (a, b), n in inter.items()}

    rows, jobs = jobs_run_by(
        lambda: ngram_jaccard_pairs(
            docs, "doc_id", "text", max_doc_frequency=max_df, max_posting_size=cap
        ).collect()
    )
    docs.unpersist()
    assert {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows} == want
    assert jobs <= 5, jobs


def test_dedup_survivors_small_graph_broadcasts_losers(spark):
    """The union-find result is built on the driver, which leaves Spark no
    size statistics; it is marked for broadcast, so the loser anti-join
    never sort-merge-shuffles the documents and their text."""
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    kept = dedup.dedup_survivors(docs, pairs, "doc_id")
    assert kept.count() == 7
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" in plan, plan


def test_union_find_frame_is_a_local_relation(spark):
    """The driver-side union-find result is an Arrow-built LocalRelation:
    scanning it runs no job, and its values (string ids here) round-trip
    exactly, so the survivors are unchanged."""
    docs = spark.createDataFrame(
        [(f"d{i:02d}", f"text {i}") for i in range(10)], "doc_id string, text string"
    )
    pairs = spark.createDataFrame(
        [("d01", "d02"), ("d02", "d03"), ("d05", "d06"), ("d09", "d05")],
        "id_a string, id_b string",
    )
    comps = dedup.connected_components(pairs)
    plan = comps._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert sorted(tuple(r) for r in comps.collect()) == sorted(
        dedup.union_find_components([tuple(r) for r in pairs.collect()]).items()
    )
    kept = dedup.dedup_survivors(docs, pairs, "doc_id")
    assert sorted(r["doc_id"] for r in kept.collect()) == [
        "d00", "d01", "d04", "d05", "d07", "d08"
    ]


def test_dedup_survivors_by_priority_keeps_best_member(spark):
    """r7: priority survivors — highest priority wins each cluster, ties
    break to min id, unpaired docs survive untouched, and min-id survivors
    (the plain rule) differ exactly where priorities disagree with ids."""
    from ml_feature_store_pipeline_spark.operators.dedup import (
        dedup_survivors,
        dedup_survivors_by_priority,
    )

    docs = spark.createDataFrame(
        [
            (1, 5.0), (2, 9.0), (3, 7.0),   # cluster {1,2,3} → keep 2
            (10, 4.0), (11, 4.0),           # cluster {10,11}, tie → keep 10
            (20, 1.0),                      # unpaired → survives
        ],
        "doc_id long, prio double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    kept = dedup_survivors_by_priority(docs, pairs, "doc_id", F.col("prio"))
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 10, 20]
    # the min-id rule keeps 1 instead of 2 — priorities really steer
    plain = dedup_survivors(docs, pairs, "doc_id")
    assert sorted(r["doc_id"] for r in plain.collect()) == [1, 10, 20]


def test_substring_overlap_detects_guaranteed_run_and_counts_windows(spark):
    """The stride guarantee: any shared verbatim run of length
    passage_len + stride - 1 must be flagged; disjoint texts must not be.
    Window counting is of DISTINCT matched train windows."""
    from ml_feature_store_pipeline_spark.operators.dedup import (
        substring_overlap_pairs,
    )

    L, S = 10, 4  # guarantee: shared runs >= 13 chars always caught
    shared = "abcdefghijklm"      # exactly L + S - 1 = 13 chars
    shared17 = "abcdefghijklmnopq"  # 17 chars -> strided windows at 1 and 5
    train = spark.createDataFrame(
        [
            (1, "xxxxx" + shared + "yyyyy"),     # contains the run mid-text
            (2, "zzzzzzzzzzzzzzzzzzzzzzzzzz"),   # no overlap
            (3, shared17),                        # the run IS the text
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "padpadpad" + shared17 + "tailtail")], "doc_id long, text string"
    )
    out = {
        (r["train_id"], r["eval_id"]): r["n_shared_passages"]
        for r in substring_overlap_pairs(
            train, eval_df, "doc_id", "text", passage_len=L, stride=S
        ).collect()
    }
    assert (1, 100) in out and (3, 100) in out
    assert all(tid != 2 for tid, _ in out)
    # doc 3 = the bare 17-char run: strided window starts are
    # sequence(1, 8, 4) = {1, 5}, both inside the run -> 2 distinct
    # matched windows
    assert out[(3, 100)] == 2


def test_substring_overlap_is_case_insensitive_and_skips_short_docs(spark):
    from ml_feature_store_pipeline_spark.operators.dedup import (
        substring_overlap_pairs,
    )

    train = spark.createDataFrame(
        [(1, "The Quick Brown Fox Jumps"), (2, "tiny")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(9, "zzz the quick brown fox jumps zzz"), (10, "abc")],
        "doc_id long, text string",
    )
    rows = substring_overlap_pairs(
        train, eval_df, "doc_id", "text", passage_len=20, stride=3
    ).collect()
    assert {(r["train_id"], r["eval_id"]) for r in rows} == {(1, 9)}

    import pytest

    with pytest.raises(ValueError, match="positive"):
        substring_overlap_pairs(
            train, eval_df, "doc_id", "text", passage_len=0, stride=3
        )


def test_substring_overlap_guarantee_boundary_is_tight(spark):
    """Tightness of the detection guarantee: a shared run of EXACTLY
    passage_len + stride - 1 chars is always caught (proven above), while
    a run one char shorter CAN be missed when positioned so no strided
    window start lands inside it — the documented grain, not a bug. With
    stride starts at 1+kS, a run starting at r covers start positions
    [r, r+len-L]; at len = L+S-2 that interval spans S-1 residues mod S,
    so r ≡ 2 (mod S) dodges every start."""
    from ml_feature_store_pipeline_spark.operators.dedup import (
        substring_overlap_pairs,
    )

    L, S = 10, 4
    run12 = "abcdefghijkl"   # L + S - 2 = 12: miss-able
    run13 = run12 + "m"       # L + S - 1 = 13: guaranteed
    # train text: 5 z's -> run starts at char 6 = 4*1 + 2 ≡ 2 (mod 4)
    train = spark.createDataFrame(
        [(1, "zzzzz" + run12 + "zzzzz"), (2, "zzzzz" + run13 + "zzzzz")],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(9, "qqqq" + run13 + "qqqq")], "doc_id long, text string"
    )
    found = {
        r["train_id"]
        for r in substring_overlap_pairs(
            train, eval_df, "doc_id", "text", passage_len=L, stride=S
        ).collect()
    }
    assert 2 in found      # >= L+S-1: the guarantee
    assert 1 not in found  # == L+S-2 at r ≡ 2 (mod S): outside the grain


def test_substring_overlap_matches_bruteforce_on_random_corpus(spark):
    """Seeded random word-soup corpus: the operator's pair set and window
    counts must equal a pure-Python recompute of the same definition
    (distinct strided train windows contained in the eval text) — catches
    any off-by-one in position sequences, casing, or hash/verify wiring."""
    import random

    from ml_feature_store_pipeline_spark.operators.dedup import (
        substring_overlap_pairs,
    )

    rng = random.Random(90210)
    vocab = ["key", "agg", "row", "scan", "slow", "fast", "table", "value"]
    L, S = 12, 5

    def doc():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 25)))

    train_rows = [(i, doc()) for i in range(60)]
    eval_rows = [(1000 + i, doc()) for i in range(8)]

    def windows(text, step):
        t = text.lower()
        if len(t) < L:
            return set()
        return {t[p : p + L] for p in range(0, len(t) - L + 1, step)}

    expected = {}
    for tid, ttxt in train_rows:
        tw = windows(ttxt, S)
        for eid, etxt in eval_rows:
            et = etxt.lower()
            n = sum(1 for w in tw if w in et)
            if n:
                expected[(tid, eid)] = n

    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    eval_df = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {
        (r["train_id"], r["eval_id"]): r["n_shared_passages"]
        for r in substring_overlap_pairs(
            train, eval_df, "doc_id", "text", passage_len=L, stride=S
        ).collect()
    }
    assert got == expected and expected  # non-vacuous: the corpus collides
