"""Similarity search tests: exact cosine vs numpy, LSH recall, near-dup."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ml_feature_store_pipeline_spark.functions import cosine_similarity, dot, l2_norm
from ml_feature_store_pipeline_spark.operators import similarity

DIM = 16
N = 60


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(7)
    return rng.normal(size=(N, DIM)).astype("float32")


@pytest.fixture(scope="module")
def corpus(spark, vectors):
    rows = [(i, [float(x) for x in vectors[i]]) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def np_cosine(a, b):
    return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_vector_primitives_match_numpy(spark, vectors):
    a, b = vectors[0], vectors[1]
    df = spark.createDataFrame(
        [([float(x) for x in a], [float(x) for x in b])], "a array<float>, b array<float>"
    )
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("dot"),
        l2_norm(F.col("a")).alias("na"),
        cosine_similarity(F.col("a"), F.col("b")).alias("cos"),
    ).collect()[0]
    assert row["dot"] == pytest.approx(float(np.dot(a.astype("f8"), b.astype("f8"))), rel=1e-9)
    assert row["na"] == pytest.approx(float(np.linalg.norm(a.astype("f8"))), rel=1e-9)
    assert row["cos"] == pytest.approx(np_cosine(a.astype("f8"), b.astype("f8")), rel=1e-9)


def test_cosine_topk_matches_numpy(spark, corpus, vectors):
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(queries, corpus, k=5)
    rows = out.collect()
    v = vectors.astype("f8")
    for q in range(3):
        sims = [(np_cosine(v[q], v[i]), i) for i in range(N)]
        expected = [i for _, i in sorted(sims, key=lambda t: (-t[0], t[1]))[:5]]
        got = [r["vec_id"] for r in sorted(rows, key=lambda r: r["rank"]) if r["query_id"] == q]
        assert got == expected


def test_cosine_topk_self_is_rank_one(corpus):
    queries = corpus.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = similarity.cosine_topk(queries, corpus, k=1).collect()[0]
    assert top["vec_id"] == 0
    assert top["cosine"] == pytest.approx(1.0)


def test_lsh_topk_recall_reasonable(spark, corpus, vectors):
    """LSH is approximate; with the auto-sized params (4 planes × 8 tables
    at N=60) the true nearest neighbor (self) must always be found, and
    results must be a subset of scored candidates with correct ordering."""
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.lsh_topk(queries, corpus, k=3, dim=DIM).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        ranked = sorted(rows, key=lambda r: r["rank"])
        assert ranked[0]["vec_id"] == q  # self shares every bucket → rank 1
        cosines = [r["cosine"] for r in ranked]
        assert cosines == sorted(cosines, reverse=True)


def test_embedding_near_dup_finds_planted_duplicate(spark, vectors):
    planted = np.vstack([vectors, vectors[0] * 1.001])  # scaled copy: cosine ≈ 1
    rows = [(i, [float(x) for x in planted[i]]) for i in range(len(planted))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.embedding_near_dup_pairs(df, dim=DIM, threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, N) in got


def test_embedding_near_dup_exact_equals_lsh_superset(spark, vectors):
    """Exact mode finds every pair the LSH mode finds (LSH ⊆ exact)."""
    rows = [(i, [float(x) for x in vectors[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["id_a"], r["id_b"]) for r in similarity.embedding_near_dup_pairs(df, dim=DIM, threshold=0.5, exact=True).collect()}
    approx = {(r["id_a"], r["id_b"]) for r in similarity.embedding_near_dup_pairs(df, dim=DIM, threshold=0.5).collect()}
    assert approx <= exact


def test_ivf_topk_full_probe_equals_exact(spark, corpus):
    """nprobe == n_cells probes every inverted list → IVF must return
    exactly the brute-force top-k (same ids, same ranks)."""
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(queries, corpus, k=5).collect()
    ivf = similarity.ivf_topk(
        queries, corpus, k=5, n_cells=4, nprobe=4
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert [(r["query_id"], r["vec_id"], r["rank"]) for r in sorted(ivf, key=key)] == [
        (r["query_id"], r["vec_id"], r["rank"]) for r in sorted(exact, key=key)
    ]


def test_ivf_build_skips_unusable_vectors(spark, vectors):
    """A NULL vector and a zero vector normalize to NULL: the KMeans fit
    skips them as the cell assignment does, so the index builds, and a
    full probe returns the brute-force top-k over the usable vectors."""
    rows = [(i, [float(x) for x in vectors[i]]) for i in range(30)]
    corpus = spark.createDataFrame(
        rows + [(900, None), (_ZERO_VEC[0], _ZERO_VEC[1])], "vec_id long, embedding array<float>"
    )
    usable = corpus.filter(F.col("vec_id") < 900)
    queries = usable.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(queries, usable, k=5).collect()
    ivf = similarity.ivf_topk(queries, corpus, k=5, n_cells=4, nprobe=4).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert [(r["query_id"], r["vec_id"], r["rank"]) for r in sorted(ivf, key=key)] == [
        (r["query_id"], r["vec_id"], r["rank"]) for r in sorted(exact, key=key)
    ]


def test_ivf_topk_partial_probe_finds_self(spark, corpus):
    """A query vector always lands in the cell it was assigned to, so even
    nprobe=1 must find the vector itself at rank 1."""
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(queries, corpus, k=3, n_cells=6, nprobe=1).collect()
    rank1 = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    assert rank1 == {q: q for q in range(5)}


def test_cosine_topk_blas_matches_codegen(spark, corpus):
    """The BLAS mapInPandas variant must return the same neighbor ids and
    ranks as the codegen brute force (values equal up to summation order)."""
    queries = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = similarity.cosine_topk(queries, corpus, k=5).collect()
    b = similarity.cosine_topk_blas(queries, corpus, k=5).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert [(r["query_id"], r["vec_id"], r["rank"]) for r in sorted(a, key=key)] == [
        (r["query_id"], r["vec_id"], r["rank"]) for r in sorted(b, key=key)
    ]
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        assert ra["cosine"] == pytest.approx(rb["cosine"], rel=1e-9)


def test_ivf_prebuilt_index_roundtrips_through_parquet(spark, tmp_path):
    """ivf_build output is plain DataFrames: persisting the index and
    querying the read-back copy must equal the one-shot ivf_topk."""
    from ml_feature_store_pipeline_spark.operators import similarity
    from ml_feature_store_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    oneshot = similarity.ivf_topk(queries, emb, k=5, n_cells=8, nprobe=3)

    cent, lists = similarity.ivf_build(emb, n_cells=8)
    cent.write.mode("overwrite").parquet(str(tmp_path / "cent"))
    lists.write.mode("overwrite").parquet(str(tmp_path / "lists"))
    reread = similarity.ivf_query(
        queries,
        spark.read.parquet(str(tmp_path / "cent")),
        spark.read.parquet(str(tmp_path / "lists")),
        k=5,
        nprobe=3,
    )
    assert sorted(map(tuple, oneshot.collect())) == sorted(map(tuple, reread.collect()))


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup)
# ---------------------------------------------------------------------------


def test_semantic_dedup_keeps_least_central_member(spark, jobs_run_by):
    # cell axis-aligned corpus: ids 0/1 nearly identical (dup group), id 2
    # orthogonal. Centroids supplied explicitly to pin the geometry.
    rows = [
        (0, [1.0, 0.0, 0.01]),   # dup group, closest to centroid
        (1, [1.0, 0.0, 0.4]),    # dup group, least central -> must survive
        (2, [0.0, 1.0, 0.0]),    # loner in the other cell
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])], "cell int, center array<double>"
    )
    from ml_feature_store_pipeline_spark.operators.similarity import semantic_dedup

    got, jobs = jobs_run_by(
        lambda: semantic_dedup(emb, threshold=0.9, centroids=cent).collect()
    )
    out = sorted(r["vec_id"] for r in got)
    assert out == [1, 2]  # id 0 deduped away; survivor is the less-central id 1
    # one collect of the centroids, then one exchange into the grouped map
    # that pairs, clusters and keeps
    assert jobs <= 3, jobs


def test_semantic_dedup_nan_centroid_cosine_never_wins(spark):
    """A vector with a NaN component has NaN cosine to everything, so it
    never pairs: it survives alone, and its finite cellmates dedup among
    themselves (the less central id 1 survives)."""
    from ml_feature_store_pipeline_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [float("nan"), 1.0])],
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell int, center array<double>"
    )
    out = sorted(
        (r["vec_id"], r["cell"])
        for r in semantic_dedup(emb, threshold=0.9, centroids=cent).collect()
    )
    # NaN outranks every number in the centroid pick: id 2 joins cell 0
    assert out == [(1, 0), (2, 0)]


def test_semantic_dedup_nan_vector_survives_alone(spark):
    """A NaN vector among near-identical finite cellmates: the finite ones
    collapse to their least central member, the NaN one is kept apart."""
    from ml_feature_store_pipeline_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [1.0, 0.05, 0.0]),
            (2, [1.0, 0.0, 0.1]),
            (3, [1.0, float("nan"), 0.0]),
            (4, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame([(7, [1.0, 0.0, 0.0])], "cell int, center array<double>")
    out = sorted(r["vec_id"] for r in semantic_dedup(emb, threshold=0.9, centroids=cent).collect())
    assert out == [2, 3, 4]


@pytest.mark.parametrize("max_cell_size", [None, 6])
def test_semantic_dedup_equals_numpy_recomputation(spark, max_cell_size):
    """The grouped map against a plain numpy SemDeDup: argmax-cosine cells
    over a ``centroids=`` frame with non-positional cell ids, md5
    subcells of ``ceil(n / max_cell_size)`` per cell, in-(sub)cell pairs at
    cosine >= threshold, their connected components, and the least central
    member (id tiebreak) kept per component."""
    import hashlib
    import math

    from ml_feature_store_pipeline_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 4))
    vecs = np.vstack([base, base[:15] + 0.01 * rng.standard_normal((15, 4))])
    ids = np.arange(len(vecs)) * 3 + 1
    cells = np.array([9, 2, 5])
    centers = vecs[[0, 7, 21]] + 0.1
    emb = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, vecs)], "vec_id long, embedding array<double>"
    )
    cent = spark.createDataFrame(
        [(int(c), v.tolist()) for c, v in zip(cells, centers)], "cell int, center array<double>"
    )
    threshold = 0.95

    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cu = centers / np.linalg.norm(centers, axis=1, keepdims=True)
    cos_c = unit @ cu.T
    cell = cells[cos_c.argmax(axis=1)]
    centrality = cos_c.max(axis=1)
    sub = np.zeros(len(ids), dtype=int)
    if max_cell_size is not None:
        for c in cells:
            n_sub = math.ceil((cell == c).sum() / max_cell_size)
            for k in np.flatnonzero(cell == c):
                h = int(hashlib.md5(str(ids[k]).encode()).hexdigest()[:13], 16) / 16**13
                sub[k] = int(h * n_sub)
        assert len(set(zip(cell, sub))) > len(cells)  # the cap subdivides
    sims = unit @ unit.T
    linked = (sims >= threshold) & (cell[:, None] == cell) & (sub[:, None] == sub)
    seen, keep = set(), []
    for start in range(len(ids)):
        if start in seen:
            continue
        comp, todo = [], [start]
        seen.add(start)
        while todo:
            k = todo.pop()
            comp.append(k)
            for j in np.flatnonzero(linked[k]):
                if j not in seen:
                    seen.add(int(j))
                    todo.append(int(j))
        keep.append(min(comp, key=lambda k: (centrality[k], ids[k])))
    want = sorted((int(ids[k]), int(cell[k])) for k in keep)
    assert len(want) < len(ids)  # twins were found

    got = semantic_dedup(emb, threshold=threshold, centroids=cent, max_cell_size=max_cell_size)
    assert sorted(map(tuple, got.collect())) == want


def test_semantic_dedup_no_cross_cell_pairs(spark):
    # two near-identical vectors forced into DIFFERENT cells never pair
    rows = [(0, [1.0, 0.05]), (1, [1.0, 0.06])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = spark.createDataFrame(
        [(0, [1.0, 0.05]), (1, [1.0, 0.06])], "cell int, center array<double>"
    )
    from ml_feature_store_pipeline_spark.operators.similarity import semantic_dedup

    out = semantic_dedup(emb, threshold=0.5, centroids=cent).collect()
    assert sorted(r["vec_id"] for r in out) == [0, 1]  # both survive: cells isolate them


def test_semantic_dedup_auto_n_cells(spark):
    """r7: n_cells=None derives the knob from the corpus count — same
    result as passing the rule's value explicitly, and the rule itself
    keeps average cell size at the target."""
    from ml_feature_store_pipeline_spark.operators.similarity import (
        auto_n_cells,
        semantic_dedup,
    )

    assert auto_n_cells(0, 128) == 1
    assert auto_n_cells(1, 10_000) == 1
    assert auto_n_cells(10_000, 10_000) == 1
    assert auto_n_cells(10_001, 10_000) == 2
    assert auto_n_cells(2_000, 128) == 16
    with pytest.raises(ValueError):
        auto_n_cells(5, 0)

    from ml_feature_store_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")  # 500 rows
    auto = sorted(map(tuple, semantic_dedup(emb, threshold=0.4, target_cell_size=128).collect()))
    explicit = sorted(map(tuple, semantic_dedup(emb, threshold=0.4, n_cells=4).collect()))
    assert auto == explicit


def test_deterministic_centroids_stable_across_partitioning(spark):
    from ml_feature_store_pipeline_spark.operators.similarity import _centroid_pick

    emb = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    a = _centroid_pick(emb, "vec_id", "embedding", 8)
    b = _centroid_pick(emb.repartition(13), "vec_id", "embedding", 8)
    assert len(a) == 8 and a == b


def test_semantic_dedup_cell_cap_bounds_pairwise(spark):
    """A degenerate corpus (every vector identical) collapses into one
    cell; the cap must subdivide it, keep the result a valid dedup
    (subcell survivors only), and leave small cells untouched."""
    from ml_feature_store_pipeline_spark.operators.similarity import semantic_dedup

    n = 60
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    cent = spark.createDataFrame([(0, [1.0, 0.0])], "cell int, center array<double>")
    capped = semantic_dedup(emb, threshold=0.99, centroids=cent, max_cell_size=10)
    survivors = sorted(r["vec_id"] for r in capped.collect())
    # each subcell keeps exactly one member -> ceil-bounded survivor count,
    # far below n, and never zero
    assert 1 <= len(survivors) <= 12
    # uncapped finds the single true cluster
    full = semantic_dedup(emb, threshold=0.99, centroids=cent)
    assert [r["vec_id"] for r in full.collect()] == [0]
    # cap larger than any cell changes nothing
    same = semantic_dedup(emb, threshold=0.99, centroids=cent, max_cell_size=1000)
    assert [r["vec_id"] for r in same.collect()] == [0]


class TestQuantization:
    def test_roundtrip_fidelity_is_high_and_bounded(self, spark):
        from ml_feature_store_pipeline_spark.operators.similarity import quantization_fidelity

        rows = [(i, [((i * 7 + j * 13) % 100) / 50.0 - 1.0 for j in range(16)]) for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = quantization_fidelity(df, "vec_id", "embedding").collect()
        assert len(out) == 50
        assert all(0.999 <= r["cos_fidelity"] <= 1.0 for r in out)  # int8 keeps ~1e-4

    def test_zero_vector_quantizes_cleanly(self, spark):
        from ml_feature_store_pipeline_spark.operators.similarity import quantization_fidelity

        df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>")
        r = quantization_fidelity(df, "vec_id", "embedding").collect()[0]
        assert r["scale"] == 0.0 and r["cos_fidelity"] == 1.0

    def test_quantized_ints_stay_in_range(self, spark):
        from ml_feature_store_pipeline_spark.operators.similarity import quantize_embedding

        df = spark.createDataFrame(
            [(1, [1.0, -1.0, 0.5, -0.25, 0.0])], "vec_id long, embedding array<float>"
        )
        q = df.select(quantize_embedding(F.col("embedding")).alias("z")).collect()[0]["z"]
        assert all(-127 <= v <= 127 for v in q["q"])
        assert max(abs(v) for v in q["q"]) == 127  # the max magnitude maps to qmax


def test_quantization_blas_matches_codegen_form(spark):
    """r5: the Arrow fast path is value-identical to the codegen oracle
    form on the driver embeddings table."""
    from ml_feature_store_pipeline_spark.operators.similarity import (
        quantization_fidelity,
        quantization_fidelity_blas,
    )
    from ml_feature_store_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = sorted(map(tuple, quantization_fidelity(emb, "vec_id", "embedding").collect()))
    b = sorted(map(tuple, quantization_fidelity_blas(emb, "vec_id", "embedding").collect()))
    assert a == b


def test_semantic_decontaminate_flags_planted_near_dup(spark):
    """r7: a train vector nearly identical to an eval vector is flagged;
    orthogonal vectors are not; drop=True removes exactly the flagged
    rows; zero shuffles in the plan (broadcast eval + codegen max)."""
    from ml_feature_store_pipeline_spark.operators.similarity import (
        semantic_decontaminate,
    )

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    tr = spark.createDataFrame(
        [
            (1, [0.999, 0.01, 0.0]),   # ~eval 100 → contaminated
            (2, [0.0, 0.0, 1.0]),      # orthogonal to both → clean
            (3, [0.01, 0.998, 0.0]),   # ~eval 101 → contaminated
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in semantic_decontaminate(tr, ev, threshold=0.95).collect()}
    assert out[1]["contaminated"] and out[3]["contaminated"]
    assert not out[2]["contaminated"]
    kept = semantic_decontaminate(tr, ev, threshold=0.95, drop=True)
    assert [r["vec_id"] for r in kept.collect()] == [2]
    plan = kept._jdf.queryExecution().executedPlan().toString()
    # the ONLY exchange is the eval side's collect_list global aggregate
    # (benchmark-sized by contract); the train scan crosses none
    non_broadcast = plan.replace("BroadcastExchange", "")
    assert non_broadcast.count("Exchange") == non_broadcast.count(
        "Exchange SinglePartition"
    )


def test_semantic_decontaminate_blas_matches_codegen(spark):
    """r7: the Arrow/BLAS fast path equals the codegen oracle form on the
    driver embeddings table (same ids, same rounded max-cosines, same
    flags)."""
    from ml_feature_store_pipeline_spark.operators.similarity import (
        semantic_decontaminate,
        semantic_decontaminate_blas,
    )
    from ml_feature_store_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    ev = emb.filter(F.col("vec_id") % 50 == 0)
    tr = emb.filter(F.col("vec_id") % 50 != 0)
    cols = ["vec_id", "max_eval_cosine", "contaminated"]
    a = sorted(map(tuple, semantic_decontaminate(tr, ev, threshold=0.98).select(*cols).collect()))
    b = sorted(map(tuple, semantic_decontaminate_blas(tr, ev, threshold=0.98).select(*cols).collect()))
    assert a == b


def test_semantic_decontaminate_empty_eval_keeps_everything(spark):
    """An empty eval set means nothing is contaminated: both twins keep
    the whole train corpus under drop=True (the max over zero eval
    vectors is NULL, and a bare ~(NULL >= t) filter would silently drop
    EVERY row — a total-data-loss bug in a curation operator), flag no
    row, and agree with each other."""
    from ml_feature_store_pipeline_spark.operators.similarity import (
        semantic_decontaminate,
        semantic_decontaminate_blas,
    )

    tr = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    ev = tr.filter(F.lit(False))  # empty, same schema
    for fn in (semantic_decontaminate, semantic_decontaminate_blas):
        flagged = fn(tr, ev, threshold=0.95).collect()
        assert len(flagged) == 3
        assert all(not r["contaminated"] for r in flagged)
        assert all(r["max_eval_cosine"] is None for r in flagged)
        kept = fn(tr, ev, threshold=0.95, drop=True)
        assert sorted(r["vec_id"] for r in kept.collect()) == [1, 2, 3]


# ---------------------------------------------------------------------------
# label-aware neighbor analysis (r7: kNN label audit, hard negatives,
# prototypicality)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def labeled_corpus(spark, vectors):
    # label = two clusters by construction: shift half the vectors so kNN
    # neighborhoods are label-coherent, then plant one mislabeled row
    shifted = vectors.copy()
    shifted[: N // 2] += 3.0  # cluster A sits far from cluster B
    labels = [0 if i < N // 2 else 1 for i in range(N)]
    labels[0] = 1  # planted label error inside cluster A
    rows = [
        (i, [float(x) for x in shifted[i]], labels[i]) for i in range(N)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_knn_label_audit_flags_planted_error(spark, labeled_corpus):
    out = similarity.knn_label_consistency(labeled_corpus, k=5).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert len(out) == N
    # the planted mislabel sits inside cluster A: its neighbors carry label 0
    assert by_id[0]["suspect"] is True
    assert by_id[0]["agree_frac"] == 0.0
    # a clean cluster-B row agrees with its neighborhood
    assert by_id[N - 1]["suspect"] is False
    for r in out:
        assert r["n_neighbors"] == 5
        assert 0.0 <= r["agree_frac"] <= 1.0
        assert r["n_agree"] <= r["n_neighbors"]


def test_knn_label_audit_candidates_path_subsets_exact(spark, labeled_corpus):
    # candidate pairs restricted to a band of ids: scored neighborhoods can
    # only shrink, and every returned neighbor count is <= k
    exact = similarity.knn_label_consistency(labeled_corpus, k=5)
    ids = labeled_corpus.select("vec_id")
    cands = (
        ids.withColumnRenamed("vec_id", "id_a")
        .crossJoin(ids.withColumnRenamed("vec_id", "id_b"))
        .filter((F.col("id_a") % 2) == (F.col("id_b") % 2))
    )
    approx = similarity.knn_label_consistency(labeled_corpus, k=5, candidates=cands)
    n_exact = exact.count()
    rows = approx.collect()
    assert 0 < len(rows) <= n_exact
    for r in rows:
        assert r["n_neighbors"] <= 5


def test_hard_negatives_never_share_label(spark, labeled_corpus):
    anchors = labeled_corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    out = similarity.hard_negatives(anchors, labeled_corpus, k=3)
    joined = out.join(
        labeled_corpus.select("vec_id", F.col("label").alias("nbr_label")), "vec_id"
    ).join(
        anchors.select(F.col("anchor_id"), F.col("label").alias("a_label")),
        "anchor_id",
    )
    rows = joined.collect()
    assert {r["anchor_id"] for r in rows} == {0, 1, 2, 3}
    for r in rows:
        assert r["nbr_label"] != r["a_label"]
        assert 1 <= r["rank"] <= 3


def test_hard_negatives_matches_numpy(spark, labeled_corpus):
    data = labeled_corpus.orderBy("vec_id").collect()
    V = np.array([r["embedding"] for r in data], dtype="float64")
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    labels = np.array([r["label"] for r in data])
    a_idx = 0
    sims = Vn @ Vn[a_idx]
    mask = labels != labels[a_idx]
    order = sorted(np.nonzero(mask)[0], key=lambda j: (-sims[j], j))
    expect = [int(j) for j in order[:3]]
    anchors = labeled_corpus.filter(F.col("vec_id") == a_idx).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    got = (
        similarity.hard_negatives(anchors, labeled_corpus, k=3)
        .orderBy("rank")
        .select("vec_id")
        .collect()
    )
    assert [r["vec_id"] for r in got] == expect


def test_label_centroids_match_numpy(spark, labeled_corpus):
    data = labeled_corpus.collect()
    got = {
        r["label"]: np.array(r["centroid"])
        for r in similarity.label_centroids(labeled_corpus).collect()
    }
    for lbl in (0, 1):
        members = np.array(
            [r["embedding"] for r in data if r["label"] == lbl], dtype="float64"
        )
        np.testing.assert_allclose(got[lbl], members.mean(axis=0), atol=1e-9)


def test_prototypicality_ranges_and_extremes(spark, labeled_corpus):
    rows = similarity.prototypicality(labeled_corpus).collect()
    assert len(rows) == N
    for r in rows:
        assert -1.0 <= r["proto_cos"] <= 1.0
        assert 0.0 <= r["proto_pct"] <= 1.0
    # per label: exactly one row at pct 0 or tied-min, and max pct == 1.0
    for lbl in (0, 1):
        pcts = sorted(r["proto_pct"] for r in rows if r["label"] == lbl)
        assert pcts[0] == 0.0
        assert pcts[-1] == 1.0


# ---------------------------------------------------------------------------
# JL random projection (r7)
# ---------------------------------------------------------------------------


def test_random_projection_preserves_distances(spark, vectors):
    rows = [(i, [float(x) for x in vectors[i]]) for i in range(N)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.random_projection(df, in_dim=vectors.shape[1], out_dim=16)
    proj = {r["vec_id"]: np.array(r["rp"]) for r in out.collect()}
    V = vectors.astype("float64")
    # JL with ±1/sqrt(k): squared-norm ratios concentrate around 1
    ratios = []
    for i in range(0, N, 3):
        orig = float(np.dot(V[i], V[i]))
        if orig > 0:
            ratios.append(float(np.dot(proj[i], proj[i])) / orig)
    med = sorted(ratios)[len(ratios) // 2]
    assert 0.5 < med < 1.5, med
    # deterministic across partitionings
    again = {
        r["vec_id"]: np.array(r["rp"])
        for r in similarity.random_projection(
            df.repartition(7), in_dim=vectors.shape[1], out_dim=16
        ).collect()
    }
    for i in proj:
        assert np.array_equal(proj[i], again[i])


def test_mmr_rerank_matches_python_greedy(spark, labeled_corpus):
    # independent greedy reimplementation over the same rounded scores
    data = {r["vec_id"]: np.array(r["embedding"], dtype="float64") for r in labeled_corpus.collect()}
    ids = sorted(data)

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    queries = labeled_corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.mmr_rerank(queries, labeled_corpus, k=4, pool=10, lam=0.6)
    rows = out.collect()
    for qid in range(3):
        qv = data[qid]
        rel = {i: cos(qv, data[i]) for i in ids}
        pool = sorted(ids, key=lambda i: (-rel[i], i))[:10]
        sel = [min(pool, key=lambda i: (-rel[i], i))]
        while len(sel) < 4:
            rem = [i for i in pool if i not in sel]
            def mmr(i):
                return round(0.6 * rel[i] - 0.4 * max(cos(data[i], data[j]) for j in sel), 6)
            sel.append(min(rem, key=lambda i: (-mmr(i), i)))
        got = [r["vec_id"] for r in sorted((r for r in rows if r["query_id"] == qid), key=lambda r: r["mmr_rank"])]
        assert got == sel, (qid, got, sel)


def test_mmr_rerank_diversifies_duplicate_cluster(spark):
    # corpus: 3 near-identical vectors by the query + 2 distinct directions;
    # plain top-3 would return the clones — MMR must break out of the cluster
    base = np.zeros(8); base[0] = 1.0
    near = [base + 1e-3 * np.eye(8)[i + 1] for i in range(3)]
    other1 = np.zeros(8); other1[1] = 1.0; other1[0] = 0.4
    other2 = np.zeros(8); other2[2] = 1.0; other2[0] = 0.4
    vecs = near + [other1, other2]
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(0, [float(x) for x in base])], "query_id long, embedding array<float>"
    )
    # λ must make the diversity penalty decisive: with the query aligned to
    # the clone direction, rel(i) ≈ sim(i, s1) for every candidate, so at
    # λ=0.5 step-2 MMR ties at ~0 for all — λ=0.3 weights the penalty enough
    # that staying in the clone cluster always loses
    got = [
        r["vec_id"]
        for r in similarity.mmr_rerank(queries, corpus, k=3, pool=5, lam=0.3)
        .orderBy("mmr_rank").collect()
    ]
    # rank 1 = most relevant clone; ranks 2-3 must leave the clone cluster
    assert got[0] == 0
    assert set(got[1:]) == {3, 4}


def test_maxsim_matches_numpy(spark, labeled_corpus):
    data = {r["vec_id"]: np.array(r["embedding"], dtype="float64") for r in labeled_corpus.collect()}

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    docs = labeled_corpus.select((F.col("vec_id") % 5).alias("doc_id"), "embedding")
    queries = labeled_corpus.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") % 2).alias("query_id"),
        F.col("vec_id").alias("qvec_id"),
        "embedding",
    )
    rows = similarity.maxsim_topk(queries, docs, k=3).collect()
    from collections import defaultdict

    dmap = defaultdict(list)
    for i in data:
        dmap[i % 5].append(i)
    for qid in (0, 1):
        qvs = [data[v] for v in range(4) if v % 2 == qid]
        scores = {
            d: round(sum(max(cos(qv, data[m]) for m in ms) for qv in qvs), 6)
            for d, ms in dmap.items()
        }
        expect = sorted(dmap, key=lambda d: (-scores[d], d))[:3]
        got = [r["doc_id"] for r in sorted((r for r in rows if r["query_id"] == qid), key=lambda r: r["rank"])]
        assert got == expect, (qid, got, expect)


def test_maxsim_duplicate_query_vectors_count_twice(spark):
    # a query bag with the SAME vector twice must sum its best match twice
    v = [1.0, 0.0, 0.0, 0.0]
    u = [0.0, 1.0, 0.0, 0.0]
    docs = spark.createDataFrame([(1, v), (2, u)], "doc_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(0, 10, v), (0, 11, v)], "query_id long, qvec_id long, embedding array<float>"
    )
    out = {r["doc_id"]: r["maxsim_score"] for r in similarity.maxsim_topk(queries, docs, k=2).collect()}
    assert out[1] == 2.0  # two query vectors, each max-matching doc 1 at cos 1
    assert out[2] == 0.0


def test_knn_label_audit_symmetrizes_ordered_candidates(spark, labeled_corpus):
    """An ORDERED (id_a < id_b) candidate table — the shape the near-dup /
    LSH stack emits — must cover the FULL neighborhood of every anchor:
    the operator unions the swapped orientation (and distincts, so an
    already-bidirectional table is not double-counted). A complete
    ordered pair table must therefore reproduce the exact audit."""
    exact = sorted(map(tuple, similarity.knn_label_consistency(labeled_corpus, k=5).collect()))
    ids = labeled_corpus.select("vec_id")
    ordered = (
        ids.withColumnRenamed("vec_id", "id_a")
        .crossJoin(ids.withColumnRenamed("vec_id", "id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    via_ordered = sorted(
        map(
            tuple,
            similarity.knn_label_consistency(
                labeled_corpus, k=5, candidates=ordered
            ).collect(),
        )
    )
    assert via_ordered == exact
    # bidirectional table: distinct() must keep each pair scored once
    both = ordered.union(
        ordered.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    via_both = sorted(
        map(
            tuple,
            similarity.knn_label_consistency(
                labeled_corpus, k=5, candidates=both
            ).collect(),
        )
    )
    assert via_both == exact


def test_pq_full_shortlist_equals_exact(spark, corpus):
    """shortlist ≥ |corpus| makes the re-rank stage score EVERY corpus
    vector exactly — PQ degrades to brute force (id sets must match)."""
    q = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in similarity.cosine_topk(q, corpus, k=3).collect()
    }
    pq = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in similarity.pq_topk_rerank(
            q, corpus, k=3, m=8, k_codes=4, shortlist=N
        ).collect()
    }
    assert pq == exact


def test_pq_codes_shape_and_determinism(spark, corpus):
    cb1, codes1 = similarity.pq_build(corpus, m=8, k_codes=4)
    cb2, codes2 = similarity.pq_build(corpus, m=8, k_codes=4)
    assert cb1 == cb2  # md5-deterministic codebook
    assert len(cb1) == 8 and len(cb1[0]) == 4 and len(cb1[0][0]) == 2
    rows1 = {r["vec_id"]: r["codes"] for r in codes1.collect()}
    rows2 = {r["vec_id"]: r["codes"] for r in codes2.collect()}
    assert rows1 == rows2
    assert all(len(c) == 8 and all(0 <= x < 4 for x in c) for c in rows1.values())


def test_pq_index_roundtrips_through_parquet(spark, corpus, tmp_path):
    """The PQ index is engine-plain (a JSON-able codebook + a codes
    DataFrame): persist both, reload, and the ADC query must reproduce
    the in-memory results exactly — the per-corpus build is paid once."""
    import json

    q = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cb, codes = similarity.pq_build(corpus, m=8, k_codes=4)
    want = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in similarity.pq_query(q, cb, codes, k=5).collect()
    }
    codes.write.mode("overwrite").parquet(str(tmp_path / "codes"))
    (tmp_path / "codebook.json").write_text(json.dumps(cb))
    cb2 = json.loads((tmp_path / "codebook.json").read_text())
    codes2 = spark.read.parquet(str(tmp_path / "codes"))
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["score"])
        for r in similarity.pq_query(q, cb2, codes2, k=5).collect()
    }
    assert got == want


def test_label_centroid_distances_separated_classes(spark):
    """Two orthogonal clusters → centroid cosine ≈ 0; a cluster vs itself
    shifted slightly → cosine ≈ 1 (and label_a < label_b ordering)."""
    rows = []
    for i in range(10):
        rows.append((0, [1.0 + 0.01 * i, 0.0, 0.0, 0.0]))   # x-axis cluster
        rows.append((1, [0.0, 1.0 + 0.01 * i, 0.0, 0.0]))   # y-axis cluster
        rows.append((2, [1.0, 0.01 * i, 0.0, 0.0]))          # near x-axis
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    out = {(r["label_a"], r["label_b"]): r["cosine"]
           for r in similarity.label_centroid_distances(df, "label", "embedding").collect()}
    assert set(out) == {(0, 1), (0, 2), (1, 2)}
    assert abs(out[(0, 1)]) < 1e-6
    assert out[(0, 2)] > 0.99
    assert 0 < out[(1, 2)] < 0.3


def test_rrf_fuse_hand_computed(spark):
    from ml_feature_store_pipeline_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "id long, rank int")
    b = spark.createDataFrame([(20, 1), (40, 2)], "id long, rank int")
    out = {r["id"]: r for r in rrf_fuse(a, b, "id", k_rrf=60, top_k=10).collect()}
    assert set(out) == {10, 20, 30, 40}
    assert out[20]["rrf_score"] == pytest.approx(1 / 61 + 1 / 62, abs=1e-9)
    assert out[10]["rrf_score"] == pytest.approx(1 / 61, abs=1e-9)
    assert out[40]["rrf_score"] == pytest.approx(1 / 62, abs=1e-9)
    assert out[10]["rank_b"] is None and out[40]["rank_a"] is None
    # both-lists doc outranks any single-list doc here
    assert out[20]["fused_rank"] == 1
    # equal scores (10 vs a hypothetical tie) break by id: 10 < 40 in score,
    # so ordering is 20, 10, 30&40 by score then id
    ranks = sorted((r["fused_rank"], i) for i, r in out.items())
    assert [i for _, i in ranks] == [20, 10, 40, 30]


def test_rrf_fuse_top_k_truncates(spark):
    from ml_feature_store_pipeline_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame([(i, i) for i in range(1, 8)], "id long, rank int")
    b = spark.createDataFrame([(i, i) for i in range(5, 12)], "id long, rank int")
    out = rrf_fuse(a, b, "id", top_k=3).collect()
    assert len(out) == 3
    assert [r["fused_rank"] for r in sorted(out, key=lambda r: r["fused_rank"])] == [1, 2, 3]


def test_kmeans_stats_matches_numpy_lloyd(spark):
    import hashlib

    import numpy as np

    from ml_feature_store_pipeline_spark.operators.similarity import kmeans_stats

    rng = np.random.RandomState(7)
    centers = np.array([[0.0, 0.0], [10.0, 10.0], [0.0, 10.0]])
    pts = np.vstack([c + rng.randn(20, 2) * 0.3 for c in centers])
    rows = [(int(i), [float(a), float(b)]) for i, (a, b) in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["cluster"]: r for r in kmeans_stats(df, k=3, n_iters=3).collect()}

    # replicate: md5 seeds, 3 Lloyd iterations, final assignment
    X = np.array([[np.float64(np.float32(a)), np.float64(np.float32(b))] for a, b in pts])
    order = sorted(range(len(X)), key=lambda i: (hashlib.md5(f"km:{i}".encode()).hexdigest(), i))
    cents = {ci: X[order[ci]].copy() for ci in range(3)}

    def assign():
        out = {}
        for i, x in enumerate(X):
            best = min(
                ((float((x @ x) - 2 * (x @ c) + (c @ c)), ci) for ci, c in cents.items())
            )
            out[i] = (best[1], best[0])
        return out

    for _ in range(3):
        a = assign()
        new = {}
        for ci in cents:
            members = [X[i] for i, (c, _) in a.items() if c == ci]
            if members:
                new[ci] = np.mean(members, axis=0)
        cents = new
    final = assign()
    want_n = {ci: sum(1 for c, _ in final.values() if c == ci) for ci in cents}
    want_inertia = {
        ci: sum(round(d, 9) for c, d in final.values() if c == ci) for ci in cents
    }
    assert {c: r["n_members"] for c, r in got.items()} == {
        c: n for c, n in want_n.items() if n
    }
    for ci, r in got.items():
        assert r["inertia"] == pytest.approx(want_inertia[ci], abs=1e-5)
    # three tight planted blobs of 20 -> each cluster holds one blob
    assert sorted(r["n_members"] for r in got.values()) == [20, 20, 20]


def test_kmeans_empty_cluster_drops(spark):
    from ml_feature_store_pipeline_spark.operators.similarity import kmeans_stats

    # two identical points: whichever seed loses every member must vanish
    df = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 1.0])], "vec_id long, embedding array<float>"
    )
    out = kmeans_stats(df, k=2, n_iters=2).collect()
    assert len(out) == 1 and out[0]["n_members"] == 2


def test_kmeans_balanced_sample_caps_every_cluster(spark):
    import numpy as np

    from ml_feature_store_pipeline_spark.operators.similarity import (
        kmeans_balanced_sample,
        kmeans_stats,
    )

    rng = np.random.RandomState(3)
    # skewed sizes: 50 + 50 + 5 points in three tight blobs
    blobs = [([0.0, 0.0], 50), ([10.0, 10.0], 50), ([0.0, 10.0], 5)]
    rows, i = [], 0
    for c, n in blobs:
        for _ in range(n):
            p = np.array(c) + rng.randn(2) * 0.2
            rows.append((i, [float(p[0]), float(p[1])]))
            i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sample = kmeans_balanced_sample(df, k=3, n_iters=3, per_cluster=4).collect()
    sizes = {r["cluster"]: r["n_members"] for r in kmeans_stats(df, k=3, n_iters=3).collect()}
    by_cluster = {}
    for r in sample:
        by_cluster.setdefault(r["cluster"], []).append(r["pick"])
    # every surviving cluster contributes min(per_cluster, size) rows
    for c, picks in by_cluster.items():
        assert sorted(picks) == list(range(1, min(4, sizes[c]) + 1))
    assert set(by_cluster) == set(sizes)
    # the head cluster cannot dominate: no cluster exceeds per_cluster rows
    assert max(len(p) for p in by_cluster.values()) <= 4


def test_rerank_eval_hand_computed_metrics(spark):
    """recall@k and MRR against hand-built exact/approx lists, including a
    query whose GT#1 the route missed (reciprocal rank 0) and a query with
    fewer than k exact rows (denominator counts actual rows)."""
    from ml_feature_store_pipeline_spark.operators.similarity import rerank_eval

    # q1: exact {a,b}, approx {a,b} with GT#1 'a' at approx rank 2 -> rr 1/2
    # q2: exact {c,d}, approx {d,e} -> 1 hit of 2; GT#1 'c' missed -> rr 0
    # q3: exact {f} (short list), approx {f} -> hit; GT#1 at rank 1 -> rr 1
    exact = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (2, "c", 1), (2, "d", 2), (3, "f", 1)],
        "query_id long, vec_id string, rank int",
    )
    approx = spark.createDataFrame(
        [(1, "b", 1), (1, "a", 2), (2, "d", 1), (2, "e", 2), (3, "f", 1)],
        "query_id long, vec_id string, rank int",
    )
    row = rerank_eval(exact, approx, k=2).collect()[0]
    assert row["n_queries"] == 3 and row["k"] == 2
    assert abs(row["recall_at_k"] - 4.0 / 5.0) < 1e-9
    assert abs(row["mrr"] - (0.5 + 0.0 + 1.0) / 3.0) < 1e-9


def test_nonself_topk_drops_self_and_reranks(spark):
    from ml_feature_store_pipeline_spark.operators.similarity import nonself_topk

    scored = spark.createDataFrame(
        [
            (1, 1, 1.0, 1),   # self hit — must vanish
            (1, 7, 0.9, 2),
            (1, 5, 0.8, 3),
            (1, 9, 0.8, 4),   # cosine tie with 5 -> id asc puts 5 first
        ],
        "query_id long, vec_id long, cosine double, rank int",
    )
    rows = nonself_topk(scored, k=2).collect()
    got = [(r["vec_id"], r["rank"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert got == [(7, 1), (5, 2)]


def test_rerank_eval_full_probe_ivf_is_perfect(spark):
    """IVF at full probe IS brute force, so the eval harness must score it
    recall 1.0 / MRR 1.0 — the metric plumbing's own ground truth."""
    from pyspark.sql import functions as F

    from ml_feature_store_pipeline_spark.operators import similarity as S
    from ml_feature_store_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    gt = S.nonself_topk(S.cosine_topk(qs, emb, k=4), k=3)
    full = S.nonself_topk(S.ivf_topk(qs, emb, k=4, n_cells=4, nprobe=4), k=3)
    row = S.rerank_eval(gt, full, k=3).collect()[0]
    assert row["recall_at_k"] == 1.0 and row["mrr"] == 1.0


def test_rerank_eval_matches_bruteforce_on_random_lists(spark):
    """Seeded random exact/approx top-k lists: recall@k and MRR must equal
    the pure-Python definition, across missing GT#1s, short lists, and
    disjoint results."""
    import random

    from ml_feature_store_pipeline_spark.operators.similarity import rerank_eval

    rng = random.Random(7311)
    k = 4
    exact_rows, approx_rows = [], []
    exact_by_q, approx_by_q = {}, {}
    for q in range(30):
        n_ex = rng.randint(1, k)
        ex = rng.sample(range(100), n_ex)
        ap = rng.sample(range(100), rng.randint(0, k))
        exact_by_q[q], approx_by_q[q] = ex, ap
        exact_rows += [(q, v, i + 1) for i, v in enumerate(ex)]
        approx_rows += [(q, v, i + 1) for i, v in enumerate(ap)]
    n_exact = sum(len(v) for v in exact_by_q.values())
    hits = sum(
        len(set(exact_by_q[q]) & set(approx_by_q[q])) for q in exact_by_q
    )
    rrs = []
    for q, ex in exact_by_q.items():
        gt1 = ex[0]
        ap = approx_by_q[q]
        rrs.append(round(1.0 / (ap.index(gt1) + 1), 9) if gt1 in ap else 0.0)
    exact = spark.createDataFrame(exact_rows, "query_id long, vec_id long, rank int")
    approx = spark.createDataFrame(approx_rows, "query_id long, vec_id long, rank int")
    row = rerank_eval(exact, approx, k=k).collect()[0]
    assert row["n_queries"] == 30
    assert abs(row["recall_at_k"] - hits / n_exact) < 1e-9
    assert abs(row["mrr"] - sum(rrs) / len(rrs)) < 1e-9


def test_hyperplane_signature_expr_path_bit_identical(spark):
    """The name-based single-F.expr build (r9: kills ~10^4 py4j roundtrips
    of driver-side plan construction) must produce bit-identical bucket
    ids to the Column-object build on every vector, every seed."""
    from pyspark.sql import functions as F

    from ml_feature_store_pipeline_spark.operators.similarity import (
        hyperplane_signature,
    )
    from ml_feature_store_pipeline_spark.sources.readers import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    for seed in (1000, 1007, 42):
        cols = emb.select(
            "vec_id",
            hyperplane_signature(F.col("embedding"), 64, 4, seed=seed).alias("a"),
            hyperplane_signature("embedding", 64, 4, seed=seed).alias("b"),
        )
        assert cols.filter(F.col("a") != F.col("b")).count() == 0
        assert cols.filter(F.col("a").isNull() != F.col("b").isNull()).count() == 0


def test_dim_correlation_matches_numpy(spark):
    from ml_feature_store_pipeline_spark.operators.similarity import dim_correlation_topk

    rng = np.random.default_rng(7)
    base = rng.normal(size=12)
    # dim0 ~ dim1 (perfectly correlated), dim2 independent, dim3 constant
    vecs = [
        [float(b), float(2 * b + 1), float(rng.normal()), 5.0] for b in base
    ]
    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    out = {
        (r["dim_i"], r["dim_j"]): r
        for r in dim_correlation_topk(df, "v", top_k=10).collect()
    }
    m = np.array(vecs)
    n = m.shape[0]
    for (i, j), r in out.items():
        cov = float((m[:, i] * m[:, j]).mean() - m[:, i].mean() * m[:, j].mean())
        assert r["covariance"] == pytest.approx(cov, abs=1e-5)
        vi = float((m[:, i] ** 2).mean() - m[:, i].mean() ** 2)
        vj = float((m[:, j] ** 2).mean() - m[:, j].mean() ** 2)
        if vi > 0 and vj > 0:
            assert r["correlation"] == pytest.approx(
                cov / (vi * vj) ** 0.5, abs=1e-5
            )
        else:
            assert r["correlation"] is None
        assert r["n"] == n
    # the engineered redundancy must rank first with rho ~ 1
    (ti, tj) = next(iter(out))
    assert (ti, tj) == (0, 1)
    assert out[(0, 1)]["correlation"] == pytest.approx(1.0, abs=1e-6)
    # constant dim pairs exist but sort last with null rho
    assert out[(2, 3)]["correlation"] is None


def test_pca_power_matches_numpy_dominant_eigenvector(spark):
    """Power iteration on the exact covariance must align (up to sign)
    with numpy's dominant eigenvector and reproduce its eigenvalue —
    the 9/12 dp state quantization perturbs ~1e-9, far below tol."""
    from ml_feature_store_pipeline_spark.operators.similarity import pca_power_embeddings

    rng = np.random.default_rng(11)
    # anisotropic corpus: one dominant direction
    w = rng.normal(size=(40, 1)) @ rng.normal(size=(1, 6)) * 3.0
    vecs = (w + rng.normal(size=(40, 6)) * 0.3).tolist()
    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    out = sorted(
        pca_power_embeddings(df, "v", iterations=30).collect(),
        key=lambda r: r["dim"],
    )
    m = np.array(vecs)
    c = np.cov(m, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(c)
    top = evecs[:, -1]
    got = np.array([r["loading"] for r in out])
    cos = abs(float(got @ top) / (np.linalg.norm(got) * np.linalg.norm(top)))
    assert cos > 0.9999
    assert np.linalg.norm(got) == pytest.approx(1.0, abs=1e-5)
    assert out[0]["eigenvalue"] == pytest.approx(float(evals[-1]), rel=1e-4)
    assert len({r["eigenvalue"] for r in out}) == 1


def test_pca_power_empty_corpus_is_empty(spark):
    from ml_feature_store_pipeline_spark.operators.similarity import pca_power_embeddings

    df = spark.createDataFrame([], "v array<double>")
    assert pca_power_embeddings(df, "v").count() == 0


def test_pca_power_rejects_a_non_finite_embedding_component(spark):
    from ml_feature_store_pipeline_spark.operators.similarity import pca_power_embeddings

    df = spark.createDataFrame(
        [([1.0, 2.0, 0.5],), ([float("inf"), 1.0, 3.0],), ([0.2, 0.1, 0.9],)], "v array<double>"
    )
    with pytest.raises(ValueError, match="pca_power_embeddings: .*Infinity"):
        pca_power_embeddings(df, "v")


def test_pca_power_fold_names_an_out_of_range_covariance_entry(spark):
    """Without ANSI casts the corpus pass lets a huge component through;
    the driver fold must reject its covariance, not fail in ``decimal``."""
    from ml_feature_store_pipeline_spark.operators.similarity import pca_power_embeddings

    df = spark.createDataFrame(
        [([1.0, 2.0, 0.5],), ([1e12, 1.0, 3.0],), ([0.2, 0.1, 0.9],)], "v array<double>"
    )
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(ValueError, match=r"pca_power_embeddings: covariance entry \(0, 0\)"):
            pca_power_embeddings(df, "v")
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_pca_power_driver_fold_matches_inplan_loop(spark):
    """r13: the power iteration became a DRIVER fold over the collected
    d²-bounded covariance (guide §8) instead of iterations+2 eager
    localCheckpoint plans. The replay must be bit-exact against an inline
    copy of the old in-plan loop — same HALF_UP 12/9 dp lattices, same
    exact decimal sums, same IEEE division/sqrt — on every output bit."""
    import struct

    from ml_feature_store_pipeline_spark.operators.similarity import (
        _pairwise_moments,
        pca_power_embeddings,
    )

    def reference(df, vec_col, iterations, round_digits=6):
        # the pre-r13 in-plan trajectory, verbatim
        import math as _math

        d, dims, pairs = _pairwise_moments(df, vec_col)
        di = dims.select(
            F.col("i"), F.col("__sx").alias("__sxi"), F.col("__sxx").alias("__sxxi")
        )
        dj = dims.select(
            F.col("i").alias("j"),
            F.col("__sx").alias("__sxj"),
            F.col("__sxx").alias("__sxxj"),
        )
        n = F.col("n").cast("double")
        cov_u = (
            pairs.join(F.broadcast(di), "i")
            .join(F.broadcast(dj), "j")
            .select(
                "i",
                "j",
                (F.col("__sxy") / n - (F.col("__sxi") / n) * (F.col("__sxj") / n)).alias(
                    "c"
                ),
            )
        )
        nd = F.col("__n").cast("double")
        diag = dims.select(
            F.col("i"),
            F.col("i").alias("j"),
            (F.col("__sxx") / nd - (F.col("__sx") / nd) * (F.col("__sx") / nd)).alias("c"),
        )
        cov = (
            cov_u.unionByName(
                cov_u.select(F.col("j").alias("i"), F.col("i").alias("j"), "c")
            )
            .unionByName(diag)
            .localCheckpoint()
        )
        v = dims.select(
            F.col("i").alias("j"),
            F.round(F.lit(1.0 / _math.sqrt(d)), 9).alias("v"),
        ).localCheckpoint()
        norm_val = None
        for _ in range(int(iterations)):
            u = (
                cov.join(F.broadcast(v), "j")
                .groupBy("i")
                .agg(
                    F.sum(F.round(F.col("c") * F.col("v"), 12).cast("decimal(38,12)"))
                    .cast("double")
                    .alias("u")
                )
            )
            norm = u.agg(
                F.sqrt(
                    F.sum(
                        F.round(F.col("u") * F.col("u"), 12).cast("decimal(38,12)")
                    ).cast("double")
                ).alias("nrm")
            )
            stepped = u.crossJoin(F.broadcast(norm)).localCheckpoint()
            v = stepped.select(
                F.col("i").alias("j"),
                F.round(
                    F.when(F.col("nrm") > 0, F.col("u") / F.col("nrm")).otherwise(0.0), 9
                ).alias("v"),
            )
            norm_val = stepped.select(F.col("i"), F.col("nrm"))
        return v.join(norm_val, v["j"] == norm_val["i"]).select(
            F.col("j").alias("dim"),
            F.round(F.col("v").cast("decimal(28,9)"), round_digits)
            .cast("double")
            .alias("loading"),
            F.round(F.col("nrm"), round_digits).alias("eigenvalue"),
        )

    def bits(x):
        return struct.pack("<d", x).hex()

    def snap(rows):
        return {int(r["dim"]): (bits(r["loading"]), bits(r["eigenvalue"])) for r in rows}

    rng = np.random.default_rng(29)
    w = rng.normal(size=(50, 1)) @ rng.normal(size=(1, 7)) * 2.0
    vecs = (w + rng.normal(size=(50, 7)) * 0.4).tolist()
    # awkward rows: a zero vector, repr-edge doubles, a large-magnitude row
    vecs += [
        [0.0] * 7,
        [0.1, 0.2, 0.30000000000000004, -0.7, 2.5e-17, 1.0, -1.0],
        [123.456, -98.7, 5e-12, 3.25, -3.25, 0.5, 7.75],
    ]
    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    for iters in (1, 3):
        got = snap(pca_power_embeddings(df, "v", iterations=iters).collect())
        want = snap(reference(df, "v", iters).collect())
        assert got == want
    # a rank-deficient corpus where the norm path hits small magnitudes
    tiny = spark.createDataFrame(
        [([1e-9, -1e-9, 1e-9],), ([1e-9, -1e-9, 1e-9],), ([2e-9, -2e-9, 2e-9],)],
        "v array<double>",
    )
    assert snap(pca_power_embeddings(tiny, "v", iterations=2).collect()) == snap(
        reference(tiny, "v", 2).collect()
    )


# ---------------------------------------------------------------------------
# r10: corpus-aware ANN route defaults (VERDICT r9 item 2)
# ---------------------------------------------------------------------------


def test_auto_lsh_params_scale_with_corpus():
    """The r9 2M stress exposed static defaults degenerating — planes must
    GROW with the corpus (bounded buckets) and tables must grow with
    planes (recall recovery), both clamped."""
    from ml_feature_store_pipeline_spark.operators.similarity import auto_lsh_params

    # tiny corpus: clamp floor
    assert auto_lsh_params(60, 10) == (4, 8)
    # 2M corpus, k=10: buckets target max(64, 80)=80 -> floor(log2(25000))=14
    p, t = auto_lsh_params(2_000_000, 10)
    assert p == 14 and t == 28
    # candidate volume stays O(k)-proportional: n * tables / 2^planes
    assert 2_000_000 * t / 2**p < 4000
    # monotone in n, clamped at 24/64
    ps = [auto_lsh_params(n, 10)[0] for n in (1_000, 100_000, 10_000_000, 10**12)]
    assert ps == sorted(ps) and ps[-1] == 24
    assert auto_lsh_params(10**12, 10)[1] == 48


def test_lsh_topk_auto_defaults_run_and_keep_self(spark, corpus):
    """Omitting planes/tables triggers the corpus-aware sizing (one
    count() at plan build); self still shares every bucket -> rank 1."""
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.lsh_topk(queries, corpus, k=2, dim=DIM).collect()
    firsts = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    assert firsts == {0: 0, 1: 1, 2: 2}


def test_pq_rerank_auto_shortlist_small_corpus_is_exact(spark, corpus):
    """At N=60 the auto shortlist (max(100, 20k, 1% n) = 100) covers the
    whole corpus, so the re-rank equals exact brute force."""
    q = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in similarity.cosine_topk(q, corpus, k=3).collect()
    }
    auto = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in similarity.pq_topk_rerank(q, corpus, k=3, m=8, k_codes=4).collect()
    }
    assert auto == exact


def test_auto_routes_hold_recall_on_clustered_corpus(spark):
    """The regime the policy is FOR: clustered vectors (real embedding
    shape). Auto-sized LSH and PQ must both put >= 0.8 of the exact
    nonself top-3 in their top-3 at n=400."""
    rng = np.random.default_rng(3)
    centers = rng.normal(size=(8, DIM)) * 3.0
    pts = np.array([centers[i % 8] + rng.normal(size=DIM) * 0.4 for i in range(400)])
    rows = [(i, [float(x) for x in pts[i]]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    gt = similarity.nonself_topk(similarity.cosine_topk(q, df, k=4), k=3)
    for route in (
        similarity.lsh_topk(q, df, k=4, dim=DIM),
        similarity.pq_topk_rerank(q, df, k=4, m=8, k_codes=8),
    ):
        got = similarity.nonself_topk(route, k=3)
        m = similarity.rerank_eval(gt, got, k=3).collect()[0]
        assert m["recall_at_k"] >= 0.8


def test_auto_ivf_params_scale_with_corpus():
    """√n cells clamped [16, 65536]; nprobe holds ~1.6% candidate volume."""
    from ml_feature_store_pipeline_spark.operators.similarity import auto_ivf_params

    assert auto_ivf_params(60) == (16, 4)
    c, p = auto_ivf_params(2_000_000)
    assert c == 1414 and p == 22
    assert abs(p / c - 0.016) < 0.005
    assert auto_ivf_params(10**12)[0] == 65536
    cs = [auto_ivf_params(n)[0] for n in (100, 10_000, 1_000_000, 10**10)]
    assert cs == sorted(cs)


def test_ivf_topk_auto_defaults_run_and_keep_self(spark, corpus):
    """Omitting n_cells/nprobe triggers the corpus-aware sizing; at N=60
    that is 16 cells / 4 probes — self must surface at rank 1."""
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(queries, corpus, k=2).collect()
    firsts = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    assert firsts == {0: 0, 1: 1, 2: 2}


def test_ivf_assignment_is_zero_expansion_blas_kernel(spark, corpus):
    """r11 assignment refactor: the inverted-list build must contain NO
    n·n_cells expansion at all — the r10 crossJoin + min(struct) fold
    planned a SortAggregate (struct buffers aren't hash-aggregable) that
    sorted the full expansion and died spilling at 2 M × 1414 cells. The
    plan must be one Arrow-batched MapInPandas over the corpus scan:
    no Window, no sort-based aggregate, no join, no exchange."""
    _, assigned = similarity.ivf_build(corpus, n_cells=8)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "MapInPandas" in final, final
    for bad in ("Window", "SortAggregate", "CartesianProduct", "Join", "Exchange"):
        assert bad not in final, (bad, final)


def test_pin_concurrent_matches_sequential_pins(spark, corpus):
    """functions.pin_concurrent (r10, the ann_rerank_eval wall cut) must
    return bit-identical LocalRelations to one-at-a-time pin_local: the
    threads change WHEN each independent job runs, never what it
    computes. Exercised on two builds with eager plan-time work (a PQ
    codebook collect) plus a plain top-k."""
    from ml_feature_store_pipeline_spark.functions import pin_concurrent, pin_local

    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def brute():
        return similarity.nonself_topk(
            similarity.cosine_topk(queries, corpus, k=4), k=3
        )

    def pq():
        return similarity.nonself_topk(
            similarity.pq_topk_rerank(queries, corpus, k=4, m=8, k_codes=8), k=3
        )

    pins = pin_concurrent({"gt": brute, "pq": pq})
    assert set(pins) == {"gt", "pq"}
    for name, build in (("gt", brute), ("pq", pq)):
        seq = pin_local(build())
        assert pins[name].schema == seq.schema
        assert sorted(map(tuple, pins[name].collect())) == sorted(
            map(tuple, seq.collect())
        )


def test_pin_concurrent_propagates_builder_errors(spark):
    from ml_feature_store_pipeline_spark.functions import pin_concurrent

    def boom():
        raise ValueError("route build failed")

    with pytest.raises(ValueError, match="route build failed"):
        pin_concurrent({"bad": boom})
    assert pin_concurrent({}) == {}


def test_nearest_cells_blas_kernel_matches_brute_force(spark):
    """r11: the BLAS mapInPandas nearest-centroid kernel (which replaced
    the SortAggregate-fatal crossJoin folds in ivf_build/ivf_query) must
    reproduce exact brute-force assignment — including the tie rules:
    argmin → lowest cell id at n_nearest=1, stable (distance, cell)
    order for the top-nprobe prefix — and honor non-positional cell ids."""
    from ml_feature_store_pipeline_spark.operators.similarity import _nearest_cells

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(7, 4)).astype("float64")
    # duplicate center 5 onto row 6 → rows 5/6 tie exactly on every vector
    centers[6] = centers[5]
    vecs = rng.normal(size=(25, 4)).astype("float64")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(25)],
        "vid long, embedding array<double>",
    )

    def brute(v, nn):
        d = ((centers - v) ** 2).sum(axis=1)
        return [c for _, c in sorted((float(d[c]), c) for c in range(7))[:nn]]

    one = {
        r["vid"]: r["cell"]
        for r in _nearest_cells(df, centers.tolist(), id_col="vid", vec_col="embedding").collect()
    }
    assert one == {i: brute(vecs[i], 1)[0] for i in range(25)}

    got3 = {}
    rows = _nearest_cells(
        df, centers.tolist(), id_col="vid", vec_col="embedding", n_nearest=3
    ).collect()
    for r in rows:
        got3.setdefault(r["vid"], []).append(r["cell"])
    assert {k: sorted(v) for k, v in got3.items()} == {
        i: sorted(brute(vecs[i], 3)) for i in range(25)
    }
    # any vector nearest the duplicated center must pick cell 5, never 6
    assert all(c != 6 for c in one.values())

    # zero vectors: _normalized yields NULL for them; the kernel must drop
    # those rows (they can never score — cosine against NULL is NULL)
    # instead of crashing numpy on a None entry
    from ml_feature_store_pipeline_spark.operators.similarity import _normalized

    with_zero = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])],
        "vid long, embedding array<double>",
    )
    survived = _nearest_cells(
        _normalized(with_zero, "embedding"), centers.tolist(),
        id_col="vid", vec_col="embedding",
    ).collect()
    assert [r["vid"] for r in survived] == [0]

    # non-positional cell ids: rows relabeled 10..16 map through cell_ids
    relabeled = {
        r["vid"]: r["cell"]
        for r in _nearest_cells(
            df, centers.tolist(), id_col="vid", vec_col="embedding",
            cell_ids=[10, 11, 12, 13, 14, 15, 16],
        ).collect()
    }
    assert relabeled == {k: v + 10 for k, v in one.items()}


def test_ann_routes_share_caller_supplied_corpus_count(spark, corpus):
    """n_corpus pass-through (r11): auto-sizing must not run its own
    count() action when the caller already knows the corpus size — a
    multi-route harness counts once and shares — and the shared-count
    path must produce exactly the self-counted result."""
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    n = corpus.count()
    self_counted = sorted(
        map(tuple, similarity.lsh_topk(queries, corpus, k=3, dim=DIM).collect())
    )
    # a count() on this frame now trips the assertion — n_corpus must
    # keep every auto-sized route's plan build count-free
    guarded = corpus.alias("guarded")
    guarded.count = lambda: pytest.fail("auto-sizing ran its own count()")
    shared = sorted(
        map(
            tuple,
            similarity.lsh_topk(queries, guarded, k=3, dim=DIM, n_corpus=n).collect(),
        )
    )
    assert shared == self_counted
    for route, kwargs in (
        (similarity.ivf_topk, {}),
        (similarity.pq_topk_rerank, {"m": 8, "k_codes": 8}),
    ):
        assert route(queries, guarded, k=3, n_corpus=n, **kwargs).count() > 0


def test_pin_concurrent_builders_inherit_local_properties(spark):
    """r10 ADVICE: builders must run on pyspark.InheritableThread — in the
    default pinned-thread mode a plain pool thread inherits NO SparkContext
    local properties (scheduler pool, job group), so builds would escape
    the caller's pool assignment and the shared fail-fast job group."""
    from ml_feature_store_pipeline_spark.functions import pin_concurrent

    sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", "pin-test-pool")
    seen = {}

    def probe():
        seen["pool"] = sc.getLocalProperty("spark.scheduler.pool")
        seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
        return spark.range(1).select(F.lit(1).alias("one"))

    try:
        pins = pin_concurrent({"probe": probe})
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)
    assert pins["probe"].collect()[0]["one"] == 1
    assert seen["pool"] == "pin-test-pool"
    assert seen["group"] is not None and seen["group"].startswith("pin_concurrent-")
    # the shared job group is scoped to the call — restored on exit
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_pin_concurrent_first_failure_cancels_siblings(spark):
    """r10 ADVICE fail-fast: a builder failure must cancel the shared job
    group so a long sibling build aborts promptly instead of running to
    completion before the error surfaces. The sibling here would sleep
    ~20 s across 2 tasks if left alone; the failing route raises after
    ~1 s, and the root-cause error (not the sibling's cancellation) is
    what propagates."""
    import time

    from ml_feature_store_pipeline_spark.functions import pin_concurrent

    def slow():
        def naps(batches):
            for b in batches:
                time.sleep(20)
                yield b

        return (
            spark.range(2)
            .repartition(2)
            .mapInPandas(naps, "id long")
            .select(F.sum("id").alias("s"))
        )

    def boom():
        time.sleep(1)
        raise ValueError("fast route failed")

    t0 = time.time()
    with pytest.raises(ValueError, match="fast route failed"):
        pin_concurrent({"slow": slow, "bad": boom})
    assert time.time() - t0 < 15, "sibling build was not cancelled promptly"


def test_ivf_query_empty_centroids_returns_empty(spark, corpus):
    """r11 ADVICE: an empty centroid table (e.g. read back from an empty
    parquet) must yield an empty result — the old crossJoin shape joined
    against zero rows; the BLAS kernel must short-circuit instead of
    raising numpy AxisError on a shape-(0,) center matrix."""
    from ml_feature_store_pipeline_spark.operators.similarity import _nearest_cells

    empty_cent = spark.createDataFrame([], "cell int, center array<double>")
    _, lists = similarity.ivf_build(corpus, n_cells=4)
    q = corpus.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivf_query(q, empty_cent, lists, k=3, nprobe=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "vec_id", "cosine", "rank",
    ]
    direct = _nearest_cells(q, [], id_col="query_id", vec_col="embedding")
    assert direct.count() == 0
    assert direct.schema.fieldNames() == ["query_id", "embedding", "cell"]


def test_pin_concurrent_restores_interrupt_on_cancel(spark):
    """r11 ADVICE: setJobGroup(..., True) inside pin_concurrent also sets
    spark.job.interruptOnCancel on the caller thread's local properties;
    the finally block must restore it (else a later cancel of the
    caller's own restored job group would interrupt its tasks)."""
    from ml_feature_store_pipeline_spark.functions import pin_concurrent

    sc = spark.sparkContext
    sc.setLocalProperty("spark.job.interruptOnCancel", None)
    pin_concurrent({"one": lambda: spark.range(3).select(F.sum("id").alias("s"))})
    assert sc.getLocalProperty("spark.job.interruptOnCancel") is None

    # and a caller-set value round-trips unchanged
    sc.setLocalProperty("spark.job.interruptOnCancel", "false")
    try:
        pin_concurrent({"one": lambda: spark.range(3).select(F.sum("id").alias("s"))})
        assert sc.getLocalProperty("spark.job.interruptOnCancel") == "false"
    finally:
        sc.setLocalProperty("spark.job.interruptOnCancel", None)


def test_rerank_metrics_local_matches_rerank_eval(spark, corpus):
    """harness_northstar._rerank_metrics_local (r12: the ANN eval's metric
    bookkeeping folded onto the driver) must reproduce
    similarity.rerank_eval bit-for-bit on the same pinned rows — recall,
    mrr, and n_queries, including the HALF_UP 9 dp lattice on each
    reciprocal rank."""
    from ml_feature_store_pipeline_spark.harness_northstar import (
        _rerank_metrics_local,
    )

    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    gt = similarity.nonself_topk(similarity.cosine_topk(queries, corpus, k=4), k=3)
    ap = similarity.nonself_topk(
        similarity.lsh_topk(queries, corpus, k=4, dim=8, n_planes=2, n_tables=4),
        k=3,
    )
    want = similarity.rerank_eval(gt, ap, k=3).collect()[0]
    got_nq, got_recall, got_mrr = _rerank_metrics_local(
        gt.collect(), ap.collect(), k=3
    )
    assert got_nq == want["n_queries"]
    assert got_recall == want["recall_at_k"]
    assert got_mrr == want["mrr"]


def test_recall_row_matches_intersect_plan(spark, corpus):
    """harness_northstar._recall_row must reproduce the old
    intersect→count/count Spark plan on the same pins (set semantics on
    the hit count, raw count on the denominator, one double division)."""
    from ml_feature_store_pipeline_spark.harness_northstar import _recall_row

    queries = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(queries, corpus, k=3).select("query_id", "vec_id")
    approx = similarity.lsh_topk(
        queries, corpus, k=3, dim=8, n_planes=2, n_tables=4
    ).select("query_id", "vec_id")
    hits = exact.intersect(approx).agg(F.count(F.lit(1)).alias("n_hit"))
    totals = exact.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.countDistinct("query_id").alias("n_queries"),
    )
    want = (
        hits.crossJoin(totals)
        .select(
            F.col("n_queries").cast("long").alias("n_queries"),
            F.lit(3).cast("int").alias("k"),
            (F.col("n_hit") / F.col("n_exact") >= 0.5).alias("recall_ok"),
        )
        .collect()[0]
    )
    got = _recall_row(
        spark, exact.collect(), approx.collect(), k=3, floor=0.5
    ).collect()[0]
    assert tuple(got) == tuple(want)
    # empty exact frame mirrors SQL's NULL boolean
    empty = _recall_row(spark, [], [], k=3, floor=0.5).collect()[0]
    assert empty["recall_ok"] is None and empty["n_queries"] == 0


def test_collect_concurrent_matches_pin_rows(spark, corpus):
    """functions.collect_concurrent = pin_concurrent with the rows-only
    materializer: same overlapped builds, same rows as sequential
    pin_rows."""
    from ml_feature_store_pipeline_spark.functions import (
        collect_concurrent,
        pin_rows,
    )

    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def brute():
        return similarity.nonself_topk(
            similarity.cosine_topk(queries, corpus, k=4), k=3
        )

    got = collect_concurrent({"gt": brute})
    assert sorted(map(tuple, got["gt"])) == sorted(map(tuple, pin_rows(brute())))


def test_lit_vector_matrix_bit_identical_to_per_lit_path(spark):
    """_lit_vector/_lit_matrix (r12: one F.expr per literal array instead
    of one py4j call per element) must produce bit-identical VALUES to
    the per-element F.lit path for awkward doubles (subnormal-ish,
    negative, scientific-notation reprs)."""
    from ml_feature_store_pipeline_spark.operators.similarity import (
        _lit_matrix,
        _lit_vector,
    )

    vals = [1.0, -1.0, 0.1, 2.5e-17, -3.75, 1e300, 5e-324, 0.30000000000000004]
    df = spark.range(1).select(
        _lit_vector(vals).alias("v"),
        F.array(*[F.lit(float(x)) for x in vals]).alias("v_ref"),
        _lit_matrix([vals, vals[::-1]]).alias("m"),
        F.array(
            *[F.array(*[F.lit(float(x)) for x in r]) for r in [vals, vals[::-1]]]
        ).alias("m_ref"),
    )
    r = df.collect()[0]
    import struct
    def bits(x):
        return struct.pack("<d", x)
    assert [bits(a) for a in r["v"]] == [bits(a) for a in r["v_ref"]]
    assert [[bits(a) for a in row] for row in r["m"]] == [
        [bits(a) for a in row] for row in r["m_ref"]
    ]


def test_lit_vector_rejects_non_finite(spark):
    """r12 ADVICE: ``nan``/``inf`` render as invalid SQL (``nanD`` does
    not parse) — the guard must raise a diagnosable ValueError instead of
    a downstream ParseException."""
    import pytest as _pytest

    from ml_feature_store_pipeline_spark.operators.similarity import (
        _lit_matrix,
        _lit_vector,
    )

    for bad in (float("nan"), float("inf"), float("-inf")):
        with _pytest.raises(ValueError, match="finite"):
            _lit_vector([1.0, bad])
        with _pytest.raises(ValueError, match="finite"):
            _lit_matrix([[1.0], [bad]])


def test_kmeans_single_plan_matches_driver_loop_trajectory(spark):
    """r13: `_kmeans_final_assignment` became ONE lazy plan (seeds and
    every Lloyd update packed into broadcast single-row centroid frames)
    instead of a driver loop that collected centroids and re-baked them
    as literals into a fresh assignment plan per iteration. The replay
    must be bit-exact: the in-plan ``dot(c, c)`` is the same 0.0-seeded
    sequential left fold the old Python ``dcc += c*c`` computed, and the
    update aggregate feeds the identical IEEE doubles forward. Pin the
    full final assignment (ids, clusters, and the raw __d2 bits) against
    an inline copy of the old driver-loop implementation."""
    import struct

    from ml_feature_store_pipeline_spark.functions import dot
    from ml_feature_store_pipeline_spark.operators.similarity import (
        _kmeans_final_assignment,
        _lit_vector,
    )

    def reference(df, id_col, vec_col, k, n_iters):
        # the pre-r13 driver-loop trajectory, verbatim
        x = F.col("__x")
        v = df.select(
            F.col(id_col).alias("__id"),
            F.transform(F.col(vec_col), lambda e: e.cast("double")).alias("__x"),
        )
        h = F.md5(F.concat(F.lit("km:"), F.col("__id").cast("string")))
        seeds = (
            v.select(h.alias("__h"), "__id", "__x")
            .orderBy("__h", "__id")
            .limit(k)
            .collect()
        )
        centroids = [(i, [float(c) for c in r["__x"]]) for i, r in enumerate(seeds)]

        def assign(cents):
            dxx = dot(x, x)
            cands = []
            for ci, comps in cents:
                c_arr = _lit_vector(comps)
                dcc = 0.0
                for c in comps:
                    dcc += c * c
                d2 = (dxx - F.lit(2.0) * dot(x, c_arr)) + F.lit(dcc)
                cands.append(F.struct(d2.alias("d2"), F.lit(ci).alias("cluster")))
            best = F.array_min(F.array(*cands))
            return v.select(
                "__id", "__x", best["cluster"].alias("__cluster"), best["d2"].alias("__d2")
            )

        for _ in range(n_iters):
            assigned = assign(centroids)
            comp = (
                assigned.select("__cluster", F.posexplode("__x").alias("__pos", "__v"))
                .groupBy("__cluster", "__pos")
                .agg(
                    (
                        F.sum(F.col("__v").cast("decimal(28,12)")).cast("double")
                        / F.count(F.lit(1))
                    ).alias("__cv")
                )
            )
            by_cluster = {}
            for r in comp.collect():
                by_cluster.setdefault(r["__cluster"], {})[r["__pos"]] = r["__cv"]
            centroids = [
                (ci, [comps[p] for p in sorted(comps)])
                for ci, comps in sorted(by_cluster.items())
            ]
        return assign(centroids)

    import numpy as np

    rng = np.random.RandomState(13)
    pts = rng.randn(60, 5) * 3.0
    rows = [(int(i), [float(a) for a in p]) for i, p in enumerate(pts)]
    # a few awkward values: zeros, subnormals, repr-edge doubles (values
    # stay inside decimal(28,12)'s range — the update cast both
    # implementations share overflows identically outside it)
    rows += [
        (100, [0.0, 0.0, 0.0, 0.0, 0.0]),
        (101, [5e-324, -5e-324, 123456789.5, -123456789.5, 0.1]),
        (102, [0.1, 0.2, 0.30000000000000004, -0.7, 2.5e-17]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def snap(out):
        return sorted(
            (
                r["__id"],
                r["__cluster"],
                struct.pack("<d", r["__d2"]),
                tuple(struct.pack("<d", e) for e in r["__x"]),
            )
            for r in out.collect()
        )

    for k, n_iters in ((4, 3), (3, 1), (5, 0)):
        got = snap(_kmeans_final_assignment(df, "vec_id", "embedding", k, n_iters))
        want = snap(reference(df, "vec_id", "embedding", k, n_iters))
        assert got == want, (k, n_iters)


#: vectors whose cosine is NULL or raises: a NULL vector, a NULL element,
#: a shorter vector (``zip_with`` pads with NULL) and — only where the
#: zero divisor is NULL rather than an error — a zero vector
_EDGE_VECS = [
    (900, None),
    (901, [1.0, None] + [0.5] * (DIM - 2)),
    (902, [0.25] * (DIM - 1)),
    (903, [float("nan")] + [0.1] * (DIM - 1)),
]
_ZERO_VEC = (904, [0.0] * DIM)


def _pairwise_cosines(queries, corpus):
    """Reference: ``cosine_similarity`` evaluated per (query, corpus) pair."""
    return {
        (r[0], r[1]): repr(r[2])
        for r in queries.crossJoin(corpus.withColumnRenamed("embedding", "__cv"))
        .select("query_id", "vec_id", cosine_similarity(F.col("embedding"), F.col("__cv")))
        .collect()
    }


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_cosine_topk_cosines_bit_equal_per_pair_cosine(spark, vectors, ansi):
    """Norms are projected once per vector before the join; the cosines
    stay bit-identical to per-pair ``cosine_similarity``, NULL cases
    included. A zero vector's cosine is NULL in both ANSI modes."""
    rows = [(i, [float(x) for x in vectors[i]]) for i in range(12)] + _EDGE_VECS + [_ZERO_VEC]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        queries = corpus.filter((F.col("vec_id") % 3 == 0) | (F.col("vec_id") >= 900))
        queries = queries.withColumnRenamed("vec_id", "query_id")
        got = {
            (r["query_id"], r["vec_id"]): repr(r["cosine"])
            for r in similarity.cosine_topk(queries, corpus, k=len(rows)).collect()
        }
        assert got == _pairwise_cosines(queries, corpus)
        # against the NaN vector the norm product is NaN, not 0: NaN cosine
        zero, nan = _ZERO_VEC[0], _EDGE_VECS[3][0]
        assert {v for (q, c), v in got.items() if zero in (q, c) and nan not in (q, c)} == {"None"}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_zero_vector_cosine_is_null_under_ansi(spark, vectors):
    """Under ANSI a zero vector's cosine is NULL, as without ANSI, instead
    of a ``DIVIDE_BY_ZERO`` that fails the whole query: the LSH top-k
    carries it as NULL, decontamination gives it no score, and near-dup
    pairs leave it out (``cosine_topk``: the test above). Two zero
    vectors share every LSH bucket, so the bucketed operators do reach
    the division."""
    zeros = [(904, [0.0] * DIM), (905, [0.0] * DIM)]
    rows = [(i, [float(x) for x in vectors[i]]) for i in range(12)] + zeros
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        queries = corpus.filter(F.col("vec_id").isin(0, 904))
        queries = queries.withColumnRenamed("vec_id", "query_id")
        out = similarity.lsh_topk(queries, corpus, k=len(rows), dim=DIM)
        got = {(r["query_id"], r["vec_id"]): r["cosine"] for r in out.collect()}
        assert got[(904, 904)] is None and got[(904, 905)] is None
        assert all((v is None) == (904 in p or 905 in p) for p, v in got.items())

        ev = corpus.filter(F.col("vec_id").isin(1, 905))
        dec = {
            r["vec_id"]: r
            for r in similarity.semantic_decontaminate(corpus, ev, threshold=0.9).collect()
        }
        assert dec[904]["max_eval_cosine"] is None and not dec[904]["contaminated"]
        assert dec[1]["max_eval_cosine"] == pytest.approx(1.0) and dec[1]["contaminated"]

        for exact in (False, True):
            pairs = similarity.embedding_near_dup_pairs(
                corpus, dim=DIM, threshold=0.5, exact=exact
            ).collect()
            assert not {904, 905} & {i for r in pairs for i in (r["id_a"], r["id_b"])}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_semantic_decontaminate_equals_per_pair_max_cosine(spark, vectors):
    """The eval vectors carry their norms and the train norm is a column,
    so the lambda takes only dot products; ``max_eval_cosine`` stays the
    rounded max of per-pair ``cosine_similarity``. A NULL eval vector is
    skipped, a NULL train vector gets NULL."""
    rows = [(i, [float(x) for x in vectors[i]]) for i in range(20)] + _EDGE_VECS
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    train = vecs.filter((F.col("vec_id") % 4 != 0) | (F.col("vec_id") >= 900))
    ev = vecs.filter((F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 900)).unionByName(
        vecs.filter(F.col("vec_id") == 900)
    )
    out = {
        r["vec_id"]: repr(r["max_eval_cosine"])
        for r in similarity.semantic_decontaminate(train, ev, threshold=0.9).collect()
    }
    ref = (
        train.crossJoin(ev.select(F.col("embedding").alias("__ev")))
        .groupBy("vec_id")
        .agg(F.round(F.max(cosine_similarity(F.col("embedding"), F.col("__ev"))), 9).alias("m"))
    )
    assert out == {r["vec_id"]: repr(r["m"]) for r in ref.collect()}
    assert out[900] == "None"
