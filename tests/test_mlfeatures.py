"""MLlib feature-engineering tests (TF-IDF, MinHashLSH, BRP-LSH, scaler)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ml_feature_store_pipeline_spark.operators import mlfeatures


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "spark engine query plan optimizer"),
        (2, "spark engine query plan optimizer"),  # exact dup of 1
        (3, "spark engine query plan runtime"),  # near dup
        (4, "bananas oranges apples pears grapes"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tfidf_shapes_and_idf_downweighting(spark, docs):
    out = {r["doc_id"]: r["tfidf"] for r in mlfeatures.tfidf_vectors(docs, "doc_id", "text").collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].size == 1 << 12
    # identical docs → identical vectors
    assert out[1].toArray().tolist() == out[2].toArray().tolist()
    # terms common to 3 of 4 docs get lower idf weight than 1-doc terms
    assert out[4].toArray().max() > 0


def test_minhash_lsh_ml_finds_dups(docs):
    pairs = mlfeatures.minhash_near_dup_ml(docs, "doc_id", "text", max_jaccard_distance=0.9)
    got = {(r["id_a"], r["id_b"]): r["jaccard_distance"] for r in pairs.collect()}
    assert got[(1, 2)] == pytest.approx(0.0)  # identical → distance 0
    assert (1, 4) not in got  # disjoint vocab never a candidate at 0.9
    assert all(a < b for a, b in got)


def test_brp_ann_self_nearest(spark):
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 8)).astype("f8")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)], "vec_id long, embedding array<float>"
    )
    queries = corpus.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = mlfeatures.brp_ann(queries, corpus, k=3, bucket_length=4.0)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        best = min(rows, key=lambda r: r["rank"])
        assert best["vec_id"] == q  # self at distance 0
        assert best["distance"] == pytest.approx(0.0, abs=1e-9)


def test_quality_classifier_separates_planted_label_and_pareto_keep(spark):
    """r7 GPT-3-style quality filter: LR over hashed TF-IDF must
    near-perfectly separate a label that is itself a text feature
    (presence of a planted token), scores are valid probabilities, and
    the deterministic Pareto keep is reproducible and score-monotone."""
    from pyspark.sql import functions as F

    from ml_feature_store_pipeline_spark.operators.mlfeatures import (
        pareto_quality_keep,
        quality_classifier_scores,
    )

    rows = []
    for i in range(120):
        good = i % 3 == 0
        body = "alpha beta gamma delta " * 4
        rows.append((i, ("goldtoken " + body) if good else body, good))
    docs = spark.createDataFrame(rows, "doc_id long, text string, is_quality boolean")
    scored = quality_classifier_scores(docs, "doc_id", "text", "is_quality")
    got = {r["doc_id"]: r for r in scored.collect()}
    assert len(got) == 120
    assert all(0.0 <= r["quality_score"] <= 1.0 for r in got.values())
    pos = [r["quality_score"] for r in got.values() if r["is_quality"]]
    neg = [r["quality_score"] for r in got.values() if not r["is_quality"]]
    assert min(pos) > max(neg)  # perfect separation on the planted token

    kept1 = sorted(r["doc_id"] for r in pareto_quality_keep(scored, "doc_id").collect())
    kept2 = sorted(
        r["doc_id"]
        for r in pareto_quality_keep(scored.repartition(7), "doc_id").collect()
    )
    assert kept1 == kept2  # md5 draw: partitioning-independent
    kept_set = set(kept1)
    pos_rate = sum(1 for i in kept_set if i % 3 == 0) / len(pos)
    neg_rate = sum(1 for i in kept_set if i % 3 != 0) / len(neg)
    assert pos_rate > neg_rate  # importance sampling is score-monotone


def test_classification_report_hand_checked(spark):
    from ml_feature_store_pipeline_spark.operators.mlfeatures import (
        classification_report,
    )

    rows = [
        ("a", "a"), ("a", "a"), ("a", "b"),   # a: 3 true, 2 tp
        ("b", "a"),                            # b: 1 true, never correct
        ("c", None),                           # null pred excluded
    ]
    df = spark.createDataFrame(rows, "y string, p string")
    out = {r["class"]: r for r in classification_report(df, "y", "p").collect()}
    a = out["a"]
    assert (a["n_true"], a["n_pred"], a["tp"]) == (3, 3, 2)
    assert a["precision"] == round(2 / 3, 6) and a["recall"] == round(2 / 3, 6)
    assert a["f1"] == round(2 / 3, 6)
    b = out["b"]
    assert (b["n_true"], b["n_pred"], b["tp"]) == (1, 1, 0)
    assert b["precision"] is None or b["precision"] == 0.0
    # precision is 0/1 = 0.0 (pred exists), recall 0/1 = 0.0, f1 NULL (sum 0)
    assert b["precision"] == 0.0 and b["recall"] == 0.0 and b["f1"] is None
    assert "c" not in out  # its only row had a NULL prediction


def test_ranking_metrics_hand_computed(spark):
    import math

    from ml_feature_store_pipeline_spark.operators.mlfeatures import ranking_metrics

    ranked = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 2), ("q1", "c", 3),
         ("q2", "x", 1), ("q2", "y", 2)],
        "query_id string, item_id string, rank int",
    )
    rel = spark.createDataFrame(
        [("q1", "a"), ("q1", "c"), ("q1", "zzz"),   # zzz never retrieved
         ("q3", "only")],                             # q3 has no ranking rows
        "query_id string, item_id string",
    )
    out = {r["query_id"]: r for r in ranking_metrics(ranked, rel, k=3).collect()}
    assert set(out) == {"q1", "q2"}
    r1 = out["q1"]
    assert (r1["n_rel"], r1["hits"]) == (3, 2)
    assert r1["precision_at_k"] == pytest.approx(2 / 3)
    assert r1["recall_at_k"] == pytest.approx(2 / 3)
    dcg = round(1 / math.log2(2), 9) + round(1 / math.log2(4), 9)
    idcg = sum(round(1 / math.log2(i + 1), 9) for i in (1, 2, 3))
    assert r1["ndcg"] == pytest.approx(dcg / idcg, abs=1e-6)
    # q2 has an empty relevance set: recall and ndcg NULL, precision 0
    r2 = out["q2"]
    assert r2["n_rel"] == 0 and r2["hits"] == 0
    assert r2["precision_at_k"] == 0.0
    assert r2["recall_at_k"] is None and r2["ndcg"] is None


def test_ranking_metrics_perfect_ranking_ndcg_1(spark):
    from ml_feature_store_pipeline_spark.operators.mlfeatures import ranking_metrics

    ranked = spark.createDataFrame(
        [("q", f"i{r}", r) for r in range(1, 6)], "query_id string, item_id string, rank int"
    )
    rel = spark.createDataFrame(
        [("q", f"i{r}") for r in range(1, 6)], "query_id string, item_id string"
    )
    r = ranking_metrics(ranked, rel, k=5).collect()[0]
    assert r["ndcg"] == pytest.approx(1.0)
    assert r["precision_at_k"] == 1.0 and r["recall_at_k"] == 1.0


def test_calibration_curve_hand_computed(spark):
    from ml_feature_store_pipeline_spark.operators.mlfeatures import calibration_curve
    from pyspark.sql import functions as F

    rows = [
        (0.05, 0), (0.08, 0),              # bin 0: mean 0.065, frac 0
        (0.95, 1), (0.92, 0),              # bin 9: mean 0.935, frac 0.5
        (1.0, 1),                           # clamps into bin 9
        (None, 1), (0.5, None),             # excluded
    ]
    df = spark.createDataFrame(rows, "s double, y int")
    out = {r["bin"]: r for r in calibration_curve(df, "s", F.col("y") == 1).collect()}
    assert set(out) == {0, 9}
    b0, b9 = out[0], out[9]
    assert b0["n"] == 2 and b0["mean_score"] == pytest.approx(0.065)
    assert b0["frac_pos"] == 0.0
    assert b0["ece_term"] == pytest.approx(0.065 * 2 / 5, abs=1e-6)
    assert b9["n"] == 3
    assert b9["mean_score"] == pytest.approx((0.95 + 0.92 + 1.0) / 3, abs=1e-6)
    assert b9["frac_pos"] == pytest.approx(2 / 3)
    # ECE of a perfectly calibrated scorer is ~0
    perfect = spark.createDataFrame(
        [(0.25, 1 if i % 4 == 0 else 0) for i in range(400)], "s double, y int"
    )
    p = calibration_curve(perfect, "s", F.col("y") == 1).collect()[0]
    assert p["ece_term"] == pytest.approx(0.0, abs=1e-6)


def test_roc_auc_known_values(spark):
    from ml_feature_store_pipeline_spark.operators.mlfeatures import roc_auc
    from pyspark.sql import functions as F

    # perfect separation -> AUC 1; inverted -> 0; random-ish hand case
    perfect = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "s double, y int"
    )
    assert roc_auc(perfect, "s", F.col("y") == 1).collect()[0]["auc"] == 1.0
    inverted = spark.createDataFrame(
        [(0.1, 1), (0.2, 1), (0.8, 0), (0.9, 0)], "s double, y int"
    )
    assert roc_auc(inverted, "s", F.col("y") == 1).collect()[0]["auc"] == 0.0
    # ties across classes count half: scores all equal -> AUC 0.5
    tied = spark.createDataFrame([(0.5, 1), (0.5, 0)] * 10, "s double, y int")
    assert roc_auc(tied, "s", F.col("y") == 1).collect()[0]["auc"] == 0.5
    # hand case: pos {0.8, 0.4}, neg {0.6, 0.2}: pairs won 3, lost 1 -> 0.75
    hand = spark.createDataFrame(
        [(0.8, 1), (0.4, 1), (0.6, 0), (0.2, 0)], "s double, y int"
    )
    r = roc_auc(hand, "s", F.col("y") == 1, n_bands=2).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (2, 2)
    assert r["auc"] == 0.75
    # single-class input -> NULL
    one = spark.createDataFrame([(0.5, 1)], "s double, y int")
    assert roc_auc(one, "s", F.col("y") == 1).collect()[0]["auc"] is None


def test_ranking_metrics_duplicate_relevance_pairs_are_deduped(spark):
    """Duplicate (query, item) ground-truth rows must not fan out the
    join (inflating hits/DCG) or double-count n_rel (r7 ADVICE)."""
    from ml_feature_store_pipeline_spark.operators.mlfeatures import ranking_metrics

    ranked = spark.createDataFrame(
        [("q1", "a", 1), ("q1", "b", 2)],
        "query_id string, item_id string, rank int",
    )
    rel = spark.createDataFrame(
        [("q1", "a")] * 3 + [("q1", "c")] * 2,
        "query_id string, item_id string",
    )
    r = ranking_metrics(ranked, rel, k=2).collect()[0]
    assert r["n_rel"] == 2  # {a, c}, not 5
    assert r["hits"] == 1   # a retrieved once, not 3×
    assert r["precision_at_k"] == pytest.approx(0.5)
    assert r["recall_at_k"] == pytest.approx(0.5)


def test_isotonic_calibration_pools_violators(spark):
    """The minimax closed form must equal classic PAV pooling: a local
    dip in the bin rates pools with its neighbor; monotone elsewhere."""
    from pyspark.sql import functions as F

    from ml_feature_store_pipeline_spark.operators.mlfeatures import isotonic_calibration

    rows = []
    # bin rates: 0.2, 0.6, 0.4, 0.8  (bins 0..3 of 4), 10 rows per bin
    for b, rate in enumerate([0.2, 0.6, 0.4, 0.8]):
        for i in range(10):
            rows.append((b / 4 + 0.1, 1 if i < rate * 10 else 0))
    df = spark.createDataFrame(rows, "score double, y int")
    out = {
        r["bin"]: r
        for r in isotonic_calibration(df, "score", F.col("y") == 1, n_bins=4).collect()
    }
    # PAV pools bins 1 and 2 -> 0.5; ends untouched
    assert out[0]["iso_fit"] == pytest.approx(0.2)
    assert out[1]["iso_fit"] == pytest.approx(0.5)
    assert out[2]["iso_fit"] == pytest.approx(0.5)
    assert out[3]["iso_fit"] == pytest.approx(0.8)
    fits = [out[b]["iso_fit"] for b in sorted(out)]
    assert fits == sorted(fits)  # monotone
    assert all(out[b]["n"] == 10 for b in out)
