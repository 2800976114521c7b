"""MLlib feature engineering (BASELINE.json: "DataFrame transformations +
MLlib feature engineering").

Pipelines over the built-in distributed estimators/transformers:

- TF-IDF document vectors (Tokenizer → HashingTF → IDF);
- MLlib ``MinHashLSH`` near-dup join over binarized term vectors — the
  library twin of our md5-based ``operators.dedup`` implementation (which
  exists for cross-engine oracle parity; this one for MLlib interop);
- ``BucketedRandomProjectionLSH`` approximate nearest neighbors over the
  embeddings table (Euclidean-bucketed ANN — complements the sign-LSH
  cosine variant in ``operators.similarity``).

Everything is fit/transform on DataFrames — estimators run distributed
aggregation jobs (IDF's document frequencies) and transformers are narrow
per-row ops.
"""

from __future__ import annotations

from pyspark.ml.feature import (
    HashingTF,
    IDF,
    MinHashLSH,
    BucketedRandomProjectionLSH,
    RegexTokenizer,
)
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import TOKEN_SPLIT_RE


def tfidf_vectors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_features: int = 1 << 12,
    binary: bool = False,
) -> DataFrame:
    """(id, tfidf vector) via Tokenizer → HashingTF → IDF.

    HashingTF is stateless (hash-bucketed counts — no vocabulary shuffle);
    IDF.fit is ONE aggregation over document frequencies. At corpus scale
    this is the cheap, bounded-memory TF-IDF.
    """
    tok = RegexTokenizer(
        inputCol=text_col, outputCol="__tokens", pattern=TOKEN_SPLIT_RE, minTokenLength=1
    )
    tf = HashingTF(
        inputCol="__tokens", outputCol="__tf", numFeatures=num_features, binary=binary
    )
    tokenized = tf.transform(tok.transform(df))
    idf_model = IDF(inputCol="__tf", outputCol="tfidf").fit(tokenized)
    return idf_model.transform(tokenized).select(F.col(id_col), F.col("tfidf"))


def minhash_near_dup_ml(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hash_tables: int = 8,
    max_jaccard_distance: float = 0.7,
    num_features: int = 1 << 12,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via MLlib MinHashLSH ``approxSimilarityJoin`` over
    binary term-presence vectors. Returns (id_a, id_b, jaccard_distance)
    with id_a < id_b.

    Note: MLlib's Jaccard here is over hashed TOKEN sets (HashingTF
    buckets), not word n-gram shingles — coarser than
    ``dedup.ngram_jaccard_pairs`` but fully library-managed.
    """
    tok = RegexTokenizer(
        inputCol=text_col, outputCol="__tokens", pattern=TOKEN_SPLIT_RE, minTokenLength=1
    )
    tf = HashingTF(
        inputCol="__tokens", outputCol="__vec", numFeatures=num_features, binary=True
    )
    # MinHashLSH requires ≥1 non-zero entry — drop token-less docs
    vecs = tf.transform(tok.transform(df)).filter(F.size("__tokens") > 0).select(id_col, "__vec")
    mh = MinHashLSH(inputCol="__vec", outputCol="__hashes", numHashTables=num_hash_tables, seed=seed)
    model = mh.fit(vecs)
    joined = model.approxSimilarityJoin(vecs, vecs, max_jaccard_distance, distCol="jaccard_distance")
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.col("jaccard_distance"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def brp_ann(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k by Euclidean distance via
    BucketedRandomProjectionLSH ``approxSimilarityJoin`` + per-query rank.

    Returns (query_id, corpus_id, distance, rank). Approximate: only pairs
    co-hashed in ≥1 table are scored.
    """
    from pyspark.sql.window import Window

    q = queries.select(F.col(query_id), array_to_vector(F.col(vec_col)).alias("__v"))
    c = corpus.select(F.col(corpus_id), array_to_vector(F.col(vec_col)).alias("__v"))
    brp = BucketedRandomProjectionLSH(
        inputCol="__v", outputCol="__hashes", bucketLength=bucket_length,
        numHashTables=num_hash_tables, seed=seed,
    )
    model = brp.fit(c)
    joined = model.approxSimilarityJoin(q, c, float("inf"), distCol="distance")
    scored = joined.select(
        F.col(f"datasetA.{query_id}").alias(query_id),
        F.col(f"datasetB.{corpus_id}").alias(corpus_id),
        "distance",
    )
    w = Window.partitionBy(query_id).orderBy(F.asc("distance"), F.asc(corpus_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def quality_classifier_scores(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    *,
    num_features: int = 1 << 12,
    max_iter: int = 25,
    reg_param: float = 0.01,
    n_docs: int | None = None,
) -> DataFrame:
    """GPT-3-style classifier quality filter, stage 1: train a logistic
    regression on hashed TF-IDF features against a weak binary label
    (Brown et al. 2020 §A: an LR over tf-idf features scoring Common
    Crawl against a curated positive class) and score EVERY document.
    Returns ``(id_col, label_col, quality_score)`` with the score in
    (0, 1) by sigmoid construction.

    Scale shape: HashingTF is stateless (no vocabulary shuffle), IDF.fit
    is one aggregation, and each LBFGS iteration is one treeAggregate
    over the cached feature frame — ``max_iter`` bounded passes, no
    driver-side data. The trained coefficients are ``num_features``
    doubles on the driver (bounded, corpus-size-independent); scoring is
    a narrow per-row op."""
    from pyspark.ml.classification import LogisticRegression

    feats = tfidf_vectors(docs, id_col, text_col, num_features=num_features)
    train = feats.join(
        docs.select(F.col(id_col), F.col(label_col).cast("double").alias("__label")),
        id_col,
    )
    lr = LogisticRegression(
        featuresCol="tfidf", labelCol="__label", maxIter=max_iter,
        regParam=reg_param, standardization=True,
    )
    # FIT-PARTITION POLICY (r13, the ivf_build clamp): LBFGS schedules
    # one treeAggregate job per iteration (+ line searches) over the
    # internally persisted instance RDD — at small row counts each job
    # otherwise launches `defaultParallelism` near-empty tasks whose
    # per-task cost (scheduling + a 2×num_features dense gradient
    # allocation) dwarfs the ~2k-row gradient work. Clamp the FIT input
    # to ~2000 rows/task, capped at the cluster parallelism, so
    # corpus-scale fits keep full parallelism (the clamp needs a known
    # row count — callers opt in via ``n_docs``); scoring stays on the
    # caller's partitioning. coalesce only ever NARROWS (no exchange), so
    # an input already at or under the target keeps its partition count.
    # Coefficients can shift at last-ulp with aggregation order; the
    # registered consumer's outputs are partition-invariant counts plus
    # bounded-margin booleans (see q_ml_quality_filter_docs), and the
    # oracle stays green at 3 SFs.
    fit_input = train
    if n_docs is not None:
        spark = docs.sparkSession
        target = max(
            1,
            min(spark.sparkContext.defaultParallelism, -(-int(n_docs) // 2000)),
        )
        fit_input = fit_input.coalesce(target)
    model = lr.fit(fit_input)
    scored = model.transform(train)
    prob = vector_to_array("probability")[1]
    return scored.select(
        F.col(id_col),
        F.col("__label").alias(label_col),
        prob.alias("quality_score"),
    )


def pareto_quality_keep(
    scored: DataFrame,
    id_col: str,
    score_col: str = "quality_score",
    *,
    alpha: float = 9.0,
    salt: str = "",
) -> DataFrame:
    """GPT-3-style classifier quality filter, stage 2: stochastic-but-
    DETERMINISTIC importance sampling. The paper keeps a document iff
    ``np.random.pareto(alpha) > 1 - score`` — high-quality docs almost
    surely survive, low-quality docs survive occasionally (preserving
    tail diversity instead of hard-thresholding). The md5 twin replaces
    the RNG with an inverse-CDF draw from a per-doc uniform
    (``u = md5_fraction(id, salt)``; Pareto draw ``= (1-u)^(-1/alpha) -
    1``), so the kept set is reproducible across runs, engines, and
    partitionings — same property as ``sampling.sample_fraction``. Pure
    codegen filter on the scan; no shuffle."""
    from .sketches import hash_fraction

    u = hash_fraction(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    draw = F.pow(F.lit(1.0) - u, F.lit(-1.0 / float(alpha))) - F.lit(1.0)
    return scored.filter(draw > (F.lit(1.0) - F.col(score_col)))


def classification_report(
    df: DataFrame,
    label_col: str,
    pred_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Per-class classification report from (label, prediction) columns —
    the model-monitoring rollup a feature store serves next to its
    features: one row per class seen in EITHER column with support,
    predicted count, true positives, precision, recall, and F1 (NULL
    where the denominator is 0; F1 NULL unless both parts exist).

    Scale shape: ONE (label, pred) contingency aggregate (map-side
    combined, ≤ |classes|² rows); marginals and the diagonal are windows
    over that table. No row egress, no second scan.
    """
    from pyspark.sql.window import Window

    cells = (
        df.filter(F.col(label_col).isNotNull() & F.col(pred_col).isNotNull())
        .groupBy(
            F.col(label_col).alias("__y"), F.col(pred_col).alias("__p")
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wy = Window.partitionBy("__y")
    wp = Window.partitionBy("__p")
    staged = cells.select(
        "__y",
        "__p",
        "__c",
        F.sum("__c").over(wy).alias("__ny"),
        F.sum("__c").over(wp).alias("__np"),
    )
    # per-class rows: union the label-side and pred-side views so classes
    # that are never predicted (or never true) still appear
    true_side = staged.groupBy(F.col("__y").alias("class")).agg(
        F.max("__ny").alias("n_true"),
        F.sum(F.when(F.col("__p") == F.col("__y"), F.col("__c")).otherwise(F.lit(0))).alias("tp"),
    )
    pred_side = staged.groupBy(F.col("__p").alias("class")).agg(
        F.max("__np").alias("n_pred")
    )
    j = true_side.join(pred_side, "class", "full_outer").select(
        "class",
        F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
        F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
        F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
    )
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred"))
    rec = F.when(F.col("n_true") > 0, F.col("tp") / F.col("n_true"))
    f1 = F.when(
        (F.col("n_pred") > 0) & (F.col("n_true") > 0) & (prec + rec > 0),
        2 * prec * rec / (prec + rec),
    )
    return j.select(
        "class",
        "n_true",
        "n_pred",
        "tp",
        F.round(prec, round_digits).alias("precision"),
        F.round(rec, round_digits).alias("recall"),
        F.round(f1, round_digits).alias("f1"),
    )


def ranking_metrics(
    ranked: DataFrame,
    relevant: DataFrame,
    *,
    query_col: str = "query_id",
    item_col: str = "item_id",
    rank_col: str = "rank",
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Retrieval-quality metrics per query — precision@k, recall@k and
    NDCG@k (binary relevance) of a candidate ranking against a relevance
    set: the eval harness every ANN/hybrid stack needs before its results
    gate anything. ``ranked`` carries (query, item, rank 1-based);
    ``relevant`` carries the ground-truth (query, item) pairs. Output per
    query: (query, n_rel, hits, precision_at_k, recall_at_k, ndcg);
    recall/ndcg are NULL for queries with an empty relevance set; queries
    appear if they have ranked rows.

    Exactness: DCG terms ``1/log2(rank+1)`` are 9-dp-rounded doubles
    summed in DECIMAL(20,9) (order-free); IDCG sums the same rounded
    terms over ranks 1..min(k, n_rel) via a k-row spine, so the ratio is
    identical IEEE arithmetic both engines.

    Scale shape: one broadcast-friendly left join of the top-k rows
    (≤ k per query by contract) against the relevance pairs, one
    per-query aggregate, and a k-row spine join for IDCG — nothing
    scales past |queries|·k rows after the inputs.
    """
    q, it, rk = F.col(query_col), F.col(item_col), F.col(rank_col)
    spark = ranked.sparkSession
    term = lambda r: F.round(F.lit(1.0) / F.log2(r + F.lit(1.0)), 9)
    # distinct BEFORE the join and the n_rel count: a duplicated
    # (query, item) relevance pair would otherwise fan out the left join
    # (inflating hits and DCG) and double-count n_rel (r7 ADVICE). The
    # dedup shuffles only the ground-truth pairs — eval-set-sized, tiny
    # next to the ranking side.
    rel = (
        relevant.select(q.alias("__q"), it.alias("__i"))
        .distinct()
        .withColumn("__rel", F.lit(1))
    )
    topk = ranked.filter(rk <= k).select(
        q.alias("__q"), it.alias("__i"), rk.alias("__rk")
    )
    joined = topk.join(rel, ["__q", "__i"], "left")
    per_q = joined.groupBy("__q").agg(
        F.sum(F.coalesce(F.col("__rel"), F.lit(0))).cast("long").alias("hits"),
        F.sum(
            F.when(F.col("__rel").isNotNull(), term(F.col("__rk")))
            .otherwise(F.lit(0.0))
            .cast("decimal(20,9)")
        ).cast("double").alias("__dcg"),
    )
    n_rel = rel.groupBy("__q").agg(F.count(F.lit(1)).alias("n_rel"))
    spine = spark.range(1, k + 1).select(F.col("id").alias("__pos"))
    idcg = (
        n_rel.join(F.broadcast(spine), F.col("__pos") <= F.col("n_rel"))
        .groupBy("__q", "n_rel")
        .agg(
            F.sum(term(F.col("__pos")).cast("decimal(20,9)"))
            .cast("double")
            .alias("__idcg")
        )
    )
    out = per_q.join(idcg, "__q", "left")
    return out.select(
        F.col("__q").alias(query_col),
        F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
        "hits",
        F.round(F.col("hits") / F.lit(float(k)), round_digits).alias("precision_at_k"),
        F.round(F.col("hits") / F.col("n_rel"), round_digits).alias("recall_at_k"),
        F.round(
            F.when(F.col("__idcg") > 0, F.col("__dcg") / F.col("__idcg")),
            round_digits,
        ).alias("ndcg"),
    )


def calibration_curve(
    df: DataFrame,
    score_col: str,
    label: Column,
    *,
    n_bins: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Reliability diagram for a probabilistic classifier — per
    equal-width score bin over [0, 1]: (bin, n, mean_score, frac_pos,
    ece_term), where ``ece_term = |mean_score − frac_pos| · n/N`` sums to
    the expected calibration error. The monitoring readout that catches a
    drifted or overconfident scorer before thresholded decisions do.
    ``label`` is a boolean Column; rows with NULL score or label are
    excluded; only observed bins appear (empty bins carry no evidence).

    Exactness: scores sum in DECIMAL(28,9); counts are exact longs; the
    closed form runs in identical IEEE doubles both engines.

    Scale shape: ONE map-side-combinable aggregate over the scan to
    ≤ ``n_bins`` rows; the total broadcasts back from a 1-row aggregate.
    """
    s = F.col(score_col)
    base = df.filter(s.isNotNull() & label.isNotNull()).select(
        s.alias("__s"), label.cast("int").alias("__y")
    )
    b = F.least(
        F.greatest(F.floor(F.col("__s") * n_bins).cast("int"), F.lit(0)),
        F.lit(n_bins - 1),
    )
    bins = base.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("__s").cast("decimal(28,9)")).cast("double").alias("__ss"),
        F.sum("__y").cast("long").alias("__pos"),
    )
    tot = bins.agg(F.sum("__n").alias("__t"))
    mean_s = F.col("__ss") / F.col("__n")
    frac = F.col("__pos") / F.col("__n")
    return (
        bins.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("__n").cast("long").alias("n"),
            F.round(mean_s, round_digits).alias("mean_score"),
            F.round(frac, round_digits).alias("frac_pos"),
            F.round(
                F.abs(mean_s - frac) * (F.col("__n") / F.col("__t")), round_digits
            ).alias("ece_term"),
        )
    )


def roc_auc(
    df: DataFrame,
    score_col: str,
    label: Column,
    *,
    n_bands: int = 256,
    round_digits: int = 6,
) -> DataFrame:
    """Exact ROC AUC of a score against a binary label — computed as the
    normalized Mann-Whitney U statistic,
    ``AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻)`` with average ranks (so score
    ties contribute exactly ½, the trapezoidal ROC convention). One row:
    (n_pos, n_neg, auc); NULL when either class is empty. The companion
    of :func:`calibration_curve` — discrimination vs calibration.

    Scale shape: one BANDED rank pass (:func:`~..operators.drift
    .banded_avg_rank` — no global single-task sort) + one 2-row
    aggregate. Rank sums are half-integer decimal sums, so the readout is
    engine-exact.
    """
    from .drift import banded_avg_rank

    s = F.col(score_col)
    base = df.filter(s.isNotNull() & label.isNotNull()).select(
        s.alias("__s"), label.cast("int").alias("__y")
    )
    ranked = banded_avg_rank(base, "__s", n_bands=n_bands, rank_col="__r")
    g = ranked.agg(
        F.sum("__y").cast("long").alias("np"),
        F.sum(F.lit(1) - F.col("__y")).cast("long").alias("nn"),
        F.sum(
            F.when(F.col("__y") == 1, F.col("__r")).otherwise(F.lit(0.0))
            .cast("decimal(28,6)")
        ).cast("double").alias("rp"),
    )
    np_, nn = F.col("np"), F.col("nn")
    auc = F.when(
        (np_ > 0) & (nn > 0),
        (F.col("rp") - np_ * (np_ + 1) / 2) / (np_ * nn),
    )
    return g.select(
        np_.alias("n_pos"), nn.alias("n_neg"), F.round(auc, round_digits).alias("auc")
    )


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label: Column,
    *,
    n_bins: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Isotonic (PAV) calibration map over the binned reliability curve
    — what :func:`calibration_curve` diagnoses, this FIXES: the
    monotone step function closest (weighted L2) to the per-bin
    positive rates, via the exact minimax identity
    ``fit_k = max_{i≤k} min_{j≥k} wavg(pos-rate over bins i..j)``
    (equivalent to pool-adjacent-violators, but closed-form — no
    sequential pooling to replay). Scores calibrated through the fit
    are monotone in the raw score, the property Platt/identity maps
    can't guarantee on a drifted scorer.

    Per observed bin: (bin, n, frac_pos, iso_fit), ``iso_fit``
    nondecreasing in bin.

    Exactness: interval averages are one double division of exact
    integer sums (identical IEEE); min/max over identical doubles;
    output rounds to ``round_digits``.

    Scale shape: ONE map-side-combinable bin aggregate over the scan;
    the minimax enumerates interval triples of the ≤ ``n_bins``-row
    result (≤ n_bins³ constant-sized rows — windows and joins on the
    bin table only).
    """
    s = F.col(score_col)
    base = df.filter(s.isNotNull() & label.isNotNull()).select(
        s.alias("__s"), label.cast("int").alias("__y")
    )
    b = F.least(
        F.greatest(F.floor(F.col("__s") * n_bins).cast("int"), F.lit(0)),
        F.lit(n_bins - 1),
    )
    bins = base.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("__pos"),
    )
    w = Window.orderBy(F.asc("bin")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pref = bins.select(
        "bin",
        "n",
        "__pos",
        F.sum("n").over(w).alias("__cn"),
        F.sum("__pos").over(w).alias("__cp"),
    )
    lo = pref.select(
        F.col("bin").alias("__i"),
        (F.col("__cn") - F.col("n")).alias("__cn_lo"),
        (F.col("__cp") - F.col("__pos")).alias("__cp_lo"),
    )
    hi = pref.select(
        F.col("bin").alias("__j"),
        F.col("__cn").alias("__cn_hi"),
        F.col("__cp").alias("__cp_hi"),
    )
    ij = (
        lo.crossJoin(hi)
        .filter(F.col("__i") <= F.col("__j"))
        .select(
            "__i",
            "__j",
            (
                (F.col("__cp_hi") - F.col("__cp_lo")).cast("double")
                / (F.col("__cn_hi") - F.col("__cn_lo"))
            ).alias("__avg"),
        )
    )
    k = pref.select(F.col("bin").alias("__k"))
    inner = (
        k.join(ij, (F.col("__i") <= F.col("__k")) & (F.col("__j") >= F.col("__k")))
        .groupBy("__k", "__i")
        .agg(F.min("__avg").alias("__minavg"))
    )
    fit = inner.groupBy("__k").agg(F.max("__minavg").alias("__fit"))
    return (
        pref.join(fit, pref["bin"] == fit["__k"])
        .select(
            "bin",
            "n",
            F.round(F.col("__pos").cast("double") / F.col("n"), round_digits).alias(
                "frac_pos"
            ),
            F.round(F.col("__fit"), round_digits).alias("iso_fit"),
        )
    )
