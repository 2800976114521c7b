"""Similarity search over embedding columns (north-star, BASELINE.json).

Baseline: brute-force cosine top-k — exact, one scan of the corpus per
query batch, all math in ``zip_with``/``aggregate`` expressions (JVM,
codegen; no Python in the loop). Scale path: LSH bucketing (random
hyperplanes) so each query only scores its bucket's candidates — the
classic recall/throughput trade, flagged inexact.

An embedding-cosine near-dup operator rides the same machinery
(pairs with cosine ≥ τ via sign-LSH candidates).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cosine_similarity, dot, l2_norm, local_frame, normed_cosine


def _normalized(df: DataFrame, vec_col: str) -> DataFrame:
    """Pre-normalize so cosine = dot — one pass, halves per-pair flops."""
    norm = l2_norm(F.col(vec_col))
    unit = F.transform(F.col(vec_col), lambda x: x.cast("double") / norm)
    return df.withColumn(vec_col, F.when(norm > 0, unit))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.

    Broadcast the (small) query set against the corpus scan; per-query
    top-k via row_number with id tiebreak. The corpus is read ONCE
    regardless of query count; per-executor work is queries×rows×dim
    multiply-adds inside codegen; each side's norms are taken once per
    vector, before the join.
    """
    v = F.col(vec_col)
    q = queries.select(F.col(query_id), v.alias("__qv"), l2_norm(v).alias("__qn"))
    c = corpus.select(F.col(corpus_id), v.alias("__cv"), l2_norm(v).alias("__cn"))
    scored = c.crossJoin(F.broadcast(q)).select(
        query_id,
        corpus_id,
        normed_cosine(
            dot(F.col("__qv"), F.col("__cv")), F.col("__qn"), F.col("__cn")
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def hyperplane_signature(
    vec: Column | str, dim: int, n_planes: int, seed: int = 42
) -> Column:
    """Sign-LSH bucket id: ``n_planes`` pseudo-random hyperplanes with
    deterministic ±1 weights derived from md5(seed, plane, dim-index) —
    reproducible across runs and engines.

    The weights are hoisted to LITERAL arrays at plan-build time (hashlib
    md5, byte-identical to Spark's md5 on these ASCII keys — the
    random_projection python-recount proves the equivalence): computing
    the md5 inside the row expression re-hashed n_planes × dim times PER
    ROW — at 4 tables × 8 planes × 64 dims that was 2048 hashes per
    vector, ~20× the projection's useful flops. Signatures are
    bit-identical either way (same formula, same fold order).

    Pass ``vec`` as a column NAME to take the single-``F.expr`` build: a
    Column-object build crosses py4j once per literal and once per lambda
    (n_planes × dim × tables × sides ≈ 10⁴ roundtrips for a 16-table LSH
    frame, ~7 s of DRIVER time before any job starts); the SQL string
    parses JVM-side in one call (measured 10×: 7.4 s → 0.75 s for 32
    signatures). The generated expression tree is the same operators in
    the same fold order, so signatures stay bit-identical
    (``test_hyperplane_signature_expr_path_bit_identical``). The Column
    path remains for composed expressions without a name.
    """
    import hashlib

    def plane_signs(p: int) -> list[float]:
        return [
            1.0
            if int(hashlib.md5(f"{seed}_{p}_{j}".encode()).hexdigest()[:8], 16) & 1
            else -1.0
            for j in range(dim)
        ]

    if isinstance(vec, str):
        terms = []
        for p in range(n_planes):
            arr = "array(" + ", ".join(f"{s:.1f}D" for s in plane_signs(p)) + ")"
            proj = (
                f"aggregate(zip_with(`{vec}`, {arr}, (x, w) -> CAST(x AS DOUBLE) * w), "
                f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            )
            terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
        return F.expr("CAST(" + " + ".join(terms) + " AS INT)")

    bits = []
    for p in range(n_planes):
        w = _lit_vector(plane_signs(p))
        proj = F.aggregate(
            F.zip_with(vec, w, lambda x, wj: x.cast("double") * wj),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def auto_lsh_params(n_corpus: int, k: int) -> tuple[int, int]:
    """Corpus-aware sign-LSH sizing — the r9 2M-vector stress showed the
    old STATIC defaults silently degenerate as the corpus grows (4 planes
    at 2M vectors ⇒ buckets of ~250k ⇒ near-brute-force candidate volume,
    recall 1.0 for the wrong reason). Policy:

    - ``n_planes = clamp(⌊log2(n / max(64, 8k))⌋, 4, 24)`` — expected
      bucket size n/2^planes lands near max(64, 8k), so per-table
      candidate volume stays O(k)-proportional instead of O(n).
    - ``n_tables = clamp(2·n_planes, 8, 64)`` — tables recover the recall
      that each added plane's exponential cut costs; table cost is linear,
      so this is the cheap side of the trade.

    The recall this holds is for STRUCTURED (clustered) embedding spaces,
    where true neighbors agree with most hyperplanes (per-bit collision
    p ≈ 0.9 ⇒ table-hit p stays ~0.3 at 12 planes ⇒ ~24 tables recover
    ≥ 0.99). On adversarially ISOTROPIC vectors (neighbors only mildly
    closer than noise, p_bit ≈ 0.7) NO bounded-candidate LSH holds high
    recall — tools/scalecheck.py measures both regimes honestly.
    """
    bucket_target = max(64, 8 * int(k))
    n_planes = min(24, max(4, int(math.floor(math.log2(max(2.0, n_corpus / bucket_target))))))
    n_tables = min(64, max(8, 2 * n_planes))
    return n_planes, n_tables


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 10,
    n_planes: int | None = None,
    n_tables: int | None = None,
    n_corpus: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing an LSH bucket
    with the query in ANY of ``n_tables`` hash tables. Inexact (recall < 1)
    — the large-scale variant of :func:`cosine_topk`; candidate volume
    shrinks ~2^n_planes-fold per table.

    ``n_planes``/``n_tables`` default to CORPUS-AWARE sizing via
    :func:`auto_lsh_params` (which documents the policy); auto-sizing
    costs ONE ``corpus.count()`` action at plan build — pass both
    explicitly to keep the build lazy (the registered oracle queries do,
    pinning their measured recall floors), or pass ``n_corpus`` when the
    caller already knows the corpus size (a multi-route harness counts
    once and shares it — r10 VERDICT: three auto routes over one corpus
    were paying three identical count scans)."""
    if n_planes is None or n_tables is None:
        auto_p, auto_t = auto_lsh_params(
            corpus.count() if n_corpus is None else int(n_corpus), k
        )
        n_planes = auto_p if n_planes is None else n_planes
        n_tables = auto_t if n_tables is None else n_tables
    def with_buckets(df: DataFrame, id_col: str) -> DataFrame:
        tables = F.array(
            *[
                F.struct(
                    F.lit(t).alias("table_id"),
                    hyperplane_signature(vec_col, dim, n_planes, seed=1000 + t).alias(
                        "bucket"
                    ),
                )
                for t in range(n_tables)
            ]
        )
        return df.select(
            F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("__n"),
            F.explode(tables).alias("tb"),
        ).select(id_col, vec_col, "__n", F.col("tb.table_id").alias("table_id"), F.col("tb.bucket").alias("bucket"))

    qb = with_buckets(queries, query_id).withColumnRenamed(vec_col, "__qv").withColumnRenamed("__n", "__qn")
    cb = with_buckets(corpus, corpus_id).withColumnRenamed(vec_col, "__cv").withColumnRenamed("__n", "__cn")
    cands = (
        qb.join(cb, ["table_id", "bucket"])
        .select(query_id, corpus_id, "__qv", "__qn", "__cv", "__cn")
        .distinct()
    )
    scored = cands.select(
        query_id,
        corpus_id,
        normed_cosine(
            dot(F.col("__qv"), F.col("__cv")), F.col("__qn"), F.col("__cn")
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def _l2sq(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two array columns (codegen)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def auto_ivf_params(n_corpus: int) -> tuple[int, int]:
    """Corpus-aware IVF sizing — the third route of the r10 parameter
    policy (next to :func:`auto_lsh_params` and the PQ 1 % shortlist):

    - ``n_cells = clamp(round(√n), 16, 65536)`` — the classic IVF rule:
      cells of ~√n vectors balance the probe's two costs (centroid scan
      is n_cells·dim, list scan is nprobe·n/n_cells·dim); a static cell
      count silently degenerates both ways as the corpus grows (8 cells
      at 2 M ⇒ 250 k-vector lists — each probe is 1/8 of brute force).
    - ``nprobe = max(4, n_cells // 64)`` — candidate volume stays
      ~1.6 % of the corpus at any scale.
    """
    n_cells = min(65536, max(16, int(round(math.sqrt(max(1, n_corpus))))))
    return n_cells, max(4, n_cells // 64)


def _nearest_cells(
    df: DataFrame,
    centers: list[list[float]],
    *,
    id_col: str,
    vec_col: str,
    n_nearest: int = 1,
    cell_ids: list[int] | None = None,
) -> DataFrame:
    """(id, vec) → (id, vec, cell) × n_nearest: the ``n_nearest`` closest
    centroids per vector (squared-L2, ties to the lower cell id) via an
    Arrow-batched BLAS kernel (``mapInPandas``), NOT a crossJoin.

    The r11 2M-vector stress killed the declarative shape this replaces
    in ``ivf_build`` — a ``crossJoin(broadcast(centroids))`` expansion
    folded by ``min(struct(distance, cell))`` + ``first(vec)``:
    struct-valued and variable-width aggregation buffers are not
    HashAggregate-compatible, so Spark planned a SortAggregate whose
    partial pass SORTS the full n·n_cells expansion (2.8 B rows each
    dragging a 64-double vector at 2 M × √n cells ≈ 800 GB of sort
    input) — the run died spilling the disk full. The old docstring had
    priced the exchange (n rows — true) but not the pre-exchange sort
    (n·n_cells rows — the actual bottleneck). ``ivf_query``'s probe
    carried the same expansion through a per-query rank window.

    Here no expansion ever materializes: each Arrow batch computes
    ``|x|² − 2·X·Cᵀ + |c|²`` as one float64 matmul against the broadcast
    (n_cells × dim) center matrix — the classic BLAS-3 nearest-centroid
    kernel, O(batch·cells·dim) flops but O(batch·cells) memory, chunked
    so the distance block stays ≤ ~32 MB even at the 65536-cell cap.
    ``n_nearest == 1`` uses ``argmin`` (first minimum → lowest cell id,
    the struct comparator's tiebreak); ``n_nearest > 1`` a STABLE argsort
    prefix (same tie rule as the rank window it replaces: distance asc,
    cell asc). ``cell_ids`` maps matrix row → cell id when centers come
    from a DataFrame whose cell numbering may not be positional.
    Measured at 2 M × 1414 cells: the assignment materializes in 49.6 s
    with zero spill, where the old fold died after ~28 min having filled
    ~80 GB of disk with sort spills (SCALE.md r11).
    """
    import numpy as np

    id_type = {f.name: f.dataType.simpleString() for f in df.schema.fields}[id_col]
    vec_type = {f.name: f.dataType.simpleString() for f in df.schema.fields}[vec_col]
    out_schema = f"`{id_col}` {id_type}, `{vec_col}` {vec_type}, cell int"
    if not len(centers):
        # empty index (e.g. centroids read back from an empty parquet):
        # the crossJoin shape this kernel replaced joined against zero
        # rows and returned empty — preserve that, rather than letting
        # numpy raise AxisError on a shape-(0,) center matrix (r11
        # ADVICE)
        return df.select(
            F.col(id_col), F.col(vec_col), F.lit(None).cast("int").alias("cell")
        ).filter(F.lit(False))
    c_mat = np.asarray(centers, dtype="float64")  # (n_cells, dim)
    c_sq = (c_mat * c_mat).sum(axis=1)  # (n_cells,)
    ids = np.asarray(
        cell_ids if cell_ids is not None else range(len(centers)), dtype="int32"
    )
    nn = min(int(n_nearest), len(centers))
    # chunk rows so the (rows × n_cells) float64 distance block is ~32 MB
    chunk = max(1, (4 << 20) // max(len(centers), 1))

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray(pdf[vec_col].tolist(), dtype="float64")  # (b, dim)
            # NULL vectors (e.g. _normalized's zero-norm rows) are dropped
            # BEFORE this via isNotNull below — they can never score
            # (cosine against them is NULL), and the old fold made them
            # invisible the slow way (NULL distance sorts last)
            cells = np.empty((len(pdf), nn), dtype="int32")
            for lo in range(0, len(pdf), chunk):
                xb = x[lo : lo + chunk]
                d = (xb * xb).sum(axis=1, keepdims=True) - 2.0 * (xb @ c_mat.T) + c_sq
                if nn == 1:
                    cells[lo : lo + chunk, 0] = ids[np.argmin(d, axis=1)]
                else:
                    cells[lo : lo + chunk] = ids[
                        np.argsort(d, axis=1, kind="stable")[:, :nn]
                    ]
            out = pdf[[id_col, vec_col]].iloc[
                np.repeat(np.arange(len(pdf)), nn)
            ].copy()
            out["cell"] = cells.ravel()
            yield out

    return (
        df.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(assign, out_schema)
    )


def ivf_build(
    corpus: DataFrame,
    *,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = 16,
    seed: int = 42,
    train_fraction: float | None = None,
    n_corpus: int | None = None,
    max_iter: int = 20,
    init_mode: str = "k-means||",
    init_steps: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Build a persistable IVF index over an embedding corpus: returns
    ``(centroids, inverted_lists)`` — two plain DataFrames a pipeline
    writes to parquet next to the corpus and reuses across query batches,
    so the KMeans fit and the corpus assignment pass are paid ONCE per
    corpus version, not per query call (the same standing-index split as
    ``dedup.lsh_candidate_pairs_incremental``).

    ``centroids`` = (cell int, center array<double>); ``inverted_lists`` =
    (corpus_id, __cv normalized vector, cell). Both are engine-plain —
    no MLlib model object to serialize.

    ``n_cells=None`` sizes the index from the corpus via
    :func:`auto_ivf_params` (one extra ``count()`` action at build —
    skipped when the caller passes a known ``n_corpus``) and
    fits the quantizer on a ~100·n_cells-vector sample — at √n cells a
    full-corpus KMeans fit would dominate the build, and the coarse
    quantizer only needs enough points per cell to place centers.
    Explicit ``n_cells`` keeps the original full-fit behavior (the
    registered oracle queries pass it, pinning their results).

    The assignment pass is an Arrow-batched BLAS argmin against the
    broadcast center matrix (:func:`_nearest_cells`) — zero
    shuffle, zero expansion. It replaced a crossJoin +
    ``min(struct(distance, cell))`` fold whose partial aggregate Spark
    had to plan as a SortAggregate (struct buffers aren't
    hash-aggregable), sorting the full n·n_cells expansion — measured
    fatal at 2 M × 1414 cells (r11; see the helper's docstring).
    Distance ties break on the lower cell id either way."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = corpus.sparkSession
    cn = _normalized(corpus.select(F.col(corpus_id), F.col(vec_col)), vec_col)
    n = int(n_corpus) if n_corpus is not None else None
    if n_cells is None:
        if n is None:
            n = corpus.count()
        n_cells, _ = auto_ivf_params(n)
        if train_fraction is None and n > 100 * n_cells:
            train_fraction = (100.0 * n_cells) / n
    train = cn if train_fraction is None else cn.sample(train_fraction, seed=seed)
    km = KMeans(
        k=n_cells, seed=seed, maxIter=max_iter,
        initMode=init_mode, initSteps=init_steps,
        featuresCol="__v", predictionCol="__cell",
    )
    # PERSIST the fit input for the fit's duration: MLlib's KMeans does
    # not effectively cache its input DataFrame in this Spark version,
    # so every init pass and Lloyd iteration re-executed the full
    # corpus-scan → normalize → sample pipeline. The r12 decomposition
    # at 2 M × 1414 cells: uncached fit ~193 s and FLAT across every
    # dial (maxIter 5/10/20, init_mode, init_steps — the 7-config sweep
    # read 167-223 s, all pipeline re-execution); cached, the pipeline
    # runs ONCE (48.9 s) and the fit itself is 39.2 s at 20 iterations
    # (16.7 s at 5) — ~2.2× faster overall, and the dials become live
    # again. Memory is bounded by construction on the sampled path
    # (~100·n_cells vectors); the full-fit path (train_fraction=None)
    # is persisted too — explicit full-corpus fits are small-corpus
    # calls by contract (the auto path always samples past
    # 100·n_cells).
    # _normalized maps NULL, zero and NULL-element vectors to NULL; they
    # cannot be placed (array_to_vector throws on them) and, as in
    # _nearest_cells, never score, so the fit skips them
    fit_input = train.filter(F.col(vec_col).isNotNull()).select(
        array_to_vector(F.col(vec_col)).alias("__v")
    )
    # FIT-PARTITION POLICY (r13): clamp the persisted fit input to
    # ~1M distance evaluations (n_train·n_cells pairs) per task, capped
    # at the cluster parallelism — MLlib schedules ~25 driver jobs per
    # fit (init passes + Lloyd), and at small n_train each job otherwise
    # launches `defaultParallelism` near-empty tasks (measured 2.4 →
    # 1.9 s warm for the 2000×8 eval-route fit at local[32]). coalesce
    # only ever NARROWS (no exchange, never splits), and the clamp needs
    # a known corpus size: the auto path counted it, explicit callers
    # opt in via ``n_corpus``. At the 2M×1414 SCALE.md stress the target
    # is min(P, ceil(141400·1414/1e6)=200) = P — the clamp is a no-op by
    # construction, so large fits keep full parallelism. Centroids can
    # shift when the partitioning changes (MLlib aggregation order);
    # every registered consumer is either partition-invariant
    # (ivf_ann_topk probes all cells = brute force, property-tested) or
    # bounded-quality (ann_rerank_eval's floor booleans).
    if n is not None:
        n_train = n if train_fraction is None else int(n * train_fraction)
        target = max(
            1,
            min(
                spark.sparkContext.defaultParallelism,
                -(-(n_train * n_cells) // 1_000_000),
            ),
        )
        fit_input = fit_input.coalesce(target)  # never raises the partition count
    fit_input = fit_input.persist()
    try:
        model = km.fit(fit_input)
    finally:
        fit_input.unpersist()
    cent = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, center array<double>",
    )
    # inverted lists: each corpus vector → its nearest centroid's cell,
    # via the BLAS argmin kernel (see _nearest_cells for why the former
    # crossJoin + min(struct) fold was a SortAggregate scale-killer)
    assigned = _nearest_cells(
        cn, [[float(x) for x in c] for c in model.clusterCenters()],
        id_col=corpus_id, vec_col=vec_col,
    ).select(corpus_id, F.col(vec_col).alias("__cv"), "cell")
    return cent, assigned


def ivf_query(
    queries: DataFrame,
    centroids: DataFrame,
    inverted_lists: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe a prebuilt IVF index (:func:`ivf_build`, possibly read back
    from parquet): each query scores only the inverted lists of its
    ``nprobe`` nearest centroids. Centroids are COLLECTED to the driver
    (n_cells × dim floats — index metadata, bounded by the 65536-cell
    cap; the pin_local "small by contract" class) and probed via the
    same zero-expansion BLAS kernel as the build (:func:`_nearest_cells`
    — the former crossJoin + per-query rank window shuffled and sorted
    the |queries|·n_cells expansion, the r11 SortAggregate lesson's
    window-shaped twin). The only shuffle left is the final per-query
    top-k.
    """
    qn = _normalized(queries.select(F.col(query_id), F.col(vec_col)), vec_col)
    # row order sorted by cell id so the stable-argsort tiebreak matches
    # the (distance asc, cell asc) rank-window rule this replaces
    crows = sorted((int(r[0]), r[1]) for r in centroids.select("cell", "center").collect())
    probes = _nearest_cells(
        qn,
        [[float(x) for x in center] for _, center in crows],
        id_col=query_id,
        vec_col=vec_col,
        n_nearest=nprobe,
        cell_ids=[cell for cell, _ in crows],
    ).select(query_id, F.col(vec_col).alias("__qv"), l2_norm(F.col(vec_col)).alias("__qn"), "cell")
    lists = inverted_lists.select("cell", corpus_id, "__cv", l2_norm(F.col("__cv")).alias("__cn"))
    scored = probes.join(lists, "cell").select(
        query_id,
        corpus_id,
        normed_cosine(
            dot(F.col("__qv"), F.col("__cv")), F.col("__qn"), F.col("__cn")
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int | None = None,
    nprobe: int | None = None,
    seed: int = 42,
    train_fraction: float | None = None,
    n_corpus: int | None = None,
    max_iter: int = 20,
    init_mode: str = "k-means||",
    init_steps: int = 2,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k by cosine: the other classic
    scale path next to :func:`lsh_topk` — :func:`ivf_build` +
    :func:`ivf_query` in one call for one-shot use.

    ``n_cells``/``nprobe`` default to CORPUS-AWARE sizing via
    :func:`auto_ivf_params` (√n cells, ~1.6 % candidate volume — see
    there for the policy; one ``corpus.count()`` action at plan build,
    skipped when ``n_corpus`` is passed — shared-count rule, see
    :func:`lsh_topk`). Pass both explicitly to keep the build lazy and
    full-fit (the registered oracle queries do, pinning their measured
    behavior).

    Both sides are L2-normalized so Euclidean cell geometry matches cosine
    ranking; a KMeans coarse quantizer (MLlib, fit on an optional sample)
    partitions the corpus into ``n_cells`` inverted lists; each query scores
    only the lists of its ``nprobe`` nearest centroids. ``nprobe == n_cells``
    probes everything and is EXACTLY :func:`cosine_topk` (property-tested).

    Scale shape: centroids are n_cells×dim driver-side floats broadcast to
    executors — assignment and probing run through the zero-expansion BLAS
    kernel (:func:`_nearest_cells`; r11 — the former declarative folds
    planned SortAggregates over the n·n_cells expansion); the only
    shuffle is the final per-query top-k. Candidate volume per query is
    ~``nprobe/n_cells`` of the corpus. For repeated query batches against
    one corpus, persist :func:`ivf_build`'s output and call
    :func:`ivf_query` — the fit + assignment are then per-corpus, not
    per-batch.
    """
    if n_cells is None or nprobe is None:
        n_corpus = corpus.count() if n_corpus is None else int(n_corpus)
        auto_c, auto_p = auto_ivf_params(n_corpus)
        if n_cells is None:
            n_cells = auto_c
            # mirror ivf_build's auto rule: a corpus-derived cell count
            # pairs with a ~100·n_cells-vector sample fit
            if train_fraction is None and n_corpus > 100 * n_cells:
                train_fraction = (100.0 * n_cells) / n_corpus
        nprobe = auto_p if nprobe is None else nprobe
    cent, assigned = ivf_build(
        corpus,
        corpus_id=corpus_id,
        vec_col=vec_col,
        n_cells=n_cells,
        seed=seed,
        train_fraction=train_fraction,
        n_corpus=n_corpus,
        max_iter=max_iter,
        init_mode=init_mode,
        init_steps=init_steps,
    )
    return ivf_query(
        queries,
        cent,
        assigned,
        query_id=query_id,
        corpus_id=corpus_id,
        vec_col=vec_col,
        k=k,
        nprobe=nprobe,
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicates: pairs with cosine ≥ threshold.

    Candidates from sign-LSH co-bucketing (high-cosine pairs collide with
    probability (1 − θ/π)^n_planes per table), verified exactly. ``exact``
    switches to the all-pairs O(n²) check — for oracle comparison and
    small corpora only.
    """
    v, norm = F.col(vec_col), l2_norm(F.col(vec_col))
    left = df.select(F.col(id_col).alias("id_a"), v.alias("__va"), norm.alias("__na"))
    right = df.select(F.col(id_col).alias("id_b"), v.alias("__vb"), norm.alias("__nb"))
    if exact:
        cands = left.crossJoin(right).filter(F.col("id_a") < F.col("id_b"))
    else:
        def with_buckets(side: DataFrame, id_name: str, v_name: str, n_name: str) -> DataFrame:
            tables = F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table_id"),
                        hyperplane_signature(v_name, dim, n_planes, seed=1000 + t).alias("bucket"),
                    )
                    for t in range(n_tables)
                ]
            )
            return side.select(id_name, v_name, n_name, F.explode(tables).alias("tb")).select(
                id_name, v_name, n_name, F.col("tb.table_id").alias("table_id"), F.col("tb.bucket").alias("bucket")
            )

        la = with_buckets(left, "id_a", "__va", "__na")
        lb = with_buckets(right, "id_b", "__vb", "__nb")
        cands = (
            la.join(lb, ["table_id", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "__va", "__na", "__vb", "__nb")
            .distinct()
        )
    return (
        cands.select(
            "id_a",
            "id_b",
            normed_cosine(
                dot(F.col("__va"), F.col("__vb")), F.col("__na"), F.col("__nb")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_topk_blas(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched NumPy matmul — the vectorized
    twin of :func:`cosine_topk` for large query batches.

    "UDFs are the slow path" inverts when the work is dense linear algebra:
    one BLAS ``corpus_block @ queries.T`` per Arrow batch beats per-element
    codegen aggregation once queries×dim is large enough (measured in
    tools/scalecheck.py). The query matrix ships as a broadcast (queries
    are small by contract); each partition emits only its local top-k per
    query, so the global merge sees ≤ partitions×queries×k tiny rows.
    Same results as :func:`cosine_topk` up to float summation order
    (ids property-tested equal).
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    q_rows = queries.select(query_id, vec_col).collect()
    qids = np.array([r[0] for r in q_rows])
    Q = np.array([r[1] for r in q_rows], dtype="float64")
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-300)
    bc = spark.sparkContext.broadcast((qids, Qn))

    def part(batches):
        b_qids, b_Q = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            ids = pdf[corpus_id].to_numpy()
            Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
            sims = Cn @ b_Q.T  # n×q
            kk = min(k, sims.shape[0])
            top = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # kk×q
            out_q, out_c, out_s = [], [], []
            for j in range(sims.shape[1]):
                idx = top[:, j]
                out_q.extend([b_qids[j]] * len(idx))
                out_c.extend(ids[idx])
                out_s.extend(sims[idx, j])
            yield pd.DataFrame(
                {query_id: out_q, corpus_id: out_c, "cosine": out_s}
            )

    schema = f"{query_id} long, {corpus_id} long, cosine double"
    local = corpus.select(corpus_id, vec_col).mapInPandas(part, schema)
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style: cluster, then in-cluster near-dup prune)
# ---------------------------------------------------------------------------


def _centroid_pick(corpus: DataFrame, id_col: str, vec_col: str, n_cells: int) -> list:
    """Engine-portable centroid pick for :func:`semantic_dedup`: the
    ``n_cells`` corpus vectors whose md5 hash fraction of the id is
    smallest, in cell order (a deterministic uniform sample — md5 of the
    id is a fixed pseudo-random permutation, so this is k random seeds
    that every engine, run, and partitioning agrees on), from one
    ``orderBy.limit`` collect. The DuckDB oracle re-derives the same
    centroids; pass a KMeans-fit table (e.g. :func:`ivf_build`'s
    centroids) when cluster quality matters more than cross-engine
    determinism."""
    from .sketches import hash_fraction

    rows = (
        corpus.select(F.col(vec_col), hash_fraction(F.col(id_col)).alias("__h"), F.col(id_col))
        .orderBy("__h", id_col)
        .limit(n_cells)
        .collect()
    )
    return [r[0] for r in rows]


def auto_n_cells(n_rows: int, target_cell_size: int) -> int:
    """SemDeDup cell-count rule: enough centroids that the average cell
    holds ``target_cell_size`` vectors — ``max(1, ceil(N / target))``.
    Constant cell size is what keeps the in-cell O(cell²) pairwise stage
    FLAT per cell as the corpus grows 10×/100×: the pair count scales
    linearly with N (N/target cells × target² pairs), never
    quadratically. One integer rule shared by the operator and the
    DuckDB oracle, so auto mode stays exactly replayable."""
    if target_cell_size <= 0:
        raise ValueError("target_cell_size must be positive")
    return max(1, -(-n_rows // target_cell_size))


def _vector_side(vecs, usable):
    """Vectors as numpy operands of :func:`_cosine_fold`: the transposed
    (dim × rows) float64 matrix, zero-padded to the longest vector, each
    row's L2 norm, and each row's length — −1 where Spark's cosine is NULL
    against everything (a NULL vector, or one with a NULL element)."""
    import numpy as np

    lens = np.array([len(v) if ok else -1 for v, ok in zip(vecs, usable)], dtype=np.int64)
    mat = np.zeros((max(int(lens.max(initial=0)), 0), len(lens)))
    for i, v in enumerate(vecs):
        if lens[i] > 0:
            mat[: lens[i], i] = v
    sq = np.zeros(len(lens))
    for row in mat:  # l2_norm's fold order
        sq = sq + row * row
    return mat, np.sqrt(sq), lens


def _cosine_fold(a, b):
    """Cosine of every ``a`` row against every ``b`` row (operands from
    :func:`_vector_side`), and where it is NULL. The dot product is a left
    fold over the dimensions, the same IEEE operation order as
    :func:`..functions.cosine_similarity`, so every value — and hence every
    comparison with a threshold — is bit-identical to Spark's. NULL follows
    Spark too: an unusable vector, unequal lengths (``zip_with`` pads with
    NULL), or a zero norm product (division by zero)."""
    import numpy as np

    (am, an, al), (bm, bn, bl) = a, b
    acc = np.zeros((am.shape[1], bm.shape[1]))
    for x, y in zip(am, bm):
        acc = acc + x[:, None] * y[None, :]
    den = an[:, None] * bn[None, :]
    null = (al[:, None] != bl[None, :]) | (al[:, None] < 0) | (den == 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        return acc / den, null


def _rows(side, idx):
    mat, norm, lens = side
    return mat[:, idx], norm[idx], lens[idx]


def _least_central_key(cos: float, null: bool, vid):
    """SemDeDup's keep order within a duplicate group — the smallest key
    survives: NULL centroid cosine first, then numbers ascending (least
    central first), NaN last, then the id."""
    if null:
        return (0, 0.0, vid)
    if cos != cos:
        return (2, 0.0, vid)
    return (1, cos, vid)


def semantic_dedup(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    n_cells: int | None = None,
    target_cell_size: int = 10_000,
    centroids: DataFrame | None = None,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
    corpus into centroid cells, find in-cell pairs with cosine ≥
    ``threshold``, connect them into duplicate groups, and keep ONE doc
    per group — the member LEAST similar to its centroid (the paper's
    keep-low-centroid-similarity rule: survivors preserve diversity), id
    tiebreak. Returns the surviving (id, cell) rows. A vector whose
    cosine is NaN (a NaN component) never pairs.

    Scale shape: the centroids are collected to the driver (n_cells×dim
    floats) and travel with the tasks. Assignment is a map-side
    ``mapInPandas`` over one corpus scan: the highest centroid cosine
    wins (NaN above every number, NULL below, ties to the lower cell).
    Then ONE grouped map per cell (``groupBy(cell).applyInPandas``, one
    exchange) runs numpy pairwise cosine, union-find and the keep rule,
    so a whole cell is held by one Python worker — the O((N/k)²) the
    paper accepts, computed in row blocks of ≤ ~32 MB. Cross-cell dups
    are missed by construction (the SemDeDup trade).

    ``n_cells=None`` (default) AUTO-TUNES the knob from one cheap
    column-pruned count: :func:`auto_n_cells` picks ``ceil(N /
    target_cell_size)`` centroids, so cells average ``target_cell_size``
    vectors and per-cell pairwise cost stays flat across 10×/100× corpus
    growth (total pair work grows linearly, not quadratically). Pass an
    explicit ``n_cells`` to skip the count job or pin a knob.

    With ``centroids=None``, uses :func:`_centroid_pick`, making
    the whole pipeline engine-replayable (exact DuckDB oracle incl. the
    connected-components closure).

    ``max_cell_size`` guards the degenerate corpus (near-identical
    embeddings collapsing into ONE cell → O(N²) pairwise): oversized
    cells are subdivided by a secondary md5 hash of the id into
    ``ceil(n/max_cell_size)`` subcells and pairs form only within a
    subcell. Like the paper's ``n_cells`` trade, subdividing can miss
    some in-cell pairs — but a degenerate cluster's members link
    transitively through their subcells' survivors on the next run, and
    the pairwise cost stays bounded by ``max_cell_size²`` per subcell.
    ``None`` (default) disables the guard — required for the exact
    oracle, safe whenever ``n_cells`` is sized to the corpus."""
    import numpy as np
    import pandas as pd

    from .dedup import union_find_components
    from .sketches import hash_fraction

    types = {f.name: f.dataType.simpleString() for f in corpus.schema.fields}
    if centroids is None:
        if n_cells is None:
            n_cells = auto_n_cells(corpus.select(id_col).count(), target_cell_size)
        centers = _centroid_pick(corpus, id_col, vec_col, n_cells)
        cells, cell_type = list(range(len(centers))), "int"
    else:
        rows = sorted(centroids.select("cell", "center").collect(), key=lambda r: r[0])
        cells, centers = [r[0] for r in rows], [r[1] for r in rows]
        cell_type = centroids.schema["cell"].dataType.simpleString()
    out_schema = f"`{id_col}` {types[id_col]}, cell {cell_type}"
    if not centers:
        return local_frame(corpus.sparkSession, [], out_schema)
    center_side = _vector_side(centers, [c is not None and None not in c for c in centers])
    cell_pos = {c: i for i, c in enumerate(cells)}
    cell_arr = np.asarray(cells)
    # rows × cells cosine blocks of ≤ ~32 MB
    chunk = max(1, (4 << 20) // len(centers))

    def assign(batches):
        for pdf in batches:
            side = _vector_side(pdf[vec_col], pdf["__ok"])
            pick = np.empty(len(pdf), dtype=np.int64)
            for lo in range(0, len(pdf), chunk):
                cos, null = _cosine_fold(_rows(side, slice(lo, lo + chunk)), center_side)
                # desc(cos), asc(cell): NaN ranks above every number, NULL
                # below; argmax takes the first (lowest-cell) winner
                rank = np.where(null, 0, np.where(np.isnan(cos), 2, 1))
                best = rank.max(axis=1, keepdims=True)
                num = np.where(rank == 1, cos, -np.inf)
                top = num.max(axis=1, keepdims=True)
                win = (rank == best) & ((best != 1) | (num == top))
                pick[lo : lo + chunk] = win.argmax(axis=1)
            yield pdf.assign(cell=cell_arr[pick])

    def dedup_cell(pdf):
        n = len(pdf)
        side = _vector_side(pdf[vec_col], pdf["__ok"])
        ci = cell_pos[pdf["cell"].iloc[0]]
        cos_c, null_c = _cosine_fold(side, _rows(center_side, [ci]))
        if max_cell_size is not None:
            # subcell = md5-uniform of the id scaled by the cell's
            # subdivision count (1 for cells within the cap)
            sub = (pdf["__h"].to_numpy() * math.ceil(n / max_cell_size)).astype(np.int64)
            order = np.argsort(sub, kind="stable")
            groups = np.split(order, np.flatnonzero(np.diff(sub[order])) + 1)
        else:
            groups = [np.arange(n)]
        pairs = []
        for g in groups:
            gside = _rows(side, g)
            block = max(1, (4 << 20) // len(g))
            for lo in range(0, len(g), block):
                cos, null = _cosine_fold(_rows(gside, slice(lo, lo + block)), gside)
                # NaN >= threshold is False: a NaN vector never pairs
                hit = (cos >= threshold) & ~null
                hit &= np.arange(lo, lo + len(cos))[:, None] < np.arange(len(g))[None, :]
                i, j = np.nonzero(hit)
                pairs.extend(zip(g[i + lo].tolist(), g[j].tolist()))
        ids = pdf[id_col].tolist()
        comp_of = union_find_components(pairs)
        keeper: dict = {}
        for node, comp in comp_of.items():
            key = _least_central_key(float(cos_c[node, 0]), bool(null_c[node, 0]), ids[node])
            if comp not in keeper or key < keeper[comp][0]:
                keeper[comp] = (key, node)
        keep = [i for i in range(n) if i not in comp_of or keeper[comp_of[i]][1] == i]
        return pd.DataFrame({id_col: pdf[id_col].iloc[keep], "cell": pdf["cell"].iloc[keep]})

    vec = F.col(vec_col)
    extra = [hash_fraction(F.col(id_col)).alias("__h")] if max_cell_size is not None else []
    prepared = corpus.select(
        F.col(id_col),
        vec,
        F.coalesce(F.forall(vec, lambda x: x.isNotNull()), F.lit(False)).alias("__ok"),
        *extra,
    )
    assign_schema = ", ".join(
        [f"`{id_col}` {types[id_col]}", f"`{vec_col}` {types[vec_col]}", "__ok boolean"]
        + (["__h double"] if extra else [])
        + [f"cell {cell_type}"]
    )
    return (
        prepared.mapInPandas(assign, assign_schema)
        .groupBy("cell")
        .applyInPandas(dedup_cell, out_schema)
    )


def quantize_embedding(vec: Column, *, bits: int = 8) -> Column:
    """Scalar-quantize a float vector to ``bits``-bit integers with a
    per-vector scale — the storage/serving format that cuts a 100 TB
    float32 embedding corpus 4× (int8) with ~1e−3 cosine error. Struct
    ``(scale, q)``: ``scale = max|v| / (2^(bits−1) − 1)``, ``q_i =
    floor(v_i/scale + 0.5)`` (explicit floor — no round-half-tie
    ambiguity between engines). Zero vectors quantize to all-zero with
    scale 0. Pure codegen array expressions, no UDF."""
    qmax = F.lit(float((1 << (bits - 1)) - 1))
    absmax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = absmax / qmax
    q = F.when(
        scale > 0,
        F.transform(vec, lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int")),
    ).otherwise(F.transform(vec, lambda x: F.lit(0)))
    return F.struct(scale.alias("scale"), q.alias("q"))


def quantization_fidelity(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    bits: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """Per-vector quantization audit: cosine similarity between the
    original vector and its dequantized form (``scale · q``), plus the
    scale — the number that decides whether int8 serving is safe for a
    given corpus (gate on ``min(cos_fidelity)``, not the mean). One scan,
    all codegen; output rounded for engine-stable hashing."""
    qz = quantize_embedding(F.col(vec_col), bits=bits)
    d = F.transform(qz["q"], lambda x: x.cast("double") * qz["scale"])
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(v, d, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nv = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    nd = F.sqrt(F.aggregate(F.transform(d, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    cos = F.when((nv > 0) & (nd > 0), dot / (nv * nd)).otherwise(F.lit(1.0))
    return df.select(
        F.col(id_col),
        F.round(qz["scale"], round_digits).alias("scale"),
        F.round(cos, round_digits).alias("cos_fidelity"),
    )


def quantization_fidelity_blas(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    bits: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """Arrow-batched numpy twin of :func:`quantization_fidelity` — the
    production path for fleet-wide audits: the higher-order-function
    chain of the codegen form runs interpreted per element (~1 ms/vector),
    while this vectorizes whole Arrow batches (measured ~40× at 200 k ×
    64-d). Bit-identical quantization recipe (same floor(x/scale + 0.5)),
    results equal to the exact form within rounding (equivalence-tested);
    keep the codegen form for the oracle, use this at scale."""
    import numpy as np
    import pandas as pd

    qmax = float((1 << (bits - 1)) - 1)

    def audit(batches):
        for pdf in batches:
            out = []
            for vid, emb in zip(pdf[id_col], pdf[vec_col]):
                v = np.asarray(emb, dtype=np.float64)
                absmax = float(np.abs(v).max()) if v.size else 0.0
                scale = absmax / qmax
                if scale > 0:
                    d = np.floor(v / scale + 0.5) * scale
                else:
                    d = np.zeros_like(v)
                nv = float(np.sqrt((v * v).sum()))
                nd = float(np.sqrt((d * d).sum()))
                cos = float((v * d).sum() / (nv * nd)) if nv > 0 and nd > 0 else 1.0
                out.append((int(vid), round(scale, round_digits), round(cos, round_digits)))
            yield pd.DataFrame(out, columns=[id_col, "scale", "cos_fidelity"])

    return df.select(id_col, vec_col).mapInPandas(
        audit, f"{id_col} long, scale double, cos_fidelity double"
    )


def semantic_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    drop: bool = False,
    round_digits: int = 9,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic complement
    of the GPT-3 13-gram rule (``dedup.ngram_overlap_pairs``): a train
    document paraphrased from an eval document shares few 13-grams but a
    near-identical embedding, so serious pipelines run BOTH rules. Each
    train row gets ``max_eval_cosine`` (its similarity to the closest
    eval vector, rounded for engine-stable comparison) and a
    ``contaminated`` flag (``round(max_cos) >= threshold``); with
    ``drop=True`` only clean rows survive.

    Scale shape: the eval side is benchmark-sized by nature, so its
    vectors collapse to ONE broadcast array row and the max-cosine is a
    pure codegen ``array_max(transform(...))`` over the train scan —
    zero shuffles, zero joins, the train corpus streams through once.
    (|eval|·dim work per train row; for benchmark-scale eval that is the
    same map-side cost profile as the broadcast n-gram rule.)

    An EMPTY eval set means nothing can be contaminated: every row gets
    ``max_eval_cosine`` NULL (max over zero vectors) and ``contaminated``
    false, so ``drop=True`` keeps the whole corpus. (``array_max`` of the
    empty collect_list is NULL, and a bare ``~(NULL >= t)`` filter would
    otherwise silently drop every train row.)

    Each vector's norm is taken once: the train norm is a column projected
    before the join, and each eval vector carries its norm in the
    broadcast row, so the lambda only takes the dot product (the
    :func:`..functions.normed_cosine` rule; the values are identical)."""
    v = F.col(vec_col)
    ev_row = eval_df.agg(
        F.collect_list(
            F.when(v.isNotNull(), F.struct(v.alias("v"), l2_norm(v).alias("n")))
        ).alias("__evs")
    )
    max_cos = F.round(
        F.array_max(
            F.transform(
                F.col("__evs"), lambda e: normed_cosine(dot(v, e["v"]), F.col("__tn"), e["n"])
            )
        ),
        round_digits,
    )
    out = (
        train.withColumn("__tn", l2_norm(v))
        .crossJoin(F.broadcast(ev_row))
        .withColumn("max_eval_cosine", max_cos)
        .withColumn(
            "contaminated",
            F.coalesce(
                F.col("max_eval_cosine") >= F.lit(threshold), F.lit(False)
            ),
        )
        .drop("__tn", "__evs")
    )
    return out.filter(~F.col("contaminated")).drop("contaminated") if drop else out


def semantic_decontaminate_blas(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    drop: bool = False,
    round_digits: int = 9,
) -> DataFrame:
    """Arrow-batched NumPy twin of :func:`semantic_decontaminate` — the
    production path once the eval benchmark has thousands of vectors: the
    codegen higher-order-function form evaluates |eval|·dim interpreted
    ops per train row, while this does one BLAS ``train_block @ eval.T``
    per Arrow batch and a row-max (same inversion as
    :func:`cosine_topk_blas`; measured ~100× at 4k eval vectors in
    tools/scalecheck.py). The eval matrix ships as one broadcast; the
    train corpus streams through mapInPandas with zero shuffles. Returns
    ``(id_col, max_eval_cosine, contaminated)`` — values equal the
    codegen form within rounding (equivalence-tested); keep the codegen
    form as the oracle anchor. An empty eval set short-circuits to the
    same semantics as the codegen twin: NULL ``max_eval_cosine``,
    ``contaminated`` false, ``drop=True`` keeps everything."""
    import numpy as np
    import pandas as pd

    spark = train.sparkSession
    ev = np.array(
        [r[0] for r in eval_df.select(vec_col).collect()], dtype="float64"
    )
    if ev.size == 0:
        out = (
            train.select(id_col)
            .withColumn("max_eval_cosine", F.lit(None).cast("double"))
            .withColumn("contaminated", F.lit(False))
        )
        return (
            out.filter(~F.col("contaminated")).drop("contaminated")
            if drop
            else out
        )
    ev_n = ev / np.maximum(np.linalg.norm(ev, axis=1, keepdims=True), 1e-300)
    bc = spark.sparkContext.broadcast(ev_n)

    def part(batches):
        E = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            T = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            Tn = T / np.maximum(np.linalg.norm(T, axis=1, keepdims=True), 1e-300)
            mx = (Tn @ E.T).max(axis=1).round(round_digits)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "max_eval_cosine": mx,
                    "contaminated": mx >= threshold,
                }
            )

    out = train.select(id_col, vec_col).mapInPandas(
        part, f"{id_col} long, max_eval_cosine double, contaminated boolean"
    )
    return out.filter(~F.col("contaminated")).drop("contaminated") if drop else out


# ---------------------------------------------------------------------------
# label-aware neighbor analysis (training-data curation over embeddings)
# ---------------------------------------------------------------------------


def knn_label_consistency(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
    min_agree: float = 0.5,
    candidates: DataFrame | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Per-vector kNN label-agreement audit (confident-learning style, à la
    cleanlab): for each vector, the fraction of its ``k`` nearest neighbors
    (cosine, self excluded) that share its label. Rows whose neighborhood
    disagrees (``agree_frac < min_agree``) are flagged ``suspect`` — the
    cheap first pass for label-error triage before a model-based pass.

    Returns (id, label, n_neighbors, n_agree, agree_frac, suspect).
    ``agree_frac`` is a ratio of integers (engine-exact); ``n_neighbors``
    can be < k only when the corpus itself has < k+1 rows.

    Scale shape: exact self-kNN is inherently O(N²) — fine up to ~10⁵
    vectors per run (the corpus ships once as a broadcast of id+label+vec
    and every executor scores its scan slice; no shuffle until the k-row
    window per anchor). Past that, pass ``candidates`` — a (id_a, id_b)
    pair table from :func:`lsh_topk` buckets, :func:`ivf_build` cells, or
    :func:`embedding_near_dup_pairs` candidates — and only those pairs are
    scored (recall < 1, the standard ANN trade, same knobs as the
    similarity stack above).
    """
    # pre-normalize once (N norm folds) so the pair score is a plain dot
    # (N² folds) instead of a full cosine (3·N² folds) — same ordering
    base = _normalized(df.select(F.col(id_col), F.col(vec_col), F.col(label_col)), vec_col)
    a = base.select(
        F.col(id_col).alias("__aid"),
        F.col(vec_col).alias("__av"),
        F.col(label_col).alias("__albl"),
    )
    b = base.select(
        F.col(id_col).alias("__bid"),
        F.col(vec_col).alias("__bv"),
        F.col(label_col).alias("__blbl"),
    )
    if candidates is None:
        pairs = b.crossJoin(F.broadcast(a)).filter(F.col("__aid") != F.col("__bid"))
    else:
        # candidate tables are typically ORDERED (id_a < id_b — the shape
        # embedding_near_dup_pairs and the LSH/banding stack emit), which
        # covers only half of each anchor's neighborhood; symmetrize, then
        # distinct so an already-bidirectional table isn't double-counted
        cand = candidates.select(
            F.col(candidates.columns[0]).alias("__aid"),
            F.col(candidates.columns[1]).alias("__bid"),
        ).filter(F.col("__aid") != F.col("__bid"))
        cand = cand.union(
            cand.select(F.col("__bid").alias("__aid"), F.col("__aid").alias("__bid"))
        ).distinct()
        pairs = cand.join(a, "__aid").join(b, "__bid")
    # round BEFORE the rank window (the mmr_rerank rule): ordering
    # decisions compare rounded values + id tiebreak only, so a last-ulp
    # algebra difference between engines cannot swap a rank-k neighbor
    scored = pairs.select(
        "__aid",
        "__albl",
        "__bid",
        "__blbl",
        F.round(dot(F.col("__av"), F.col("__bv")), round_digits).alias("__cos"),
    )
    w = Window.partitionBy("__aid").orderBy(F.desc("__cos"), F.asc("__bid"))
    knn = scored.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= k)
    agree = F.sum(F.when(F.col("__blbl") == F.col("__albl"), 1).otherwise(0)).cast("long")
    out = knn.groupBy(F.col("__aid").alias(id_col), F.col("__albl").alias(label_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        agree.alias("n_agree"),
    )
    return out.select(
        id_col,
        label_col,
        "n_neighbors",
        "n_agree",
        (F.col("n_agree") / F.col("n_neighbors")).alias("agree_frac"),
        (F.col("n_agree") / F.col("n_neighbors") < F.lit(min_agree)).alias("suspect"),
    )


def hard_negatives(
    anchors: DataFrame,
    corpus: DataFrame,
    *,
    anchor_id: str = "anchor_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive/metric learning: for each
    anchor, the ``k`` most-similar corpus vectors with a DIFFERENT label
    (the negatives a random sampler almost never finds, and the ones that
    carry the gradient). The label filter runs BEFORE the top-k window —
    a plain top-k-then-filter would under-deliver negatives whenever
    same-label neighbors crowd the top ranks.

    Returns (anchor_id, corpus_id, cosine, rank) with rank 1..k per
    anchor, id tiebreak. Scale shape: anchors broadcast against one
    corpus scan (anchors are the small side by contract — a query batch,
    not the corpus); per-anchor top-k via window on ≤ corpus rows per
    anchor. For corpus-wide mining feed anchors in batches, or pre-prune
    with :func:`ivf_build` cells exactly as in :func:`ivf_topk`.
    """
    # pre-normalize each side once so the per-pair score is one dot fold
    a = _normalized(
        anchors.select(
            F.col(anchor_id).alias("__aid"),
            F.col(vec_col).alias("__av"),
            F.col(label_col).alias("__albl"),
        ),
        "__av",
    )
    c = _normalized(
        corpus.select(
            F.col(corpus_id).alias("__cid"),
            F.col(vec_col).alias("__cv"),
            F.col(label_col).alias("__clbl"),
        ),
        "__cv",
    )
    scored = (
        c.crossJoin(F.broadcast(a))
        .filter(F.col("__clbl") != F.col("__albl"))
        .select(
            F.col("__aid").alias(anchor_id),
            F.col("__cid").alias(corpus_id),
            # rounded BEFORE the rank window (mmr_rerank rule): rank
            # boundaries compare rounded cosine + id tiebreak only
            F.round(dot(F.col("__av"), F.col("__cv")), round_digits).alias("cosine"),
        )
    )
    w = Window.partitionBy(anchor_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(anchor_id, corpus_id, "cosine", "rank")
    )


def label_centroids(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label mean embedding → (label, centroid array<double>).

    Component sums go through DECIMAL(28,12) (the ``functions.dsum``
    recipe at embedding precision): decimal addition is associative, so
    the centroid is bit-identical across partitionings, runs, and engines
    — the property the DuckDB oracle and any replayed pipeline need.
    float32 components are ≤ ~1e2 with 24-bit mantissas, so 12 fractional
    digits lose nothing that survives the final double division anyway.

    Scale shape: ``posexplode`` fans each row into ``dim`` (label, pos,
    value) tuples, but the groupBy is map-side combinable — the shuffle
    carries |labels|×dim partial sums per input partition, never N×dim
    rows. The rebuilt centroid table is |labels|×dim doubles: broadcast
    material for any downstream join.
    """
    pos = df.select(F.col(label_col), F.posexplode(F.col(vec_col)).alias("__pos", "__v"))
    comp = pos.groupBy(label_col, "__pos").agg(
        (
            F.sum(F.col("__v").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1))
        ).alias("__cv")
    )
    return (
        comp.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("__pos", "__cv"))).alias("__s"))
        .select(label_col, F.transform("__s", lambda s: s["__cv"]).alias("centroid"))
    )


def prototypicality(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_digits: int = 6,
) -> DataFrame:
    """Prototypicality score for data pruning (Sorscher et al. 2022,
    arXiv:2206.14486 "Beyond neural scaling laws"): cosine between each
    vector and its LABEL CENTROID, plus the vector's percentile rank
    within its label (0 = least prototypical = the "hard" examples the
    paper keeps when data is abundant; 1 = most prototypical = the
    "easy" ones kept when data is scarce). Downstream pruning is a plain
    filter on ``proto_pct``.

    Returns (id, label, proto_cos, proto_pct). ``proto_cos`` is rounded
    so the within-label ordering (and therefore ``proto_pct``) is stable
    across engines; ``proto_pct`` ranks the ROUNDED score with
    ``percent_rank`` (ties share a rank on both engines), id-tiebreak-free
    by construction.

    Scale shape: one :func:`label_centroids` aggregate (broadcast-sized
    result) + a broadcast join + one window partitioned by label. The
    window sorts each label's rows on one node — with L labels the
    biggest partition is N/L-ish; for few-label corpora at 100 TB, rank
    against a :func:`~.sketches` KLL quantile sketch of proto_cos instead
    (same filter semantics, no global sort).
    """
    cents = label_centroids(df, vec_col=vec_col, label_col=label_col)
    scored = df.join(F.broadcast(cents), label_col).select(
        F.col(id_col),
        F.col(label_col),
        F.round(
            cosine_similarity(F.col(vec_col), F.col("centroid")), round_digits
        ).alias("proto_cos"),
    )
    w = Window.partitionBy(label_col).orderBy("proto_cos")
    return scored.withColumn(
        "proto_pct", F.round(F.percent_rank().over(w), round_digits)
    )


def random_projection(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int = 64,
    out_dim: int = 16,
    seed: str = "rp",
    round_digits: int = 6,
    out_col: str = "rp",
) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection (Achlioptas 2003,
    JCSS 66(4): ±1 entries preserve pairwise distances as well as
    Gaussian ones): project ``in_dim`` → ``out_dim`` with
    ``y_j = (Σ_i r_ji·x_i) / √out_dim``, where ``r_ji ∈ {−1, +1}`` comes
    from one md5 bit per (j, i) — the same deterministic-weights recipe as
    :func:`hyperplane_signature`, so the matrix is reproducible on any
    engine with no driver-side weight shipping.

    The dimension-reduction front of a 100 TB ANN pipeline: distances
    distort by at most ~√(in/out)·ε while the embedding payload (and every
    downstream shuffle, index, and scan) shrinks ``in_dim/out_dim``-fold.
    Components round to ``round_digits`` so both engines agree (same
    contract as the cosine oracles).

    Returns (id, out_col array<double>). Pure codegen scan — zero
    shuffles; out_dim × in_dim fused multiply-adds per row. The ±1 matrix
    is hoisted to LITERAL arrays at plan-build time (hashlib md5, byte-
    identical to Spark's md5 on these ASCII keys — python-recount-tested):
    leaving the md5 inside the row expression re-hashes out_dim × in_dim
    times PER ROW (~20× the useful flops; measured 6.9 s → sub-second at
    sf0.1). The oracle still derives the same matrix from md5 in SQL, so
    engine-portability is untouched.
    """
    import hashlib
    import math

    vec = F.col(vec_col)
    inv = 1.0 / math.sqrt(out_dim)
    comps = []
    for j in range(out_dim):
        signs = [
            1.0
            if int(hashlib.md5(f"{seed}_{j}_{i}".encode()).hexdigest()[:8], 16) & 1
            else -1.0
            for i in range(in_dim)
        ]
        w = _lit_vector(signs)
        proj = F.aggregate(
            F.zip_with(vec, w, lambda x, wj: x.cast("double") * wj),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        comps.append(F.round(proj * F.lit(inv), round_digits))
    return df.select(F.col(id_col), F.array(*comps).alias(out_col))


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    pool: int = 50,
    lam: float = 0.7,
    round_digits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    per query, greedily select ``k`` results from the top-``pool``
    relevance candidates, each step maximizing
    ``λ·relevance − (1−λ)·max_similarity_to_already_selected`` — the
    standard diversity pass between ANN retrieval and a RAG prompt
    (without it, near-duplicate chunks crowd out coverage).

    Deterministic on every engine: relevance and pairwise cosines round to
    ``round_digits`` BEFORE any argmax (ordering decisions compare rounded
    values — the cosine-oracle contract), ties break by candidate id.

    Returns (query_id, corpus_id, relevance, mmr_rank 1..k).

    Scale shape: stage 1 is :func:`cosine_topk` (one corpus scan however
    many queries); the greedy then runs ``k−1`` bounded iterations over
    ≤ pool rows per query — per-query joins and windows, everything keyed
    by query id, checkpointed per step so the plan stays O(1) deep. The
    corpus is never touched again after the pool is cut.
    """
    # pool cut ranks on the ROUNDED relevance (id tiebreak): ranking on the
    # raw cosine would let a last-ulp engine difference swap membership at
    # the pool boundary — the same reason every later argmax compares
    # rounded values only
    q = queries.select(
        F.col(query_id), F.col(vec_col).alias("__qv"), l2_norm(F.col(vec_col)).alias("__qn")
    )
    c = _normalized(corpus.select(F.col(corpus_id), F.col(vec_col)), vec_col)
    c = c.select("*", l2_norm(F.col(vec_col)).alias("__cn"))
    scored0 = c.crossJoin(F.broadcast(q)).select(
        query_id,
        corpus_id,
        F.round(
            normed_cosine(dot(F.col("__qv"), F.col(vec_col)), F.col("__qn"), F.col("__cn")),
            round_digits,
        ).alias("relevance"),
        F.col(vec_col).alias("__v"),
    )
    wp = Window.partitionBy(query_id).orderBy(F.desc("relevance"), F.asc(corpus_id))
    work = (
        scored0.withColumn("__pr", F.row_number().over(wp))
        .filter(F.col("__pr") <= pool)
        .drop("__pr")
        .localCheckpoint(eager=False)
    )
    w0 = Window.partitionBy(query_id).orderBy(F.desc("relevance"), F.asc(corpus_id))
    selected = (
        work.withColumn("__r", F.row_number().over(w0))
        .filter(F.col("__r") == 1)
        .select(query_id, corpus_id, "relevance", "__v", F.lit(1).alias("mmr_rank"))
        .localCheckpoint(eager=False)
    )
    for t in range(2, k + 1):
        sel = selected.select(
            F.col(query_id), F.col(corpus_id).alias("__sid"), F.col("__v").alias("__sv")
        )
        rem = work.join(
            selected.select(query_id, corpus_id), [query_id, corpus_id], "left_anti"
        )
        maxsim = (
            rem.join(sel, query_id)
            .groupBy(query_id, corpus_id)
            .agg(
                F.max(F.round(dot(F.col("__v"), F.col("__sv")), round_digits)).alias("__ms")
            )
        )
        scored = rem.join(maxsim, [query_id, corpus_id]).withColumn(
            "__mmr",
            F.round(
                F.lit(float(lam)) * F.col("relevance")
                - F.lit(1.0 - float(lam)) * F.col("__ms"),
                round_digits,
            ),
        )
        wt = Window.partitionBy(query_id).orderBy(F.desc("__mmr"), F.asc(corpus_id))
        pick = (
            scored.withColumn("__r", F.row_number().over(wt))
            .filter(F.col("__r") == 1)
            .select(query_id, corpus_id, "relevance", "__v", F.lit(t).alias("mmr_rank"))
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=False)
    return selected.select(query_id, corpus_id, "relevance", "mmr_rank")


def maxsim_topk(
    query_vecs: DataFrame,
    doc_vecs: DataFrame,
    *,
    query_id: str = "query_id",
    qvec_id: str = "qvec_id",
    doc_id: str = "doc_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Multi-vector late-interaction retrieval (ColBERT MaxSim, Khattab &
    Zaharia 2020, SIGIR): queries and documents are BAGS of vectors;
    ``score(q, d) = Σ_{qv∈q} max_{dv∈d} cos(qv, dv)`` — each query vector
    finds its best-matching doc vector, and the per-query-vector maxima
    sum. The retrieval model between single-vector ANN and full
    cross-encoders.

    Deterministic: per-pair cosines round to ``round_digits`` BEFORE the
    max (max of rounded = exact), the per-doc sum runs in DECIMAL (exact,
    order-free), ranks tiebreak by doc id.

    Returns (query_id, doc_id, maxsim_score, rank 1..k).

    Scale shape: the query bag broadcasts (queries × vectors-per-query
    rows — a query batch, not a corpus); doc vectors are scanned ONCE and
    never shuffled with payloads — the max-aggregate is map-side
    combinable on (query_id, query vector index, doc_id), and the score
    sum shuffles one decimal partial per (partition, query, doc).
    """
    # the caller-provided qvec_id keeps duplicate identical vectors in one
    # query bag as SEPARATE summands (a derived digest index would collapse
    # them and undercount the MaxSim sum)
    q = _normalized(
        query_vecs.select(
            F.col(query_id), F.col(qvec_id).alias("__qi"), F.col(vec_col).alias("__qv")
        ),
        "__qv",
    )
    d = _normalized(doc_vecs.select(F.col(doc_id), F.col(vec_col).alias("__dv")), "__dv")
    per_qv = (
        d.crossJoin(F.broadcast(q))
        .select(
            query_id,
            "__qi",
            doc_id,
            F.round(dot(F.col("__qv"), F.col("__dv")), round_digits).alias("__cos"),
        )
        .groupBy(query_id, "__qi", doc_id)
        .agg(F.max("__cos").alias("__m"))
    )
    scored = per_qv.groupBy(query_id, doc_id).agg(
        F.round(
            F.sum(F.col("__m").cast("decimal(18,6)")).cast("double"), round_digits
        ).alias("maxsim_score")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("maxsim_score"), F.asc(doc_id))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(query_id, doc_id, "maxsim_score", "rank")
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) ANN — the memory-bound 100 TB retrieval path
# ---------------------------------------------------------------------------


def pq_build(
    corpus: DataFrame,
    *,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k_codes: int = 16,
) -> tuple[list[list[list[float]]], DataFrame]:
    """Product-quantization build (Jégou et al. 2011): split each
    L2-normalized vector into ``m`` subspaces and quantize each to its
    nearest of ``k_codes`` sub-centroids. Returns ``(codebook, codes)``:
    the codebook is an ``m × k_codes × dim/m`` nested Python list (a few
    KB — it becomes a PLAN-TIME LITERAL, the hoisted-weights trick from
    the JL projection), and ``codes`` is a DataFrame (id, codes
    array<int> of length m) — **one byte-ish code per subspace instead of
    dim floats**, the ~32× memory cut that keeps a 100 TB corpus's index
    in RAM.

    Sub-centroids are the sub-slices of the ``k_codes`` corpus vectors
    with smallest md5 hash fraction (:func:`_centroid_pick`'s
    engine-portable sample — no KMeans object, fully replayable).
    Encoding is pure codegen: per subspace, an ``array_position(argmin)``
    over the literal codebook — zero joins, zero shuffles, one scan.
    """
    from .sketches import hash_fraction

    cn = _normalized(corpus.select(F.col(corpus_id), F.col(vec_col)), vec_col)
    seeds = (
        cn.withColumn("__h", hash_fraction(F.col(corpus_id)))
        .orderBy("__h", corpus_id)
        .limit(k_codes)
        .select(vec_col)
        .collect()
    )
    dim = len(seeds[0][0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    codebook = [
        [[float(r[0][j * sub + t]) for t in range(sub)] for r in seeds]
        for j in range(m)
    ]
    codes = cn.select(
        F.col(corpus_id),
        F.array(
            *[
                _pq_code(F.col(vec_col), codebook[j], j * sub, sub)
                for j in range(m)
            ]
        ).alias("codes"),
    )
    return codebook, codes


def _lit_double(v) -> str:
    """One double rendered as a SQL literal. ``repr`` round-trips every
    FINITE double exactly; non-finite values render as ``nanD``/``infD``
    which do NOT parse (r12 ADVICE) — all current callers pass
    construction-finite values (codebooks, sign planes, centroids), so
    fail loudly with a diagnosable error instead of a ParseException."""
    f = float(v)
    if not math.isfinite(f):
        raise ValueError(
            f"_lit_vector/_lit_matrix require finite doubles, got {f!r}"
        )
    return repr(f) + "D"


def _lit_vector(values) -> Column:
    """A literal array<double> in ONE ``F.expr`` call — same rationale
    (and same exact-double guarantee) as :func:`_lit_matrix`: the
    per-element ``F.lit`` path pays one py4j round trip per value, which
    at 16-table LSH / 8×64 kmeans scale is seconds of plan-build time."""
    return F.expr("array(" + ",".join(_lit_double(v) for v in values) + ")")


def _lit_matrix(rows: list[list[float]]) -> Column:
    """A k × d literal array-of-arrays — plan-time data, zero per-row cost.

    Built as ONE ``F.expr`` over a SQL literal string instead of k·d
    nested ``F.lit``/``F.array`` calls: every Column constructor is a
    py4j round trip, and at PQ scale (m=16 codebooks × 16×4 each, twice
    per query plan) the per-literal path spent ~3 s per plan BUILD in
    py4j chatter (guide §4's boundary cost, paid at plan time — measured
    r12). ``repr`` round-trips every finite double exactly and the ``D``
    suffix parses as DoubleType, so the literal VALUES are bit-identical
    to the old path (pytest-pinned)."""
    body = ",".join(
        "array(" + ",".join(_lit_double(v) for v in r) + ")" for r in rows
    )
    return F.expr(f"array({body})")


def _pq_code(vec: Column, sub_centroids: list[list[float]], start: int, sub: int) -> Column:
    """Index (0-based) of the nearest sub-centroid for one subspace.

    ONE transform-lambda over a literal centroid matrix — not k unrolled
    arithmetic copies: the unrolled form built an m·k·(dim/m)-node tree
    whose codegen compile alone cost ~50 s at m=16, k=16 (measured);
    higher-order functions keep the tree O(m) with the centroids as
    literal DATA."""
    subv = F.slice(vec, start + 1, sub)
    dists = F.transform(
        _lit_matrix(sub_centroids),
        lambda c: F.aggregate(
            F.zip_with(
                subv, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def pq_query(
    queries: DataFrame,
    codebook: list[list[list[float]]],
    codes: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """ADC (asymmetric distance computation) probe of a PQ index: each
    query builds an ``m × k_codes`` dot-product TABLE against the literal
    codebook once, then every corpus vector scores as ``m`` table lookups
    — no float vector is ever touched at query time, which is the whole
    point: the scored side is the 4-byte-code index, not the corpus.

    Scale shape: the query side (with its table column) broadcasts; the
    code index streams through one scan; the only shuffle is the final
    per-query top-k. Output: (query_id, corpus_id, score, rank) — score
    is the PQ-approximate cosine (normalized inputs).
    """
    m = len(codebook)
    sub = len(codebook[0][0])
    qn = _normalized(queries.select(F.col(query_id), F.col(vec_col)), vec_col)
    # per-query table: table[j][c] = dot(q_sub_j, codebook[j][c]) — same
    # literal-matrix + lambda shape as _pq_code (tree stays O(m))
    def _table(subq: Column, cents: list[list[float]]) -> Column:
        # factory closure: a 2-arg lambda would be read as (element, index)
        return F.transform(
            _lit_matrix(cents),
            lambda c: F.aggregate(
                F.zip_with(subq, c, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )

    tables = [
        _table(F.slice(F.col(vec_col), j * sub + 1, sub), cents)
        for j, cents in enumerate(codebook)
    ]
    qt = qn.select(F.col(query_id), F.array(*tables).alias("__qt"))
    scored = F.broadcast(qt).crossJoin(codes).select(
        query_id,
        corpus_id,
        F.aggregate(
            F.zip_with(
                F.col("__qt"),
                F.col("codes"),
                lambda tbl, code: F.element_at(tbl, code + 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, F.round("score", 6).alias("score"), "rank")
    )


def pq_topk_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 16,
    k_codes: int = 16,
    shortlist: int | None = None,
    n_corpus: int | None = None,
) -> DataFrame:
    """PQ ANN with EXACT RE-RANK — the production shape (Jégou et al.
    2011 §V): ADC scores the whole corpus through the code index to a
    ``shortlist`` of candidates per query, then only those candidates'
    real vectors are fetched and re-scored exactly. Recall@k equals the
    shortlist's coverage of the exact top-k (measured 0.86 at
    shortlist=50, m=16 on the sf0.01 random-embedding corpus — the
    hardest case for any quantizer; trained/structured embeddings do far
    better), while the full-precision corpus is touched for only
    |queries|·shortlist rows instead of |queries|·|corpus|.

    ``shortlist`` defaults to CORPUS-AWARE sizing
    ``max(100, 20·k, ⌈0.01·n⌉)`` — the r9 2M-vector stress showed the
    old static 100 silently collapses as the corpus grows (recall 0.09
    at 2M: ADC rank error past position 100 dominates once the corpus
    dwarfs the shortlist). A 1 % shortlist keeps the re-rank 100× under
    brute force while the ADC stage only has to put true neighbors in
    its top percentile, not its top hundred. Auto-sizing costs ONE
    ``corpus.count()`` action at plan build — pass ``shortlist``
    explicitly to keep the build lazy (the registered oracle queries do,
    pinning their measured recall floors), or ``n_corpus`` when the size
    is already known (shared-count rule, see :func:`lsh_topk`).

    Scale shape: stage 1 is :func:`pq_query` (codes-only scan, broadcast
    tables, one top-shortlist shuffle); stage 2 joins the shortlist ids
    back to the corpus — candidate-sized, so the big table contributes
    one semi-join-shaped probe — and re-ranks with one per-query window.
    """
    if shortlist is None:
        n = corpus.count() if n_corpus is None else int(n_corpus)
        shortlist = max(100, 20 * int(k), int(math.ceil(0.01 * n)))
    codebook, codes = pq_build(
        corpus, corpus_id=corpus_id, vec_col=vec_col, m=m, k_codes=k_codes
    )
    cand = pq_query(
        queries, codebook, codes,
        query_id=query_id, corpus_id=corpus_id, vec_col=vec_col, k=shortlist,
    ).select(query_id, corpus_id)
    cn = _normalized(corpus.select(F.col(corpus_id), F.col(vec_col)), vec_col)
    qn = _normalized(
        queries.select(F.col(query_id), F.col(vec_col)), vec_col
    ).withColumnRenamed(vec_col, "__qv")
    scored = (
        cand.join(cn, corpus_id)
        .join(F.broadcast(qn), query_id)
        .select(
            query_id,
            corpus_id,
            dot(F.col("__qv"), F.col(vec_col)).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, F.round("cosine", 6).alias("cosine"), "rank")
    )


def label_centroid_distances(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Pairwise cosine between LABEL CENTROIDS — the class-separability
    diagnostic that tells you whether an embedding space can support the
    labels at all (near-1 centroid cosines ⇒ the classes are not
    linearly separated ⇒ prototypicality pruning and centroid classifiers
    will thrash). One row per unordered label pair (label_a < label_b).

    Engine-stable: centroids are decimal-mean per (label, dim); the dot
    products and norms decimal-sum their 64 products — everything after
    the explode is |labels|·dim-sized.

    Scale shape: posexplode to (label, dim, value) reduces map-side to
    |labels|×dim partial means (the only fact-sized stage, one shuffle of
    dimension-grain partials); the pair join runs on that tiny table.
    """
    from ..functions import davg

    x = (
        df.filter(F.col(label_col).isNotNull())
        .select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col)).alias("dim", "v"),
        )
        .select("label", "dim", F.col("v").cast("double").alias("v"))
    )
    cent = x.groupBy("label", "dim").agg(davg(F.col("v"), scale=9).alias("c"))
    dec = lambda col: col.cast("decimal(28,9)")
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(dec(F.col("c") * F.col("c"))).cast("double")).alias("nrm")
    )
    pairs = (
        cent.alias("a")
        .join(cent.alias("b"), "dim")
        .filter(F.col("a.label") < F.col("b.label"))
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(F.sum(dec(F.col("a.c") * F.col("b.c"))).cast("double").alias("__dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("__na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("__nb"))
    return (
        pairs.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                normed_cosine(F.col("__dot"), F.col("__na"), F.col("__nb")), round_digits
            ).alias("cosine"),
        )
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str,
    *,
    rank_col: str = "rank",
    k_rrf: int = 60,
    top_k: int = 10,
    round_digits: int = 9,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two candidate
    rankings — the standard hybrid-search combiner (BM25 ∪ dense ANN):
    ``rrf = Σ_lists 1/(k_rrf + rank)``, missing-from-a-list contributes 0.
    Output: (id, rank_a, rank_b, rrf_score, fused_rank) top-``top_k`` by
    (score desc, id asc); absent ranks stay NULL.

    Rank-only fusion is what makes hybrid search robust: the two scorers'
    scales (BM25 logs vs cosine) never meet, so no calibration is needed.
    ``k_rrf=60`` is the paper's constant.

    Exactness: each term is ``1.0/(k + rank)`` on integer ranks — the
    identical double in any engine — and the two-term sum has a fixed
    operand order, so the fused score is bit-stable.

    Scale shape: both inputs are top-N candidate lists (bounded small by
    construction); the full-outer join and the final window are
    candidate-sized, broadcast-friendly.
    """
    ra = ranked_a.select(F.col(id_col), F.col(rank_col).alias("rank_a"))
    rb = ranked_b.select(F.col(id_col), F.col(rank_col).alias("rank_b"))
    j = ra.join(rb, id_col, "full_outer")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(k_rrf) + F.col("rank_a")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("rank_b")), F.lit(0.0))
    w = Window.orderBy(F.desc("__s"), F.asc(id_col))
    return (
        j.withColumn("__s", score)
        .withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= top_k)
        .select(
            id_col,
            "rank_a",
            "rank_b",
            F.round(F.col("__s"), round_digits).alias("rrf_score"),
            F.col("fused_rank").cast("int").alias("fused_rank"),
        )
    )


def kmeans_stats(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iters: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Deterministic distributed k-means (Lloyd) over an embedding column,
    fixed ``n_iters`` assignment→update cycles from md5-picked seeds —
    the clustering primitive behind cluster-balanced sampling and corpus
    topic profiling, built so the whole trajectory replays bit-for-bit in
    the unrolled-CTE oracle (the fixed-point PageRank precedent). Output
    after a final assignment under the last centroids: one row per
    surviving cluster — (cluster, n_members, inertia).

    Determinism, engine-for-engine:

    - seeds: the ``k`` vectors with smallest ``md5('km:' || id)`` (id
      tiebreak), cluster index = position in that order;
    - distance: ``(x·x − 2·x·c) + c·c`` with every dot the same
      sequential fold both engines (the ``cosine_topk`` equivalence);
      ``c·c`` bakes as a plan literal computed by the identical python
      left-fold on the exact collected doubles;
    - argmin: lexicographic min of (d², cluster) — ties to the lowest
      cluster id;
    - update: per-dimension DECIMAL(28,12) sums (exact, order-free) over
      assigned members, cast double, divided by the member count — the
      ``label_centroids`` recipe. A cluster that loses every member
      DROPS (both engines identically); no re-seeding;
    - inertia: 9-dp-rounded d² summed in DECIMAL(28,9).

    Scale shape — the production k-means loop: centroids are a k×dim
    model COLLECTED to the driver each update (tiny by contract) and
    baked into the next iteration's plan as literals, so ASSIGNMENT is a
    zero-join, zero-shuffle codegen projection over one scan; the update
    shuffle carries k×dim decimal partials per partition (map-side
    combined), never vectors. Total: ``n_iters + 1`` scans.
    """
    final = _kmeans_final_assignment(df, id_col, vec_col, k, n_iters)
    return (
        final.groupBy(F.col("__cluster").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.sum(F.round(F.col("__d2"), 9).cast("decimal(28,9)"))
            .cast("double")
            .alias("__inertia"),
        )
        .select(
            F.col("cluster").cast("int"),
            "n_members",
            F.round(F.col("__inertia"), round_digits).alias("inertia"),
        )
    )


def _kmeans_final_assignment(
    df: DataFrame, id_col: str, vec_col: str, k: int, n_iters: int
) -> DataFrame:
    """The shared Lloyd trajectory behind :func:`kmeans_stats` and
    :func:`kmeans_balanced_sample`: returns the final per-row assignment
    (__id, __x, __cluster, __d2) under the ``n_iters``-times-updated
    centroids. See :func:`kmeans_stats` for the determinism contract.

    ONE lazy plan, zero driver round trips: the trajectory used to
    collect the seeds and every update's centroids to the driver and
    re-bake them as literals into a FRESH assignment plan per iteration
    — ``n_iters + 1`` analyzed/codegen'd plans and ``n_iters + 1``
    blocking jobs per call. Each iteration's k×dim centroid model is
    instead packed into a single-row frame (sorted array of (cluster,
    centroid) structs) that broadcast-cross-joins back onto the corpus,
    so the whole trajectory is one unrolled plan and the bench action is
    its only job. Bit-exactness is unchanged: the in-plan ``dot(c, c)``
    is the same 0.0-seeded sequential left fold the old Python
    ``dcc += c*c`` loop computed, ``dot(x, c)`` is the identical
    expression either way, and the update aggregate feeds its exact
    doubles straight into the next assignment instead of round-tripping
    them through ``collect`` + ``repr`` literals (which preserved bits —
    so both paths see the same IEEE values; pinned by
    ``test_kmeans_single_plan_matches_driver_loop_trajectory``).
    """
    from ..functions import dot

    x = F.col("__x")
    # NOT pinned: an A/B at sf0.1 showed localCheckpoint-ing the parsed
    # vector table buys nothing here (per-job latency dominates the small
    # scans) while pinning non-replicated blocks for the session. At real
    # scale, persist the input ONCE caller-side (MLlib's kmeans caches its
    # training matrix) — the operator composes with that.
    v = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda e: e.cast("double")).alias("__x"),
    )
    h = F.md5(F.concat(F.lit("km:"), F.col("__id").cast("string")))
    # seeds packed in ONE aggregate: collect the ≤k winners of the
    # (h, id) order and index them in place (cluster = 0-based position,
    # exactly the old enumerate(collect)) — no row_number window stage
    seeds = v.select(h.alias("__h"), "__id", "__x").orderBy("__h", "__id").limit(k)
    cents = seeds.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("__h", "__id", "__x"))),
            lambda s, i: F.struct(i.alias("__cluster"), s["__x"].alias("__c")),
        ).alias("__cents")
    )

    def assign(cents: DataFrame) -> DataFrame:
        dxx = dot(x, x)
        best = F.array_min(
            F.transform(
                F.col("__cents"),
                # dot(c, c) == the old python left-fold dcc (0.0 seed,
                # same add order, no FMA in either); lexicographic min of
                # (d2, cluster) — ties to the lowest cluster id
                lambda cs: F.struct(
                    (
                        (dxx - F.lit(2.0) * dot(x, cs["__c"]))
                        + dot(cs["__c"], cs["__c"])
                    ).alias("d2"),
                    cs["__cluster"].alias("cluster"),
                ),
            )
        )
        return v.crossJoin(F.broadcast(cents)).select(
            "__id", "__x", best["cluster"].alias("__cluster"), best["d2"].alias("__d2")
        )

    for _ in range(n_iters):
        assigned = assign(cents)
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
        # gather the k×dim model in ONE global aggregate and reshape the
        # flat (cluster, pos, cv) list into per-cluster pos-ordered arrays
        # inside the 1-row projection — one exchange instead of the
        # groupBy(cluster) + pack pair. (cluster, pos) is unique, so the
        # sort orders by cluster then pos; array_distinct keeps first
        # occurrence (ascending clusters) and filter preserves pos order —
        # the exact reshape the old driver loop did with sorted() dicts.
        flat = F.col("__flat")
        cents = comp.agg(
            F.sort_array(
                F.collect_list(F.struct("__cluster", "__pos", "__cv"))
            ).alias("__flat")
        ).select(
            F.transform(
                F.array_distinct(F.transform(flat, lambda s: s["__cluster"])),
                lambda c: F.struct(
                    c.alias("__cluster"),
                    F.transform(
                        F.filter(flat, lambda s: s["__cluster"] == c),
                        lambda s: s["__cv"],
                    ).alias("__c"),
                ),
            ).alias("__cents")
        )

    return assign(cents)


def kmeans_balanced_sample(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    n_iters: int = 3,
    per_cluster: int = 5,
) -> DataFrame:
    """Cluster-balanced subset: run the :func:`kmeans_stats` trajectory,
    then keep ``per_cluster`` members from every surviving cluster by
    ``md5('kbs:' || id)`` order (id tiebreak) — the diversity-preserving
    sampler for corpus curation (SemDeDup §5-style topic balance: a
    uniform draw over-represents the head cluster; this caps every
    cluster's contribution). Output: (id, cluster, pick) with pick
    1..per_cluster.

    Scale shape: the kmeans scans (see :func:`kmeans_stats`) plus ONE
    per-cluster top-m window — k partitions, each sorting its members on
    an md5 hash (the classic top-n-per-group shape; salt-split a cluster
    if one ever dominates).
    """
    final = _kmeans_final_assignment(df, id_col, vec_col, k, n_iters)
    h = F.md5(F.concat(F.lit("kbs:"), F.col("__id").cast("string")))
    w = Window.partitionBy("__cluster").orderBy(h.asc(), F.col("__id").asc())
    return (
        final.withColumn("pick", F.row_number().over(w))
        .filter(F.col("pick") <= per_cluster)
        .select(
            F.col("__id").alias(id_col),
            F.col("__cluster").cast("int").alias("cluster"),
            F.col("pick").cast("int").alias("pick"),
        )
    )


def _kmeans_ctes(table: str, id_col: str, vec_col: str, k: int, n_iters: int) -> str:
    """The shared unrolled-trajectory WITH-clause (v, c0, a1, c1, …,
    a{n_iters+1}) behind :func:`kmeans_sql` and :func:`kmeans_sample_sql`."""
    ldp = "list_dot_product"

    def d2(c_tab: str) -> str:
        return (
            f"(({ldp}(v.x, v.x) - 2 * {ldp}(v.x, {c_tab}.c)) "
            f"+ {ldp}({c_tab}.c, {c_tab}.c))"
        )

    def assign_cte(i: int) -> str:
        return f"""
    a{i} AS (
      SELECT id, x, cluster, d2 FROM (
        SELECT v.id, v.x, c{i - 1}.cluster, {d2(f'c{i - 1}')} AS d2,
               ROW_NUMBER() OVER (PARTITION BY v.id
                                  ORDER BY {d2(f'c{i - 1}')} ASC,
                                           c{i - 1}.cluster ASC) AS rn
        FROM v, c{i - 1}
      ) WHERE rn = 1
    )"""

    def update_cte(i: int) -> str:
        return f"""
    c{i} AS (
      SELECT cluster, list(cv ORDER BY pos) AS c FROM (
        SELECT cluster, pos,
               CAST(SUM(CAST(val AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*) AS cv
        FROM (SELECT cluster, generate_subscripts(x, 1) AS pos,
                     UNNEST(x) AS val
              FROM a{i})
        GROUP BY cluster, pos
      ) GROUP BY cluster
    )"""

    body = ""
    for i in range(1, n_iters + 1):
        body += "," + assign_cte(i) + "," + update_cte(i)
    body += "," + assign_cte(n_iters + 1)
    return f"""
    WITH v AS (
      SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS x FROM {table}
    ),
    c0 AS (
      SELECT cluster, x AS c FROM (
        SELECT ROW_NUMBER() OVER (
                 ORDER BY md5('km:' || CAST(id AS VARCHAR)) ASC, id ASC
               ) - 1 AS cluster, x
        FROM v
      ) WHERE cluster < {k}
    ){body}"""


def kmeans_sql(
    table: str,
    id_col: str,
    vec_col: str,
    *,
    k: int = 8,
    n_iters: int = 3,
) -> str:
    """DuckDB twin of :func:`kmeans_stats`: the same seeds, the same
    ``n_iters`` unrolled assignment/update CTE pairs, the same final
    assignment and decimal inertia — bit-for-bit."""
    return f"""{_kmeans_ctes(table, id_col, vec_col, k, n_iters)}
    SELECT CAST(cluster AS INT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(CAST(SUM(CAST(ROUND(d2, 9) AS DECIMAL(28,9))) AS DOUBLE), 6)
             AS inertia
    FROM a{n_iters + 1} GROUP BY cluster
    """


def kmeans_sample_sql(
    table: str,
    id_col: str,
    vec_col: str,
    *,
    k: int = 8,
    n_iters: int = 3,
    per_cluster: int = 5,
) -> str:
    """DuckDB twin of :func:`kmeans_balanced_sample`: same trajectory,
    same md5 per-cluster pick order."""
    return f"""{_kmeans_ctes(table, id_col, vec_col, k, n_iters)}
    SELECT id AS {id_col}, CAST(cluster AS INT) AS cluster,
           CAST(pick AS INT) AS pick
    FROM (
      SELECT id, cluster,
             ROW_NUMBER() OVER (
               PARTITION BY cluster
               ORDER BY md5('kbs:' || CAST(id AS VARCHAR)) ASC, id ASC
             ) AS pick
      FROM a{n_iters + 1}
    ) WHERE pick <= {per_cluster}
    """


def nonself_topk(
    scored: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Drop each query's self-match from a scored top-k frame and re-rank
    the remainder (cosine desc, id asc — the registry-wide tiebreak).
    Needed for retrieval EVAL: when queries are drawn from the corpus,
    the self-hit is a guaranteed rank-1 for every candidate route (it
    shares every LSH bucket / IVF cell / PQ code with itself), so metrics
    computed over self-inclusive lists are inflated toward 1. Pass k+1
    to the variant, then cut back to k here. Query-bounded input — one
    |queries|-keyed window, no corpus cost."""
    f = scored.filter(F.col(corpus_id) != F.col(query_id))
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(corpus_id))
    return (
        f.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def rerank_eval(
    exact: DataFrame,
    approx: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Retrieval-quality scorecard of an ANN route against brute-force
    ground truth — the cross-encoder-free re-rank eval every vector
    pipeline runs before trusting a cheaper index (public convention:
    recall@k as in Jégou et al. 2011; MRR of the true nearest neighbor):

    - ``recall_at_k`` = |approx top-k ∩ exact top-k| / |exact top-k rows|
      (denominator counts actual exact rows, so queries with fewer than
      k neighbors don't deflate the metric);
    - ``mrr`` = mean over queries of 1/rank of the exact #1 neighbor in
      the approx list, 0 when the route missed it entirely.

    Inputs are two (query_id, corpus_id, rank) frames as produced by
    :func:`cosine_topk` and any variant (optionally through
    :func:`nonself_topk`). Everything is |queries|·k-sized: the joins
    and aggregates are metric-bookkeeping, never corpus work — at 100 TB
    the cost lives in producing the top-k frames, not scoring them. The
    MRR mean uses the decimal-sum recipe so the scalar is
    order-insensitive."""
    ex = exact.filter(F.col("rank") <= k).select(query_id, corpus_id, "rank")
    ap = approx.filter(F.col("rank") <= k).select(
        query_id, corpus_id, F.col("rank").alias("__arank")
    )
    totals = ex.agg(
        F.count(F.lit(1)).alias("__n_exact"),
        F.countDistinct(query_id).alias("n_queries"),
    )
    hits = ex.join(ap, [query_id, corpus_id]).agg(
        F.count(F.lit(1)).alias("__n_hit")
    )
    rr = (
        ex.filter(F.col("rank") == 1)
        .select(query_id, corpus_id)
        .join(ap, [query_id, corpus_id], "left")
        .select(
            F.when(F.col("__arank").isNotNull(), 1.0 / F.col("__arank"))
            .otherwise(F.lit(0.0))
            .alias("__rr")
        )
    )
    mrr = rr.agg(
        (
            F.sum(F.round(F.col("__rr"), 9).cast("decimal(28,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mrr")
    )
    return (
        totals.crossJoin(hits)
        .crossJoin(mrr)
        .select(
            F.col("n_queries").cast("long").alias("n_queries"),
            F.lit(k).cast("int").alias("k"),
            (F.col("__n_hit") / F.col("__n_exact")).alias("recall_at_k"),
            F.col("mrr"),
        )
    )


def _pairwise_moments(df: DataFrame, vec_col: str):
    """Shared corpus pass for :func:`dim_correlation_topk` and
    :func:`pca_power_embeddings`: ONE flat upper-triangle product
    explode + integer-lattice sums.

    Returns ``(d, dims, pairs)`` — the fixed dimension (the MAX vector
    length, a deterministic reduction — a first-row probe would be
    order-undefined on a mixed-dimension corpus; rows of any other
    length are dropped, and the oracles filter to the same max length),
    the per-dim moment table (i, __n, __sx, __sxx), and the pair table
    (i, j, n, __sxy) with exact order-insensitive sums. ``d`` is 0 on
    an empty corpus.

    Exactness: per-row products round to 12 dp; the rounded lattice
    values are carried as EXACT int64s (×10¹²) through a per-partition
    integer sum, then merged as DECIMAL(38,0) — order-insensitive and
    engine-stable end to end. The int64 partial is exact while
    rows-per-partition × max|xᵢxⱼ| < 9.2·10⁶ (10¹² units of a 64-bit
    long) — repartition finer for larger-magnitude embeddings. Moments
    round to 9 dp as DECIMAL(28,9).

    Scale shape: the flat array carries d(d−1)/2 plain doubles — no
    per-element structs; the (i,j) key is recovered from the array
    position AFTER aggregation via a d²-row broadcast map. The first
    aggregate groups on (pos, partition), which is partition-local —
    ALL combining happens map-side and the shuffle carries
    O(partitions·d²) longs, never O(rows·d²); everything downstream is
    dimension-sized.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    probe = df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) >= 2)).agg(
        F.max(F.size(vec_col)).alias("d")
    ).first()
    d = 0 if probe is None or probe["d"] is None else int(probe["d"])
    base = (
        df.filter(F.col(vec_col).isNotNull() & (F.size(vec_col) == max(d, 2)))
        .select(v.alias("__v"))
    )
    ex = base.select(F.posexplode("__v").alias("i", "x"))
    dims = ex.groupBy("i").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.round(F.col("x"), 9).cast("decimal(28,9)")).cast("double").alias("__sx"),
        F.sum(F.round(F.col("x") * F.col("x"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("__sxx"),
    )
    vc = F.col("__v")
    # flat upper-triangle products as 1e-12-lattice int64s: round(p, 12)
    # is the exact lattice double, ×1e12 lands within ~1e-4 of the
    # integer, round(·, 0) recovers it exactly
    tri = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(max(d, 2) - 2)),
            lambda i: F.transform(
                F.sequence(i + 1, F.lit(max(d, 2) - 1)),
                lambda j: F.round(
                    F.round(F.element_at(vc, i + 1) * F.element_at(vc, j + 1), 12)
                    * 1e12,
                    0,
                ).cast("long"),
            ),
        )
    )
    # partial sums go straight to DECIMAL(38,0): a raw int64 sum of
    # 1e-12-lattice products wraps SILENTLY with ANSI off once
    # rows-per-partition × max|xi·xj|·1e12 crosses 9.2e18, yielding
    # plausible-but-wrong moments; the decimal sum nulls on (absurd)
    # overflow instead, and map-side combine applies to it the same
    partials = (
        base.select(F.posexplode(tri).alias("pos", "q"))
        .groupBy("pos", F.spark_partition_id().alias("__pid"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum(F.col("q").cast("decimal(38,0)")).alias("__q"),
        )
    )
    agg = partials.groupBy("pos").agg(
        F.sum("__n").cast("long").alias("n"),
        (F.sum("__q").cast("double") / F.lit(1e12)).alias("__sxy"),
    )
    # pos -> (i, j) for the row-major upper triangle: d is in hand, so a
    # LocalRelation beats deriving ids from the corpus-wide dims aggregate
    # (which would evaluate an extra lineage of the moment scan)
    posmap = local_frame(
        df.sparkSession,
        [
            (i * d - i * (i + 1) // 2 + j - i - 1, i, j)
            for i in range(d)
            for j in range(i + 1, d)
        ],
        "pos int, i int, j int",
    )
    pairs = agg.join(F.broadcast(posmap), "pos").drop("pos")
    return d, dims, pairs


def dim_correlation_topk(
    df: DataFrame,
    vec_col: str,
    *,
    top_k: int = 20,
    round_digits: int = 6,
) -> DataFrame:
    """Top-``top_k`` most-correlated embedding DIMENSION pairs — the
    feature-redundancy audit for learned representations (two dimensions
    with |ρ| → 1 carry one dimension of information; the readout that
    motivates PCA/whitening before a similarity index): for every dim
    pair i<j, Pearson ρ and covariance across the corpus.

    Requires a fixed-dimension corpus (see :func:`_pairwise_moments`,
    which carries the exactness and scale arguments for the shared
    corpus pass).

    Returns (dim_i, dim_j, n, covariance, correlation) ordered by
    |ρ| (rounded) desc, ties on (dim_i, dim_j); zero-variance dims yield
    null ρ and sort last. The closing cov/ρ arithmetic is identical
    IEEE doubles on both engines.
    """
    _, dims, pairs = _pairwise_moments(df, vec_col)
    di = dims.select(F.col("i"), F.col("__sx").alias("__sxi"), F.col("__sxx").alias("__sxxi"))
    dj = dims.select(
        F.col("i").alias("j"), F.col("__sx").alias("__sxj"), F.col("__sxx").alias("__sxxj")
    )
    n = F.col("n").cast("double")
    mi, mj = F.col("__sxi") / n, F.col("__sxj") / n
    cov = F.col("__sxy") / n - mi * mj
    var_i = F.col("__sxxi") / n - mi * mi
    var_j = F.col("__sxxj") / n - mj * mj
    corr = F.round(
        F.when((var_i > 0) & (var_j > 0), cov / F.sqrt(var_i * var_j)), round_digits
    )
    return (
        pairs.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            F.col("i").alias("dim_i"),
            F.col("j").alias("dim_j"),
            F.col("n"),
            F.round(cov, round_digits).alias("covariance"),
            corr.alias("correlation"),
        )
        .orderBy(
            F.abs(F.col("correlation")).desc_nulls_last(),
            F.asc("dim_i"),
            F.asc("dim_j"),
        )
        .limit(top_k)
    )


def pca_power_embeddings(
    df: DataFrame,
    vec_col: str,
    *,
    iterations: int = 10,
    round_digits: int = 6,
) -> DataFrame:
    """Top principal component of the embedding corpus via POWER
    ITERATION on the exact covariance matrix — the dimension-reduction
    readout :func:`dim_correlation_topk` motivates: the direction
    carrying the most corpus variance, plus its eigenvalue (the
    variance explained). d rows: (dim, loading, eigenvalue).

    Deterministic and engine-replayable: the corpus pass is
    :func:`_pairwise_moments` (exact covariance — see there for the
    exactness and scale arguments); the iteration starts from the
    uniform unit vector 1/√d and runs a FIXED ``iterations`` count with
    9 dp state quantization — ``u = C·v`` folds as a 12 dp-rounded
    product sum in DECIMAL(38,12) (order-free), the norm as the same
    decimal sum of squares, so an unrolled-CTE oracle reproduces every
    step double-for-double. Loadings leave through a DECIMAL-space
    6 dp round (9 dp-lattice states split double-side rounding on exact
    half-boundaries); the eigenvalue is ‖C·v‖ of the last iterate
    (Rayleigh quotient of a unit vector), non-lattice, plain round.

    Sign is pinned by the deterministic start, not canonicalized — the
    component is defined up to ±1 and both engines walk the same path.

    Scale shape: ONE corpus pass builds the moments (d² values — bounded
    by the embedding DIMENSION, never the row count); the iteration then
    folds ON THE DRIVER over the collected d×d covariance (guide §8:
    decide with small rows — the corpus passes stay distributed, the
    |d|-sized fixed-point loop is bookkeeping). The replay is
    operation-for-operation the arithmetic the former in-plan loop ran
    (pytest-pinned bit-identical in test_similarity.py): plain IEEE
    doubles for the covariance, ``u = C·v`` as an exact DECIMAL sum of
    HALF_UP-12dp-rounded products (``Decimal(repr(x))`` is the same
    shortest-repr decimal as ``BigDecimal.valueOf(double)`` — the
    _rerank_metrics_local discipline), 9 dp state quantization between
    iterations, and the DECIMAL-space 6 dp exit round for loadings.
    """
    if int(iterations) < 1:
        raise ValueError("iterations must be a positive integer")
    import decimal
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.errors import ArithmeticException

    from ..functions import collect_concurrent

    d, dims, pairs = _pairwise_moments(df, vec_col)
    spark = df.sparkSession
    if d == 0:
        return local_frame(spark, [], "dim int, loading double, eigenvalue double")
    # dims (d rows) and pairs (d(d−1)/2 rows) share the corpus scan but
    # not lineage — overlap the two collect jobs; both go through the
    # pin_rows plan-audit hook
    try:
        pinned = collect_concurrent({"dims": lambda: dims, "pairs": lambda: pairs})
    except ArithmeticException as e:
        raise ValueError(
            "pca_power_embeddings: an embedding component is NaN, ±inf or too "
            f"large for the exact moment sums ({str(e).splitlines()[0]})"
        ) from e
    moments = {int(r["i"]): r for r in pinned["dims"]}
    idx = sorted(moments)
    cov: dict = {}
    for r in pinned["pairs"]:
        n = float(r["n"])
        c = r["__sxy"] / n - (moments[int(r["i"])]["__sx"] / n) * (
            moments[int(r["j"])]["__sx"] / n
        )
        cov[(int(r["i"]), int(r["j"]))] = c
        cov[(int(r["j"]), int(r["i"]))] = c
    for i in idx:
        m = moments[i]
        nd = float(m["__n"])
        cov[(i, i)] = m["__sxx"] / nd - (m["__sx"] / nd) * (m["__sx"] / nd)

    # |u_i| ≤ Σ_j |cov_ij| < d·limit keeps every product and square below
    # the 1e38 that a 12 dp quantize at prec 50 can hold
    limit = 1e18 / d
    for (i, j), c in sorted(cov.items()):
        if not abs(c) < limit:
            raise ValueError(
                f"pca_power_embeddings: covariance entry ({i}, {j}) = {c!r} is not "
                f"finite or too large for the driver fold (|c| < {limit:g} at d={d})"
            )

    lat12, lat9 = Decimal("1e-12"), Decimal("1e-9")
    lat_out = Decimal(1).scaleb(-int(round_digits))

    def _round_dbl(x: float, lat: Decimal) -> float:
        # Spark's round(double, n): BigDecimal.valueOf (shortest repr)
        # → setScale(n, HALF_UP) → doubleValue, replayed exactly
        return float(Decimal(repr(x)).quantize(lat, ROUND_HALF_UP))

    def _dec12(x: float) -> Decimal:
        # cast(double as decimal(38,12)): shortest-repr decimal at scale 12
        return Decimal(repr(x)).quantize(lat12, ROUND_HALF_UP)

    # v0 = ROUND(1/SQRT(d), 9) with engine HALF_UP semantics
    v = {i: _round_dbl(1.0 / math.sqrt(d), lat9) for i in idx}
    nrm = 0.0
    # prec 50 > the 38 digits of Spark's decimal(38,12) accumulator, so
    # the exact decimal sums below never silently round at Python's
    # default prec 28 (the in-plan sum nulls on overflow at 38 — any
    # corpus anywhere near that regime fails the equivalence test, not
    # silently here)
    with decimal.localcontext() as ctx:
        ctx.prec = 50
        for _ in range(int(iterations)):
            u = {}
            for i in idx:
                acc = Decimal(0)  # exact decimal sum — order-free
                for j in idx:
                    acc += _dec12(_round_dbl(cov[(i, j)] * v[j], lat12))
                u[i] = float(acc)
            sq = Decimal(0)
            for i in idx:
                sq += _dec12(_round_dbl(u[i] * u[i], lat12))
            nrm = math.sqrt(float(sq))
            v = {i: (_round_dbl(u[i] / nrm, lat9) if nrm > 0 else 0.0) for i in idx}
    eig = _round_dbl(nrm, lat_out)
    out = [
        (
            i,
            # round(cast(v as decimal(28,9)), round_digits) cast double
            float(
                Decimal(repr(v[i]))
                .quantize(lat9, ROUND_HALF_UP)
                .quantize(lat_out, ROUND_HALF_UP)
            ),
            eig,
        )
        for i in idx
    ]
    return local_frame(spark, out, "dim int, loading double, eigenvalue double")
